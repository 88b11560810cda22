"""The query registry — the correctness contract.

Every operator from SURVEY.md §2 registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, when the semantics
are ANSI-SQL-expressible, the equivalent DuckDB oracle SQL. The driver
(and our local self-check in tests/) runs both sides at sf0.01 and
compares row-count + schema + order-insensitive value hash.

Rules every registered query follows (SURVEY.md §4.4):
  * every computed column is aliased IDENTICALLY on both sides;
  * every floating aggregate is rounded IDENTICALLY on both sides
    (makes the hash deterministic across engines/partitionings);
  * every LIMIT/top-k has a unique tie-break sort key;
  * no ``dropDuplicates`` in hash-checked paths (nondeterministic keeper);
  * timestamps are naive (timestamp_ntz / DuckDB TIMESTAMP) at µs precision.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    key: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(key: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query under ``key`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        REGISTRY[key] = Query(key=key, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import all operator modules (side effect: registration) and return REGISTRY."""
    import bangdatapipeline_spark.operators  # noqa: F401

    return REGISTRY


_PKG = "bangdatapipeline_spark"


def _code_names(code) -> set[str]:
    """All global/free names referenced by a code object, including
    inside nested lambdas/comprehensions (their code rides in co_consts)."""
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        names.update(c.co_freevars)
        for const in c.co_consts:
            if hasattr(const, "co_names"):
                stack.append(const)
    return names


_SCALARS = (bool, int, float, str, bytes, type(None))
_CONST_TYPES = (*_SCALARS[:-1], tuple, frozenset, list, dict, set)


def _is_simple(v, depth: int = 0) -> bool:
    """True iff ``v`` is scalars/containers-of-scalars all the way down —
    the only values whose repr is a pure function of source. Containers
    holding functions/DataFrames/etc. (e.g. the REGISTRY dict, runtime
    memo caches) repr with memory addresses or runtime state and must
    never enter the fingerprint by value."""
    if depth > 4:
        return False
    if isinstance(v, _SCALARS):
        return True
    if isinstance(v, (tuple, list, set, frozenset)):
        return all(_is_simple(x, depth + 1) for x in v)
    if isinstance(v, dict):
        return all(
            _is_simple(k, depth + 1) and _is_simple(x, depth + 1)
            for k, x in v.items()
        )
    return False


def _const_repr(v) -> str:
    """Deterministic repr for a simple constant. set/frozenset iterate in
    hash order, which varies ACROSS PROCESSES under str-hash
    randomization — reprs are sorted so the fingerprint is stable between
    the refresh subprocess and the live session. dict/list/tuple reprs
    are already insertion-order deterministic."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(map(repr, v))) + "}"
    return repr(v)


_MODULE_ASSIGNS: dict[str, dict[str, str]] = {}


def _module_assignments(mod) -> dict[str, str]:
    """{name: module-level assignment source text}, ast-derived and
    memoized per module. Used to fingerprint MUTABLE containers (and any
    container holding non-simple values) by the SOURCE that defines them
    — a runtime-mutated memo cache keeps a stable ``_x_cache = {}``
    fingerprint no matter what it holds, while editing a constant's
    literal changes the text."""
    import ast
    import inspect

    key = getattr(mod, "__name__", repr(mod))
    if key in _MODULE_ASSIGNS:
        return _MODULE_ASSIGNS[key]
    out: dict[str, str] = {}
    try:
        src = inspect.getsource(mod)
        for node in ast.parse(src).body:
            if isinstance(node, ast.Assign):
                targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                targets = [node.target.id]
            else:
                continue
            seg = ast.get_source_segment(src, node) or ""
            for t in targets:
                out[t] = seg
    except (OSError, TypeError, SyntaxError):
        pass
    _MODULE_ASSIGNS[key] = out
    return out


def _walk_fingerprint(fn, seen: set[str], parts: list[str]) -> None:
    """DFS over ``fn`` and every IN-PACKAGE function/class/constant it
    references by name (directly or via an in-package module alias),
    appending each one's source (or ``name=repr`` for simple constants)
    to ``parts``. Deterministic: sorted name iteration + a seen-set."""
    import inspect

    # a functools.wraps wrapper (caches.memo) carries the wrapped
    # function's ident but its own code and globals: walk the real one.
    fn = inspect.unwrap(fn)
    ident = f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', '?')}"
    if ident in seen:
        return
    seen.add(ident)
    try:
        parts.append(inspect.getsource(fn))
    except (OSError, TypeError):  # builtins / REPL-defined: fall back
        parts.append(repr(fn))
        return
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    # default argument values bind at def time (``bits=_Z_BITS`` stores 8,
    # not the name), so capture simple-constant defaults by value.
    # def-time-bound defaults: by value for immutable simple values only
    # (mutable defaults are runtime state; none exist in this package)
    for d in getattr(fn, "__defaults__", None) or ():
        if isinstance(d, (*_SCALARS[:-1], tuple, frozenset)) and _is_simple(d):
            parts.append(f"default={_const_repr(d)}")
    kwd = getattr(fn, "__kwdefaults__", None) or {}
    for k in sorted(kwd):
        if isinstance(kwd[k], (*_SCALARS[:-1], tuple, frozenset)) and _is_simple(kwd[k]):
            parts.append(f"default:{k}={_const_repr(kwd[k])}")
    names = _code_names(code)
    g = getattr(fn, "__globals__", {})
    closure = dict(zip(code.co_freevars, getattr(fn, "__closure__", None) or ()))
    # attribute access through an in-package module alias (``mod.helper``)
    # puts both the alias and the attr in co_names — search those
    # modules' namespaces too.
    import sys as _sys

    mod_objs = []
    own_mod = _sys.modules.get(getattr(fn, "__module__", None) or "")
    if own_mod is not None:
        mod_objs.append(own_mod)
    namespaces = [g]
    for n in sorted(names):
        v = g.get(n)
        if inspect.ismodule(v) and (getattr(v, "__name__", "") or "").startswith(_PKG):
            namespaces.append(vars(v))
            mod_objs.append(v)
    resolved = {}
    for n in names:
        if n in closure:
            try:
                resolved[n] = closure[n].cell_contents
            except ValueError:
                pass
            continue
        for ns in namespaces:
            if n in ns:
                resolved[n] = ns[n]
                break
    for n in sorted(resolved):
        v = resolved[n]
        if inspect.isfunction(v) and (getattr(v, "__module__", "") or "").startswith(_PKG):
            _walk_fingerprint(v, seen, parts)
        elif inspect.isclass(v) and (getattr(v, "__module__", "") or "").startswith(_PKG):
            cident = f"{v.__module__}.{v.__qualname__}"
            if cident not in seen:
                seen.add(cident)
                try:
                    parts.append(inspect.getsource(v))
                except (OSError, TypeError):
                    parts.append(repr(v))
        elif isinstance(v, _CONST_TYPES):
            if isinstance(v, (*_SCALARS[:-1], tuple, frozenset)) and _is_simple(v):
                # immutable + simple: the value IS the source-level constant
                parts.append(f"{n}={_const_repr(v)}")
            else:
                # mutable (list/dict/set) or holding non-simple values
                # (REGISTRY, memo caches): fingerprint by the module-level
                # ASSIGNMENT SOURCE — stable under runtime mutation, moves
                # when the defining literal is edited. Unresolvable names
                # (built dynamically) are skipped.
                for m in mod_objs:
                    seg = _module_assignments(m).get(n)
                    if seg is not None:
                        parts.append(f"{n}:={seg}")
                        break


def fingerprint_material(q: Query) -> str:
    """The exact text ``query_hash`` digests — exposed so tests can pin
    that helper sources and constants are actually inside it."""
    parts: list[str] = []
    _walk_fingerprint(q.fn, set(), parts)
    return "\n".join(parts) + (q.oracle or "")


def query_hash(q: Query) -> str:
    """Evidence fingerprint for a registered query: md5 of the Spark
    function's source text, the source of every in-package helper it
    (transitively) references, every module-level constant it reads —
    immutable simple values by sorted repr, mutable/non-simple containers
    by their ASSIGNMENT SOURCE text (so runtime memo mutation and
    function-holding dicts like REGISTRY can't drift or leak addresses) —
    and its oracle SQL. Purely source-derived: stable across processes
    and across query executions within a session.

    Green CORRECTNESS evidence is only evidence FOR THE CODE THAT RAN —
    a key rewritten after its last green round must re-verify, which the
    age-based rotation alone cannot see (VERDICT r8: three r8 rewrites
    shipped on pre-rewrite evidence). The sweep harness records this
    fingerprint with each green result (scripts/green_hashes.json);
    ``__spark_entry__`` drops any key whose CURRENT fingerprint differs
    from its last-green one into the re-verify tier.

    r10 (ADVICE): the fingerprint now walks ``fn.__globals__`` for
    transitively-called in-package callees (functions, classes, module
    aliases, simple constants), closing the r9 blind spot where moving a
    kernel into a shared helper froze its consumers' fingerprints. A
    formula change invalidates recorded hashes by construction, so
    ``scripts/refresh_green_hashes.py`` applies THIS live formula to the
    evidence commit's source (see its docstring) — never an inlined copy.
    """
    import hashlib

    return hashlib.md5(fingerprint_material(q).encode()).hexdigest()
