"""Every public package function has a caller outside the tests.

A function is live when a registry query, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` or ``scripts/`` reaches it through name
references (AST ``Name`` and ``Attribute`` nodes, imports excluded),
directly or through other live functions.  Module-level code and
decorated functions (the ``@_q`` registry entries) are live roots.
Names are matched without their module, so a name defined twice is
live when either definition is referenced.

Functions that only tests call are allowed only on ``KEEP``, each with
its reason.  A ``KEEP`` entry must name an existing function that
nothing else reaches, so the list cannot go stale.

No package module imports a name it never uses.

A memo earns its registry entry: every ``pin``/``_cached_canon`` call
is reached by at least two registry queries.  No package code calls
``.persist()``; a frame read several times within one call takes a
``localCheckpoint``, which leaves nothing in Spark's CacheManager.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "flinkecuserbehavioranalysis_spark"
NON_TEST_CALLERS = ("__spark_entry__.py", "bench.py", "perfbench", "scripts")

KEEP = {
    "streaming_interval_join": "SURVEY J1: stream-stream interval join",
    "streaming_uv_update": "SURVEY W7: update-mode running UV",
    "streaming_topn_foreach_batch": "SURVEY K1: per-window top-N foreachBatch sink",
    "foreach_batch_upsert": "SURVEY S6: the Redis-style keyed store sink",
    "read_csv_events": "SURVEY S2: CSV line parser",
    "read_apache_log": "SURVEY S2: apache.log parser",
    "marketing_behavior_stream": "SURVEY S3: generator source",
    "read_kafka_stream": "SURVEY S4: Kafka source",
    "encode_json_value": "SURVEY S4: Kafka sink value encoding",
    "windowed_quantiles": "SURVEY §2.10: ProcessWindowFunction surface, "
    "test reference twin of windowed_value_quantiles",
    "salted_join": "SURVEY §4 skew handling: skew-resistant join",
    "pattern_pairs_not_between": "SURVEY F4: batch CEP mid-pattern negation",
    "pattern_not_followed_by": "test reference twin of streaming_not_followed_by",
    "pattern_sequence_optional": "test reference twin of match_pattern_stream",
    "apply_merges": "test reference twin of bpe_train_curve's segmentation",
    "log2_q12_py": "test reference twin of the log2 fold",
    "run_bounded": "harness: runs a streaming twin to completion",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _py_files(rel: str):
    path = ROOT / rel
    if path.is_file():
        yield path
        return
    for f in sorted(path.rglob("*.py")):
        if "tests" not in f.relative_to(path).parts:
            yield f


def scan(keep=KEEP) -> tuple[dict[str, list[str]], set[str]]:
    """(defs, live): every undecorated top-level package function as
    name -> ["path:line", ...], and the names reachable from the
    non-test roots plus *keep*."""
    bodies: dict[str, list[ast.AST]] = {}
    defs: dict[str, list[str]] = {}
    roots: set[str] = set(keep)
    for f in _py_files(PACKAGE):
        for node in ast.parse(f.read_text()).body:
            plain = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if plain and not node.decorator_list:
                bodies.setdefault(node.name, []).append(node)
                defs.setdefault(node.name, []).append(f"{f.relative_to(ROOT)}:{node.lineno}")
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node)
    for rel in NON_TEST_CALLERS:
        for f in _py_files(rel):
            roots |= _names(ast.parse(f.read_text()))
    return defs, _reach(bodies, roots)


def _reach(bodies: dict[str, list[ast.AST]], roots) -> set[str]:
    """The names in *bodies* reachable from *roots* by name reference."""
    live: set[str] = set()
    todo = [n for n in roots if n in bodies]
    while todo:
        name = todo.pop()
        if name not in live:
            live.add(name)
            for body in bodies[name]:
                todo.extend(n for n in _names(body) if n in bodies and n not in live)
    return live


def test_every_public_function_has_a_non_test_caller():
    defs, live = scan()
    dead = sorted(
        f"{loc} {name}"
        for name, locs in defs.items()
        if not name.startswith("_") and name not in live
        for loc in locs
    )
    assert not dead, "public functions with no caller outside the tests:\n" + "\n".join(dead)


def test_keep_list_names_only_otherwise_dead_functions():
    defs, _ = scan()
    missing = sorted(set(KEEP) - set(defs))
    assert not missing, f"KEEP names functions that no longer exist: {missing}"
    _, live = scan(keep=())
    stale = sorted(set(KEEP) & live)
    assert not stale, f"KEEP names functions that non-test code already calls: {stale}"


def test_no_unused_imports():
    """Every name a package module imports appears as a name somewhere
    in that module; ``__init__.py`` re-exports are exempt."""
    unused = []
    for f in _py_files(PACKAGE):
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = (alias.asname or alias.name).split(".")[0]
                    if name != "*" and name not in used:
                        unused.append(f"{f.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unused, "unused imports:\n" + "\n".join(unused)


def _called(call: ast.Call) -> str | None:
    fn = call.func
    return fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)


def memo_sites() -> list[tuple[str, str, list[str]]]:
    """(function, "path:line", consumers) for every ``pin`` or
    ``_cached_canon`` call in a top-level package function; consumers
    are the registry queries whose function reaches it by name."""
    bodies: dict[str, list[ast.AST]] = {}
    queries: dict[str, str] = {}
    calls = []
    for f in _py_files(PACKAGE):
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            bodies.setdefault(node.name, []).append(node)
            for d in node.decorator_list:
                if isinstance(d, ast.Call) and _called(d) == "_q":
                    queries[d.args[0].value] = node.name
            if node.name == "_cached_canon":  # the memo wrapper itself
                continue
            for c in ast.walk(node):
                if isinstance(c, ast.Call) and _called(c) in ("pin", "_cached_canon"):
                    calls.append((node.name, f"{f.relative_to(ROOT)}:{c.lineno}"))
    reach = {query: _reach(bodies, [fn]) for query, fn in queries.items()}
    return [
        (fn, loc, sorted(q for q, live in reach.items() if fn in live))
        for fn, loc in calls
    ]


def test_every_memo_has_two_registry_consumers():
    lonely = sorted(
        f"{loc} {fn} <- {consumers}" for fn, loc, consumers in memo_sites() if len(consumers) < 2
    )
    assert not lonely, "memos with fewer than two registry consumers:\n" + "\n".join(lonely)


def test_no_persist_in_package():
    found = [
        f"{f.relative_to(ROOT)}:{n.lineno}"
        for f in _py_files(PACKAGE)
        for n in ast.walk(ast.parse(f.read_text()))
        if isinstance(n, ast.Call) and _called(n) == "persist"
    ]
    assert not found, "persist() calls in package code:\n" + "\n".join(found)
