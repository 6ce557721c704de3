"""The driver records the LAST 2000 characters of bench.py's stdout and
parses the JSON line it finds there (BENCH_r08.json: `tail` length exactly
2000, starting mid-line → parsed:null). These tests pin the output
contract so the headline metric is never lost to truncation again:
compact_line() must stay under LINE_BUDGET (1900 = 2000 − margin) for any
query-map size, stay valid JSON, and always carry the headline value +
streaming numbers."""

import json

import bench


def test_headline_line_under_budget_real_shape():
    # 86 realistic query names (the r8 HEADLINE list) with plausible values
    timings = {name: 0.25 + (i % 17) * 0.37 for i, name in enumerate(bench.HEADLINE)}
    line = bench.compact_line(96.04, timings, 8.292, 6.613, 0.1)
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total_wall"
    assert d["value"] == 96.04
    assert d["streaming_minutely_batch"] == 8.292
    assert d["streaming_tile_batch"] == 6.613
    assert d["sf"] == 0.1
    # greedy fill: included + omitted == total, and the included entries
    # are the most expensive ones (the round-over-round perf signal)
    assert len(d["queries"]) + d["queries_omitted"] == len(timings)
    if d["queries_omitted"]:
        included_min = min(d["queries"].values())
        omitted = {k: v for k, v in timings.items() if k not in d["queries"]}
        assert max(omitted.values()) <= included_min + 0.005


def test_headline_line_under_budget_adversarial_sizes():
    for n in (0, 1, 86, 500):
        timings = {f"query_with_a_really_long_name_{i:05d}": 123.456 for i in range(n)}
        line = bench.compact_line(9.9, timings, 1.0, 1.0, 0.01)
        assert len(line) <= bench.LINE_BUDGET, n
        d = json.loads(line)
        assert d["value"] == 9.9
        assert len(d["queries"]) + d["queries_omitted"] == n


def test_budget_leaves_margin_under_driver_capture_window():
    # the driver window is 2000; the budget must leave real margin for a
    # trailing newline / stray log bleed
    assert bench.LINE_BUDGET <= 1900


def test_headline_names_resolve_in_registry():
    """bench.py indexes the registry by HEADLINE name at run time — a
    renamed or removed query would KeyError in the driver's bench run,
    which surfaces as a parsed:null round. Also reject duplicates (a
    duplicate entry double-counts its median in the headline total)."""
    from osmesa_spark import queries as Q

    reg = Q.registry()
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    dupes = {n for n in bench.HEADLINE if bench.HEADLINE.count(n) > 1}
    assert not dupes, f"duplicate HEADLINE entries: {dupes}"


# ---------------------------------------------------------------------------
# the traced benchmark reaches into the package by name: keep those names
# ---------------------------------------------------------------------------

def _own_nodes(scope):
    """The nodes of `scope`, not descending into nested functions."""
    import ast

    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack.extend(ast.iter_child_nodes(node))


def _resolve(module: str, attrs: list[str]):
    """Import `module`, then read `attrs` off it one by one (a missing
    attribute may still be a submodule: `from pkg import mod`)."""
    import importlib

    obj = importlib.import_module(module)
    for i, a in enumerate(attrs):
        if not hasattr(obj, a):
            importlib.import_module(".".join([module, *attrs[: i + 1]]))
        obj = getattr(obj, a)
    return obj


BENCH_SOURCES = ("perfbench/workloads.py", "bench.py")


def _scopes(path):
    """(scope node, names) for every scope of the source file `path`:
    `names` maps each name its imports bind to (module to load, module to
    start from, attributes); a function sees its own imports and those of
    every enclosing scope."""
    import ast

    def visit(scope, names):
        names = dict(names)
        for node in _own_nodes(scope):
            if isinstance(node, ast.Import):
                for a in node.names:  # `import a.b` binds `a`, `a.b` loaded
                    top = a.name if a.asname else a.name.split(".")[0]
                    names[a.asname or top] = (a.name, top, [])
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                for a in node.names:
                    names[a.asname or a.name] = (node.module, node.module, [a.name])
        yield scope, names
        for node in _own_nodes(scope):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(node, names)

    yield from visit(ast.parse(path.read_text(), str(path)), {})


def _get(names, name, attrs=()):
    import importlib

    load, base, chain = names[name]
    importlib.import_module(load)
    return _resolve(base, [*chain, *attrs])


def _package_name(names, node) -> bool:
    import ast

    return isinstance(node, ast.Name) and names.get(
        node.id, ("",)
    )[0].startswith("osmesa_spark")


def _bench_paths():
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    return [root / p for p in BENCH_SOURCES]


def test_traced_benchmark_names_resolve():
    """Every `_patch(owner, "name", …)` target of the benchmark resolves,
    and so does every name it imports from `osmesa_spark` and every
    attribute it reads off one: a rename in the package cannot silently
    break the traced run. The names come from the benchmark's source
    (`perfbench/workloads.py`, `bench.py`), parsed, never imported."""
    import ast

    missing, checked = [], {"_patch": 0, "attr": 0}
    for path in _bench_paths():
        for scope, names in _scopes(path):
            for node in _own_nodes(scope):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                        and node.func.id == "_patch"):
                    owner, chain = node.args[0], []
                    while isinstance(owner, ast.Attribute):
                        chain.insert(0, owner.attr)
                        owner = owner.value
                    checked["_patch"] += 1
                    if not hasattr(_get(names, owner.id, chain), node.args[1].value):
                        missing.append(f"{path.name}:{node.lineno} _patch {node.args[1].value}")
                elif isinstance(node, ast.Attribute) and _package_name(names, node.value):
                    checked["attr"] += 1
                    try:
                        _get(names, node.value.id, [node.attr])
                    except (ImportError, AttributeError):
                        missing.append(f"{path.name}:{node.lineno} {node.value.id}.{node.attr}")
            for name, (module, *_) in names.items():
                if module.startswith("osmesa_spark"):
                    try:
                        _get(names, name)
                    except (ImportError, AttributeError):
                        missing.append(f"{path.name}: import {name} from {module}")
    assert checked["_patch"] and checked["attr"], checked
    assert not missing, sorted(set(missing))


def test_benchmark_calls_bind_to_package_signatures():
    """Every call the benchmark makes into `osmesa_spark` — `f(...)` on an
    imported name, `mod.f(...)` on an imported module — binds to the
    target's signature: as many positional arguments, and keyword names it
    accepts. A runner signature change fails here, not in the benchmark."""
    import ast
    import inspect

    bad, checked = [], 0
    for path in _bench_paths():
        for scope, names in _scopes(path):
            for node in _own_nodes(scope):
                if not isinstance(node, ast.Call):
                    continue
                func, chain = node.func, []
                while isinstance(func, ast.Attribute):
                    chain.insert(0, func.attr)
                    func = func.value
                if not _package_name(names, func) or any(
                    isinstance(a, ast.Starred) for a in node.args
                ) or any(k.arg is None for k in node.keywords):
                    continue
                try:  # an unresolvable name fails the test above
                    target = _get(names, func.id, chain)
                    sig = inspect.signature(target)
                except (ImportError, AttributeError, TypeError, ValueError):
                    continue
                checked += 1
                try:
                    sig.bind(*node.args, **{k.arg: None for k in node.keywords})
                except TypeError as e:
                    bad.append(f"{path.name}:{node.lineno} {ast.unparse(node.func)}: {e}")
    assert checked, "no call into osmesa_spark found"
    assert not bad, bad
