"""One per-value idiom at the Python boundary: a function handed to
``pandas_udf`` or ``mapInPandas`` outside ``wrangler_spark/udfs.py`` maps
no Series value by value itself (no ``.map(``, and a scalar pandas UDF
walks no argument row by row) — it goes through ``value_udf`` /
``map_values``. And none of the old ``from __future__ import annotations``
workarounds (``globals()["pd"]``, ``f.__annotations__ = ...``) is back."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "wrangler_spark"

# boundary functions that walk their rows themselves on purpose
EXCLUDED = {
    # invoke-http POSTs once per row: a side effect that must not be
    # deduplicated per distinct payload
    ("directives/advanced.py", "call"),
    # parse-as-natural-date's fallback builds a typed datetime64[ns, UTC]
    # series, and parse_natural owns its null case (no guard in the UDF)
    ("directives/parsers.py", "nlp_date"),
}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "udfs.py":
            yield rel, ast.parse(path.read_text(encoding="utf-8"))


def _is_named(func: ast.expr, name: str) -> bool:
    return (isinstance(func, ast.Name) and func.id == name) or (
        isinstance(func, ast.Attribute) and func.attr == name
    )


def _boundary_functions(tree):
    """(kind, FunctionDef) for every function the module hands to
    pandas_udf (call or decorator) or to mapInPandas."""
    defs: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            for dec in node.decorator_list:
                if isinstance(dec, ast.Call) and _is_named(dec.func, "pandas_udf"):
                    yield "pandas_udf", node
        elif isinstance(node, ast.Call) and node.args and isinstance(node.args[0], ast.Name):
            for kind in ("pandas_udf", "mapInPandas"):
                if _is_named(node.func, kind):
                    for fn in defs.get(node.args[0].id, []):
                        yield kind, fn


def _per_value_walks(kind: str, fn: ast.FunctionDef) -> list[str]:
    params = {a.arg for a in fn.args.args + fn.args.posonlyargs}
    found = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "map":
            found.append(f"line {node.lineno}: .map(")
        iters = []
        if isinstance(node, ast.For):
            iters = [node.iter]
        elif isinstance(node, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)):
            iters = [g.iter for g in node.generators]
        if kind == "pandas_udf":
            for it in iters:
                walked = [it] if isinstance(it, ast.Name) else (
                    it.args if isinstance(it, ast.Call) and _is_named(it.func, "zip") else [])
                if any(isinstance(w, ast.Name) and w.id in params for w in walked):
                    found.append(f"line {it.lineno}: a row walk over the arguments")
    return found


def test_boundary_functions_map_no_series_value_by_value():
    offenders, excluded_seen = set(), set()
    for rel, tree in _modules():
        for kind, fn in _boundary_functions(tree):
            walks = _per_value_walks(kind, fn)
            if (rel, fn.name) in EXCLUDED:
                excluded_seen.add((rel, fn.name))
            elif walks:
                offenders.add(f"{rel}:{fn.name} ({kind}): {', '.join(walks)}")
    assert not offenders, "use wrangler_spark.udfs.value_udf / map_values:\n" + "\n".join(sorted(offenders))
    # the exclusions name live sites, not stale ones
    assert excluded_seen == EXCLUDED


def test_no_postponed_annotation_workaround_is_left():
    found = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Call)
                    and _is_named(node.value.func, "globals")):
                found.append(f"{rel}:{node.lineno}: globals()[...]")
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Attribute) and t.attr == "__annotations__" for t in node.targets
            ):
                found.append(f"{rel}:{node.lineno}: .__annotations__ =")
    assert found == []


def test_the_scan_sees_the_old_forms():
    """The scan flags the shapes it exists to keep out."""
    old = ast.parse(
        "@pandas_udf('string')\n"
        "def a(s):\n    return s.map(str)\n"
        "def b(s):\n    return pd.Series([f(v) for v in s])\n"
        "u = pandas_udf(b, 'string')\n"
        "@pandas_udf('double')\n"
        "def c(x, y):\n    return pd.Series([g(p, q) for p, q in zip(x, y)])\n"
        "def run(batches):\n    for pdf in batches:\n        pdf['o'] = pdf['p'].map(f)\n        yield pdf\n"
        "df.mapInPandas(run, schema)\n"
    )
    flagged = {fn.name for kind, fn in _boundary_functions(old) if _per_value_walks(kind, fn)}
    assert flagged == {"a", "b", "c", "run"}
