"""``session.local_frame``: driver rows as an Arrow-built LocalRelation.

Boundary cases check it against ``createDataFrame(<list>)`` row for row; the
AST guard keeps the package from building a driver table the other way,
which plans a Python RDD that every job over the table runs again."""

import ast
import importlib
import inspect
import pathlib

import pytest

import s2_geometry_library_java_spark as pkg
from s2_geometry_library_java_spark.session import local_frame

_IDS = "polygon_id string, cell_id bigint, level int"
# a face-4 and a face-5 cell id: Spark's LongType holds the raw bit pattern
FACE4 = ((4 << 61) | (1 << 60)) - (1 << 64)
FACE5 = ((5 << 61) | (1 << 60)) - (1 << 64)

CASES = {
    "empty": ([], _IDS),
    "cell_ids": (
        [("f4", FACE4, 0), ("f5", FACE5, 0), ("min", -(2**63), 30), ("max", 2**63 - 1, 30)],
        _IDS,
    ),
    "text": ([("it's", 1, 1), ("back\\slash", 2, 2), ("Zürich 東京 ☃", 3, 3), ("", 4, 4)], _IDS),
    "nulls": ([(None, None, None), ("x", 1, None)], _IDS),
    "arrays": (
        [(1, [0.5, -0.0, 1e-300]), (2, []), (3, None)],
        "query_id long, qvec array<double>",
    ),
    "flags": (
        [(0, "p", True), (2**31 - 1, "q", False), (-(2**31), "r", None)],
        "_seg int, polygon_id string, is_interior boolean",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_data_frame(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_local_frame_keeps_nullability(spark):
    from s2_geometry_library_java_spark.operators.covering import COVERING_SCHEMA

    df = local_frame(spark, [], COVERING_SCHEMA)
    assert df.schema == COVERING_SCHEMA and df.count() == 0
    with pytest.raises(ValueError, match="polygon_id"):
        local_frame(spark, [(None, 1, 2, 3, 4, True)], COVERING_SCHEMA)


@pytest.mark.parametrize("value", [2**31, -(2**31) - 1])
def test_local_frame_rejects_int32_overflow(spark, value):
    # an int column must raise, not wrap to a different cell or segment
    with pytest.raises(ValueError):
        local_frame(spark, [(value,)], "v int")


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="3 fields"):
        local_frame(spark, [("a", 1, 2), ("b", 1)], _IDS)


@pytest.mark.parametrize(
    "kwargs",
    [{"n_rows": 8_000_000}, {}, {"broadcast_cells": False}],
    ids=["range", "stab", "prefix"],
)
def test_pip_join_empty_covering(spark, sf_dir, kwargs, monkeypatch):
    from __spark_entry__ import RECT_LAYERS
    from s2_geometry_library_java_spark.operators.layers import rect_layer
    from s2_geometry_library_java_spark.sources.tables import geotagged_points

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    pip_join = pj.pip_join
    if not kwargs:
        # an empty covering is under every range budget: move the breakeven
        # so that the cost model takes the stab arm
        monkeypatch.setattr(pj, "RANGE_BREAKEVEN_CELLS", -1)
    points = geotagged_points(spark, sf_dir)
    # lat_lo > lat_hi: an empty rect, whose covering has no cell
    empty = [rect_layer("none", 10.0, 0.0, -10.0, 5.0)]
    df = pip_join(points, empty, **kwargs)
    assert df.columns == pip_join(points, RECT_LAYERS, **kwargs).columns
    assert df.count() == 0


# ---------------------------------------------------------------------------
# Guard: no driver list reaches createDataFrame outside local_frame
# ---------------------------------------------------------------------------
def _columnar(node: ast.expr, assigned: dict[str, list[ast.expr]]) -> bool:
    """A ``pd.DataFrame(...)`` call, or a name bound only to one: columnar
    data that Spark converts through Arrow, with no Python RDD."""
    if isinstance(node, ast.Call):
        return isinstance(node.func, ast.Attribute) and node.func.attr == "DataFrame"
    if isinstance(node, ast.Name) and assigned.get(node.id):
        return all(_columnar(v, {}) for v in assigned[node.id])
    return False


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside the functions nested in it."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack.extend(ast.iter_child_nodes(n))


def row_fed_calls(source: str) -> list[int]:
    """Lines of ``createDataFrame`` calls, outside ``local_frame``, whose data
    is not a pandas frame built in the same scope: a list, tuple,
    comprehension, or a name the check cannot show to be a pandas frame."""
    tree = ast.parse(source)
    scopes = [tree] + [
        fn
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn.name != "local_frame"
    ]
    bad = []
    for scope in scopes:
        nodes = list(_own_nodes(scope))
        assigned: dict[str, list[ast.expr]] = {}
        for n in nodes:
            if isinstance(n, ast.Assign):
                for t in n.targets:
                    if isinstance(t, ast.Name):
                        assigned.setdefault(t.id, []).append(n.value)
        for n in nodes:
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ):
                continue
            data = n.args[0] if n.args else next((k.value for k in n.keywords if k.arg == "data"), None)
            if data is None or not _columnar(data, assigned):
                bad.append(n.lineno)
    return sorted(bad)


def test_guard_flags_driver_lists():
    assert row_fed_calls("def f(s, r):\n    return s.createDataFrame([(1,)], 'a int')\n") == [2]
    assert row_fed_calls("def f(s, r):\n    return s.createDataFrame([x for x in r], 'a int')\n") == [2]
    assert row_fed_calls("def f(s, r):\n    rows = [(1,)]\n    return s.createDataFrame(rows, 'a int')\n") == [3]
    assert row_fed_calls("def f(s, r):\n    return s.createDataFrame(data=tuple(r))\n") == [2]
    assert row_fed_calls("def f(s, r):\n    pdf = pd.DataFrame(r)\n    return s.createDataFrame(pdf)\n") == []
    assert row_fed_calls("def local_frame(s, r):\n    return s.createDataFrame(r)\n") == []
    assert row_fed_calls("df = spark.createDataFrame([(1,)], 'a int')\n") == [1]
    # a nested function is its own scope: the outer pandas frame does not
    # vouch for the inner list of the same name
    nested = "def f(s):\n    pdf = pd.DataFrame()\n    def g():\n        pdf = [1]\n        return s.createDataFrame(pdf)\n"
    assert row_fed_calls(nested) == [5]


def test_package_builds_no_row_fed_tables():
    root = pathlib.Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): lines
        for p in sorted(root.rglob("*.py"))
        if (lines := row_fed_calls(p.read_text()))
    }
    assert found == {}, f"createDataFrame fed driver rows; use session.local_frame: {found}"


# ---------------------------------------------------------------------------
# Guard: every pip_join call outside tier-1 passes only its parameters
# ---------------------------------------------------------------------------
def unknown_keywords(source: str, name: str, params) -> list[tuple[int, str]]:
    """(line, keyword) of each ``name(...)`` call keyword not in ``params``."""
    bad = []
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Call):
            f = n.func
            if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == name:
                bad += [(n.lineno, k.arg) for k in n.keywords if k.arg and k.arg not in params]
    return bad


def test_keyword_guard_flags_unknown_keywords():
    src = "pip_join(p, l, n_rows=1)\npj.pip_join(p, l, salt=4, **kw)\n"
    assert unknown_keywords(src, "pip_join", {"n_rows"}) == [(2, "salt")]


def test_pip_join_call_sites_pass_known_keywords():
    # bench.py and scripts/ run only when someone runs them, so a keyword
    # pip_join no longer takes would otherwise fail there first
    from s2_geometry_library_java_spark.operators.pip_join import pip_join

    params = inspect.signature(pip_join).parameters
    repo = pathlib.Path(pkg.__file__).parent.parent
    files = [
        *pathlib.Path(pkg.__file__).parent.rglob("*.py"),
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *(repo / "scripts").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
    ]
    found = {
        str(p.relative_to(repo)): bad
        for p in sorted(files)
        if (bad := unknown_keywords(p.read_text(), "pip_join", params))
    }
    assert found == {}, f"pip_join calls with keywords it does not take: {found}"
