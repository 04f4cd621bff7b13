"""The measurement tools share one harness, and it mirrors bench.py.

bench.py is the benchmark contract and is not edited, so
``tools/harness.py`` keeps a copy of its session conf; these tests read
bench.py's builder chain with ``ast`` and fail when the two drift.  None
of them starts a SparkSession."""

import ast
import glob
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
sys.path.insert(0, TOOLS)

import ab_pairs  # noqa: E402
import harness  # noqa: E402

ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MEM", "SPARK_GRAFT_BENCH_REPS",
       "SPARK_GRAFT_SF_DIR")


def _bench_main() -> ast.FunctionDef:
    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    return next(n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "main")


def _evaluate(node, names: dict, env: dict):
    """Value of a bench.py expression built from literals, f-strings,
    ``int()``, ``os.environ.get`` and names bound earlier in main()."""
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, ast.Name):
        return _evaluate(names[node.id], names, env)
    if isinstance(node, ast.FormattedValue):
        return str(_evaluate(node.value, names, env))
    if isinstance(node, ast.JoinedStr):
        return "".join(_evaluate(v, names, env) for v in node.values)
    if isinstance(node, ast.Call):
        fn = ast.unparse(node.func)
        args = [_evaluate(a, names, env) for a in node.args]
        if fn == "os.environ.get":
            return env.get(*args)
        if fn == "int":
            return int(*args)
    raise AssertionError(f"bench.py: cannot evaluate {ast.unparse(node)}")


def _bench_settings(env: dict) -> tuple[dict, dict]:
    """bench.py's (session conf, simple variables) under ``env``."""
    main = _bench_main()
    names = {t.id: n.value for n in ast.walk(main)
             if isinstance(n, ast.Assign)
             for t in n.targets if isinstance(t, ast.Name)}
    chain = names["spark"]
    conf = {}
    while isinstance(chain, ast.Call):
        method = chain.func.attr
        args = [_evaluate(a, names, env) for a in chain.args]
        if method == "master":
            conf["spark.master"] = args[0]
        elif method == "config":
            conf[args[0]] = str(args[1])
        chain = chain.func.value
    assert ast.unparse(chain) == "SparkSession.builder"
    simple = {k: _evaluate(names[k], names, env)
              for k in ("cpus", "reps", "sf_dir")}
    return conf, simple


@pytest.mark.parametrize("env", [
    {},
    {"SPARK_GRAFT_CPUS": "7", "SPARK_GRAFT_MEM": "3g",
     "SPARK_GRAFT_BENCH_REPS": "5", "SPARK_GRAFT_SF_DIR": "/data/sfx"},
], ids=["defaults", "overridden"])
def test_harness_conf_equals_bench(env, monkeypatch):
    for k in ENV:
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    conf, simple = _bench_settings(env)
    assert harness.conf() == conf
    assert str(harness.cpus()) == simple["cpus"]
    assert harness.reps() == simple["reps"]
    assert harness.sf_dir() == simple["sf_dir"]


def test_only_harness_builds_a_session():
    builders = []
    for path in sorted(glob.glob(os.path.join(TOOLS, "*.py"))):
        if os.path.basename(path) == "harness.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        builders += [f"{os.path.basename(path)}:{n.lineno}"
                     for n in ast.walk(tree)
                     if isinstance(n, ast.Attribute) and n.attr == "builder"]
    assert builders == []


PARENT = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]


def test_ab_verdict_gain_needs_nine_of_ten_and_gap_over_iqr():
    assert ab_pairs.verdict(PARENT, [x - 1 for x in PARENT], 0.25) == "gain"
    # 8 of 10 pairs won: no gain, however wide the median gap
    eight = [x - 1 for x in PARENT[:8]] + [x + 1 for x in PARENT[8:]]
    assert ab_pairs.pairs_won(PARENT, eight, "lower") == 8
    assert ab_pairs.verdict(PARENT, eight, 0.25) == "parity"
    # 10 of 10 won by less than the parent's IQR: no gain
    assert ab_pairs.verdict(PARENT, [x - 0.01 for x in PARENT],
                            0.25) == "parity"
    # "better" is honoured: higher-is-better flips the sides
    assert ab_pairs.verdict(PARENT, [x + 1 for x in PARENT], 0.25,
                            "higher") == "gain"


def test_ab_verdict_regression_beyond_bound():
    assert ab_pairs.verdict(PARENT, [13.0] * 10, 0.25) == "regression"
    assert ab_pairs.verdict(PARENT, [12.0] * 10, 0.25) == "parity"


def test_ab_verdict_wide_spread_is_unresolved():
    wide = [5.0, 15.0, 5.0, 15.0, 10.0, 10.0, 5.0, 15.0, 10.0, 10.0]
    assert ab_pairs.verdict(PARENT, wide, 0.25) == "unresolved"
    assert ab_pairs.verdict(wide, PARENT, 0.25) == "unresolved"
