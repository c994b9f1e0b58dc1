"""The integer-exact moments contract (``wrangler_spark/datapipe/_moments.py``).

Series at 1e12 carry ~1e18 micro-units a cell, so nine of them sum past
a long's ~9.2e18: a statistic that sums micro-units in ``long`` wraps to
a wrong number with ANSI off and raises ARITHMETIC_OVERFLOW with it on.
On the helper every such sum runs in decimal(38,0) and the results
match Python's, in both modes: the series ops, mean imputation, and
resample's and user_period_metrics' value sums. The structure test keeps the contract in
the one helper: no hand-rolled copy of it comes back in ``numeric.py``
or ``events.py``."""

import ast
import statistics
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from wrangler_spark.datapipe import events, numeric

VALUES = [1.0e12 + i * 1.25e10 for i in range(9)]  # true mean 1.05e12
MEAN = statistics.fmean(VALUES)


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def series(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(VALUES)],
        "key string, bucket long, v double")
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _rows(df):
    return sorted(df.collect(), key=lambda r: r["bucket"])


def test_rolling_stats_means_match_python(series):
    rows = _rows(events.rolling_stats(series, "key", "bucket", "v", window=9))
    for i, r in enumerate(rows):
        assert r["roll_mean"] == pytest.approx(
            statistics.fmean(VALUES[: i + 1]), rel=1e-12)
        assert r["roll_std"] == pytest.approx(
            statistics.pstdev(VALUES[: i + 1]), rel=1e-9)
    assert rows[-1]["roll_mean"] == pytest.approx(MEAN, rel=1e-12)


def test_cusum_standardizes_on_the_true_mean(series):
    rows = _rows(events.cusum(series, "key", "bucket", "v"))
    mu, sd = round(MEAN, 6), round(statistics.pstdev(VALUES), 6)
    sp = sn = 0.0
    for r, v in zip(rows, VALUES):
        z = (v - mu) / sd
        sp, sn = max(0.0, sp + z - 0.5), max(0.0, sn - z - 0.5)
        assert r["cusum_pos"] == pytest.approx(sp, abs=1e-5)
        assert r["cusum_neg"] == pytest.approx(sn, abs=1e-5)
    # a steady ramp of ±1.55 sigma stays inside h = 5 on both sides
    assert not any(r["alarm"] for r in rows)


def test_ewma_band_centers_on_the_true_mean(series):
    rows = _rows(events.ewma(series, "key", "bucket", "v"))
    for r in rows:
        assert (r["lo"] + r["hi"]) / 2 == pytest.approx(MEAN, rel=1e-12)
        assert min(VALUES) <= r["ewma"] <= max(VALUES)


def test_acf_is_a_correlation(series):
    rows = events.acf(series, "key", "bucket", "v", max_lag=3).collect()
    dev = [v - MEAN for v in VALUES]
    den = sum(d * d for d in dev)
    assert len(rows) == 3
    for r in rows:
        k = r["lag"]
        want = sum(dev[t] * dev[t + k] for t in range(len(dev) - k)) / den
        assert -1.0 <= r["acf"] <= 1.0
        assert r["acf"] == pytest.approx(want, abs=1e-5)


def test_impute_mean_matches_python(series):
    df = series.unionByName(
        series.sparkSession.createDataFrame(
            [("k", 9, None)], "key string, bucket long, v double"))
    filled = _rows(numeric.impute_column(df, "v", strategy="mean"))
    assert filled[-1]["v"] == pytest.approx(MEAN, rel=1e-12)
    assert [r["v"] for r in filled[:-1]] == VALUES


def _events(series):
    return series.withColumn("ts", F.timestamp_seconds(F.col("bucket")))


def test_resample_sum_and_avg_match_python(series):
    ev = _events(series)
    for agg, want in (("sum", sum(VALUES)), ("avg", MEAN)):
        rows = events.resample(ev, "key", "ts", "v", every_minutes=60, agg=agg).collect()
        assert len(rows) == 1
        assert rows[0]["value"] == pytest.approx(want, rel=1e-12)


def test_user_period_metrics_sums_match_python(series):
    rows = events.user_period_metrics(_events(series), "key", "ts", "v", "2000-01-01").collect()
    assert len(rows) == 1
    assert rows[0]["pre"] == pytest.approx(sum(VALUES), rel=1e-12)
    assert rows[0]["post"] == 0.0


# ---- the contract lives in one helper ----

DATAPIPE = Path(__file__).resolve().parent.parent / "wrangler_spark" / "datapipe"
MODULES = ["numeric.py", "events.py"]
CLOSURES = {"moments", "stats", "arm_moments", "arm_stats"}


def _decimal_cast_lambda(node) -> bool:
    """``name = lambda c: c.cast("decimal(...)")``."""
    if not (isinstance(node, ast.Assign) and isinstance(node.value, ast.Lambda)):
        return False
    body = node.value.body
    return (isinstance(body, ast.Call) and isinstance(body.func, ast.Attribute)
            and body.func.attr == "cast" and body.args
            and isinstance(body.args[0], ast.Constant)
            and str(body.args[0].value).startswith("decimal"))


def _pair_denominator(node) -> bool:
    """``x * (x - 1)``: the hand-written n·(n − 1) of a sample variance."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult)):
        return False
    a, b = node.left, node.right
    return (isinstance(b, ast.BinOp) and isinstance(b.op, ast.Sub)
            and isinstance(b.right, ast.Constant) and b.right.value == 1
            and ast.dump(a) == ast.dump(b.left))


def test_no_hand_rolled_moments_outside_the_helper():
    offenders = []
    for name in MODULES:
        tree = ast.parse((DATAPIPE / name).read_text(encoding="utf-8"))
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            for node in ast.walk(top):
                where = f"{name}:{getattr(node, 'lineno', '?')} ({top.name})"
                if node is not top and isinstance(node, ast.FunctionDef) \
                        and node.name in CLOSURES:
                    offenders.append(f"{where}: local {node.name}()")
                if _decimal_cast_lambda(node):
                    offenders.append(f"{where}: decimal-cast lambda")
                if _pair_denominator(node):
                    offenders.append(f"{where}: hand-written n*(n - 1)")
    assert not offenders, (
        "use wrangler_spark/datapipe/_moments.py (moments, mean, spread, "
        "sample_var, sample_cov, pop_var) instead:\n" + "\n".join(offenders))


def test_the_structure_check_sees_each_pattern():
    src = (
        "def f():\n"
        "    dec = lambda c: c.cast('decimal(19,0)')\n"
        "    def stats(tag):\n"
        "        return nn * (nn - 1)\n"
    )
    tree = ast.parse(src)
    nodes = list(ast.walk(tree))
    assert any(_decimal_cast_lambda(n) for n in nodes)
    assert any(_pair_denominator(n) for n in nodes)
    assert any(isinstance(n, ast.FunctionDef) and n.name in CLOSURES
               for n in nodes if n is not tree.body[0])
