"""Skew-salted aggregation correctness + the top-k plan guarantee
(TakeOrderedAndProject, no global sort)."""

import pytest
from pyspark.sql import functions as F

from warp_pipe_spark.io import read_table
from warp_pipe_spark.skew import salted_agg, top_k

SF = "/root/testdata/sf0.001"


def _plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _tree(p):
    return p.split("\n\n")[0]


def test_salted_agg_matches_plain_groupby(spark):
    ev = read_table(spark, SF, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    salted = salted_agg(
        ev.withColumn("cents", cents),
        ["user_id"],
        {
            "total_cents": ("sum", "cents"),
            "n_events": ("count", None),
            "max_cents": ("max", "cents"),
        },
        n_salt=8,
    )
    plain = ev.groupBy("user_id").agg(
        F.sum(cents).alias("total_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.max(cents).alias("max_cents"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_agg_count_of_column_skips_nulls(spark):
    """(count, col) must follow SQL count semantics — non-NULL values
    only — matching a plain groupBy. The old partial hard-coded
    count(lit(1)), silently returning ROW count for nullable input."""
    df = spark.createDataFrame(
        [(1, 10), (1, None), (1, 20), (2, None), (2, None)],
        "k LONG, v LONG",
    )
    got = {
        (r.k, r.n_rows, r.n_vals)
        for r in salted_agg(
            df,
            ["k"],
            {"n_rows": ("count", None), "n_vals": ("count", "v")},
            n_salt=4,
            salt_on=["k", "v"],
        ).collect()
    }
    assert got == {(1, 3, 2), (2, 2, 0)}


def test_salted_agg_partial_stage_bounds_the_hot_key(spark):
    """VERDICT r8 #3 (skew ladder, structural half): the salt's entire
    claim is that a key holding most of the corpus mass splits into
    ~n_salt partial groups, so the hottest REDUCER processes
    ~hot/n_salt rows instead of all of them. Pinned by reproducing the
    documented salt expression (xxhash64 of the salt columns mod
    n_salt — the module docstring's deterministic-routing contract)
    and measuring the realized partial-group sizes across a
    10%/50%/90% hot-mass ladder: at every rung the hottest
    (key, salt) group holds at most 2x the uniform share — hash
    dispersion, not luck — while the unsalted group would hold the
    whole hot mass. The wall-clock half of the ladder lives in
    tools/scale_probe.py --skewladder / SCALE.md."""
    n, n_salt = 60_000, 16
    for frac in (0.1, 0.5, 0.9):
        hot = int(n * frac)
        df = spark.range(n).select(
            F.when(F.col("id") < hot, 0)
            .otherwise(F.col("id") % 100 + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        # the salt expression salted_agg builds (salt_on defaults to
        # the measure input columns: here "v")
        sizes = (
            df.groupBy("k", F.pmod(F.xxhash64("v"), F.lit(n_salt)).alias("s"))
            .count()
            .filter(F.col("k") == 0)
        )
        stats = sizes.agg(
            F.max("count").alias("mx"), F.count("*").alias("groups")
        ).first()
        assert stats.groups == n_salt, (frac, stats.groups)
        assert stats.mx <= 2 * hot // n_salt, (frac, stats.mx, hot)
        # and the salted result is exactly the plain aggregate
        salted = salted_agg(
            df, ["k"], {"n": ("count", None), "s": ("sum", "v")},
            n_salt=n_salt,
        )
        plain = df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_agg_pure_count_fallback_still_spreads_the_hot_key(spark):
    """Fallback-salt regression (round 10): with ONLY row-count
    measures (col=None) and no salt_on there is no measure column to
    hash, and the old fallback hashed the GROUP KEYS — a salt constant
    within each key group, i.e. silently NO skew protection exactly
    where the caller asked for it. The fallback now hashes all input
    columns, so the hot key must still split into ~n_salt partials."""
    n, n_salt, hot = 60_000, 16, 54_000
    df = spark.range(n).select(
        F.when(F.col("id") < hot, 0).otherwise(F.col("id") % 100 + 1).alias("k"),
        F.col("id").alias("v"),
    )
    # the fallback expression salted_agg now builds: xxhash64 over ALL
    # columns (sorted set of measure str-columns is empty here)
    sizes = (
        df.groupBy("k", F.pmod(F.xxhash64("k", "v"), F.lit(n_salt)).alias("s"))
        .count()
        .filter(F.col("k") == 0)
    )
    stats = sizes.agg(F.max("count").alias("mx"), F.count("*").alias("g")).first()
    assert stats.g == n_salt
    assert stats.mx <= 2 * hot // n_salt
    got = {
        (r["k"], r["n"])
        for r in salted_agg(df, ["k"], {"n": ("count", None)}, n_salt=n_salt).collect()
    }
    expect = {(r["k"], r["n"]) for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expect


def test_salted_agg_rejects_non_mergeable(spark):
    ev = read_table(spark, SF, "events")
    with pytest.raises(ValueError, match="non-mergeable"):
        salted_agg(ev, ["user_id"], {"vals": ("collect_list", "value")})


def test_top_k_compiles_to_take_ordered(spark):
    ev = read_table(spark, SF, "events")
    g = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    p = _plan(spark, top_k(g, [F.col("n").desc(), F.col("user_id")], 10))
    assert "TakeOrderedAndProject" in p, _tree(p)
