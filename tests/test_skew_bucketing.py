"""Skew-salted aggregation correctness + the bucketed co-located join
plan guarantee (zero exchanges on a bucket-aligned join)."""

import re

import pytest
from pyspark.sql import functions as F

from warp_pipe_spark.io import read_table, write_bucketed
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


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: orders ⋈ lineitem both bucketed by orderkey →
    the join plan has ZERO Exchange nodes (broadcast disabled to force
    the sort-merge path a 100 TB fact-fact join would take)."""
    orders = read_table(spark, SF, "orders")
    li = read_table(spark, SF, "lineitem")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo")
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "bl")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = _plan(spark, j)
        tree = _tree(p)
        join_part = tree.split("HashAggregate")[-1]  # below the agg: the join
        assert "SortMergeJoin" in tree, tree
        assert not re.search(r"[+:]- Exchange", join_part), tree
        # and it still returns the right answer
        got = {r["o_orderpriority"]: r["n"] for r in j.collect()}
        want = {
            r["o_orderpriority"]: r["n"]
            for r in orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# --- dataset writer: no small-file explosion ---------------------------


def test_write_dataset_one_file_per_partition_dir(spark, tmp_path):
    """partitionBy after repartition-on-partition-cols: each partition
    directory gets exactly files_per_partition files, regardless of
    input task count (the naive write emits tasks x values files)."""
    import os

    from warp_pipe_spark.io import write_dataset

    df = spark.range(0, 10_000, 1, 16).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    )
    path = str(tmp_path / "ds")
    write_dataset(df, path, partition_by=["bucket"])

    for b in range(7):
        d = os.path.join(path, f"bucket={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    assert spark.read.parquet(path).count() == 10_000


def test_write_dataset_max_records_splits_skewed_partition(spark, tmp_path):
    import os

    from warp_pipe_spark.io import write_dataset

    # one hot value with 9k rows, one cold with 1k
    df = spark.range(0, 10_000, 1, 8).selectExpr(
        "id", "CASE WHEN id < 9000 THEN 'hot' ELSE 'cold' END AS bucket"
    )
    path = str(tmp_path / "ds2")
    write_dataset(df, path, partition_by=["bucket"], max_records_per_file=2500)

    hot = [f for f in os.listdir(os.path.join(path, "bucket=hot")) if f.endswith(".parquet")]
    cold = [f for f in os.listdir(os.path.join(path, "bucket=cold")) if f.endswith(".parquet")]
    assert len(hot) == 4  # 9000 / 2500 → 4 sequential files from one task
    assert len(cold) == 1
    assert spark.read.parquet(path).count() == 10_000


def test_compact_dataset_reduces_files_and_preserves_rows(spark, tmp_path):
    import os

    from warp_pipe_spark.io import compact_dataset

    path = str(tmp_path / "messy")
    # simulate a streaming sink: many small appends per partition
    for i in range(5):
        spark.range(i * 100, (i + 1) * 100, 1, 4).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS bucket"
        ).write.mode("append").partitionBy("bucket").parquet(path)

    before_rows = spark.read.parquet(path).count()
    out = compact_dataset(spark, path)
    assert out["files_before"] > out["files_after"]
    for b in range(3):
        d = os.path.join(path, f"bucket={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1
    after = spark.read.parquet(path)
    assert after.count() == before_rows == 500
    assert not os.path.exists(path + "._compact")
    assert not os.path.exists(path + "._trash")
