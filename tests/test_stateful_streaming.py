"""Streaming twins of batch operators: the same helper drained from a
file stream over several micro-batches must equal its batch result."""

import pytest

T0 = 1_700_000_000_000  # arbitrary epoch ms
MIN = 60_000


@pytest.fixture(autouse=True)
def two_shuffle_partitions(spark):
    """The state store allocates one instance per shuffle partition per
    micro-batch; a handful of keys don't need 8, so each drain runs on
    2 (baked into the checkpoint at first start) and the session's
    setting is restored after."""
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        yield
    finally:
        spark.conf.set(conf, old)


def test_sketch_registers_stream_equals_batch(spark, tmp_path):
    """hll_registers / cms_registers are batch/streaming-agnostic: the
    SAME helper on a file stream (3 micro-batches, complete mode) must
    drain to exactly the batch result — the registers' merge property
    (max / add) IS Structured Streaming's incremental agg state."""
    from pyspark.sql import types as T

    from warp_pipe_spark.analytics import cms_registers, hll_registers

    schema = "user_id LONG, event_type STRING"
    rows = [(i % 37, ["click", "view", "purchase"][i % 3]) for i in range(300)]
    drop = str(tmp_path / "sketch_drop")
    for b in range(3):
        spark.createDataFrame(rows[b * 100 : (b + 1) * 100], schema).coalesce(
            1
        ).write.mode("append").parquet(drop)

    batch_df = spark.read.parquet(drop)
    want_hll = {
        (r["bucket"], r["register"]) for r in hll_registers(batch_df).collect()
    }
    want_cms = {
        (r["d"], r["j"], r["counter"]) for r in cms_registers(batch_df).collect()
    }

    stream = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    for name, fn in (("hll_sketch_q", hll_registers), ("cms_sketch_q", cms_registers)):
        (
            fn(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    got_hll = {
        (r["bucket"], r["register"])
        for r in spark.sql("SELECT * FROM hll_sketch_q").collect()
    }
    got_cms = {
        (r["d"], r["j"], r["counter"])
        for r in spark.sql("SELECT * FROM cms_sketch_q").collect()
    }
    assert got_hll == want_hll
    assert got_cms == want_cms


ASCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"


def _ts(ms):
    import datetime

    return datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc)


def test_attribution_stream_stream_join_matches_batch(spark, tmp_path):
    """The watermarked interval stream-stream join: clicks and
    purchases arrive on SEPARATE streams split across micro-batches;
    the drained inner-join output must equal the batch twin (the same
    function on static frames) — including a cross-batch match and
    excluding a pair outside the 30-minute window."""
    from pyspark.sql import types as T

    from warp_pipe_spark.analytics import attribution_join

    clicks = [
        (1, _ts(T0), 10, "click"),
        (2, _ts(T0 + 40 * MIN), 10, "click"),  # second click window
        (3, _ts(T0), 20, "click"),
    ]
    purchases = [
        (4, _ts(T0 + 5 * MIN), 10, "purchase"),   # matches click 1
        (5, _ts(T0 + 45 * MIN), 10, "purchase"),  # matches click 2 ONLY (45>30 from c1)
        (6, _ts(T0 + 31 * MIN), 20, "purchase"),  # outside window: no match
    ]
    cdrop, pdrop = str(tmp_path / "clicks"), str(tmp_path / "purch")
    ckpt = str(tmp_path / "ckpt")
    # split each side across two files -> cross-micro-batch matches
    for rows, path in ((clicks[:2], cdrop), (clicks[2:], cdrop),
                       (purchases[:1], pdrop), (purchases[1:], pdrop)):
        spark.createDataFrame(rows, ASCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    cs = (
        spark.readStream.schema(T.StructType.fromDDL(ASCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(cdrop)
    )
    ps = (
        spark.readStream.schema(T.StructType.fromDDL(ASCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(pdrop)
    )
    q = (
        attribution_join(cs, ps, within_minutes=30)
        .writeStream.format("memory")
        .queryName("attr_join")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"], r["lag_ms"])
        for r in spark.sql("SELECT * FROM attr_join").collect()
    }

    want = {
        (r["click_id"], r["purchase_id"], r["lag_ms"])
        for r in attribution_join(
            spark.createDataFrame(clicks, ASCHEMA),
            spark.createDataFrame(purchases, ASCHEMA),
            within_minutes=30,
        ).collect()
    }
    assert got == want == {(1, 4, 5 * MIN), (2, 5, 5 * MIN)}


