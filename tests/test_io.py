"""read_table's schema cache: a warm read launches no inference job, and
a rewrite, a schema conf flip or the events nanos read never returns a
stale schema. publish_file: the whole new file or the old one, never a
torn or visible tmp file. The index manifest: write_index/open_index
round-trip parameters and schemas, and refuse a missing manifest or
one of another kind. read_parquet_dirs is the package's only
multi-path parquet read."""

import ast
import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from warp_pipe_spark.io import (
    INDEX_MANIFEST,
    _file_signature,
    open_index,
    publish_file,
    read_table,
    write_index,
)


def _jobs(spark, fn):
    """(fn's result, the Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    group = f"test-io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_table schema cache")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, cols):
    pq.write_table(pa.table(cols), str(path))


def test_warm_read_launches_no_job_and_returns_the_same_frame(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    cold, cold_jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    warm, warm_jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert len(cold_jobs) == 1  # the inference job, paid once
    assert warm_jobs == []
    assert warm.schema == cold.schema
    assert _rows(warm) == _rows(cold) == [(1, "a"), (2, "b"), (3, "c")]


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path, layout):
    # "dir": the part file is rewritten in place, so the directory's
    # own inode and mtime stay the same; only its files' signatures move
    f = tmp_path / "t.parquet"
    if layout == "dir":
        f.mkdir()
        f = f / "part-0.parquet"
    _write(f, {"k": [1, 2]})
    assert read_table(spark, str(tmp_path), "t").columns == ["k"]
    assert read_table(spark, str(tmp_path), "t").columns == ["k"]  # cached
    _write(f, {"k": [1, 2], "extra": [10, 20]})
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert _rows(df) == [(1, 10), (2, 20)]


def test_spark_written_ntz_is_cast_on_miss_and_hit(spark, tmp_path):
    """A Spark-written table (a directory) keeps its TIMESTAMP_NTZ
    footer schema; read_table casts it to LTZ on a hit exactly as on a
    miss, and an overwrite with another schema is seen."""
    path = str(tmp_path / "t.parquet")
    ntz = spark.sql(
        "SELECT id AS k, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts FROM range(4)"
    )
    ntz.repartition(2).write.parquet(path)
    miss = read_table(spark, str(tmp_path), "t")
    hit, hit_jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert hit_jobs == []
    for df in (miss, hit):
        assert dict(df.dtypes) == {"k": "bigint", "ts": "timestamp"}
        assert df.count() == 4
    ntz.withColumn("extra", ntz["k"] * 2).write.mode("overwrite").parquet(path)
    assert read_table(spark, str(tmp_path), "t").columns == ["k", "ts", "extra"]


def test_events_nanos_read_is_identical_on_miss_and_hit(
    spark, tmp_path, monkeypatch
):
    """Older testdata stored events.ts as TIMESTAMP(NANOS): read_table
    reads it as long under nanosAsLong and converts to microseconds,
    on a cache miss and a hit alike, and leaves the conf as it was. A
    hit reads with the cached schema, so it does not touch the conf."""
    from pyspark.sql.conf import RuntimeConfig

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_001_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    miss = read_table(spark, str(tmp_path), "events")
    assert spark.conf.get(key) == "false"
    set_keys = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        set_keys.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    hit, hit_jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "events"))
    monkeypatch.undo()
    assert key not in set_keys
    assert spark.conf.get(key) == "false"
    assert hit_jobs == []
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    want = [
        (1, (epoch + dt.timedelta(microseconds=ns[0] // 1000)).replace(tzinfo=None)),
        (2, (epoch + dt.timedelta(microseconds=ns[1] // 1000)).replace(tzinfo=None)),
    ]
    for df in (miss, hit):
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [(r["event_id"], r["ts"]) for r in df.orderBy("event_id").collect()]
        # the sessions run UTC: compare as naive UTC wall times
        assert [(i, t.replace(tzinfo=None)) for i, t in got] == want


@pytest.fixture
def binary_as_string(spark):
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key, "false")
    yield key
    spark.conf.set(key, prev)


def test_binary_as_string_flip_changes_the_schema(spark, tmp_path, binary_as_string):
    _write(tmp_path / "t.parquet", {"b": pa.array([b"x", b"yz"], pa.binary())})
    spark.conf.set(binary_as_string, "false")
    assert dict(read_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"
    spark.conf.set(binary_as_string, "true")
    df = read_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes)["b"] == "string"
    assert _rows(df) == [("x",), ("yz",)]
    spark.conf.set(binary_as_string, "false")
    assert dict(read_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"


def test_two_reads_of_one_table_self_join(spark, tmp_path):
    # every call is a fresh relation: a cached DataFrame would share
    # attribute ids and turn a["k"] == b["k"] + 1 into k == k + 1
    _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    read_table(spark, str(tmp_path), "t")  # warm the cache
    a = read_table(spark, str(tmp_path), "t")
    b = read_table(spark, str(tmp_path), "t")
    out = a.join(b, a["k"] == b["k"] + 1).select(a["v"], b["v"].alias("prev"))
    assert _rows(out) == [("b", "a"), ("c", "b")]


def test_warm_tpch_q16_runs_no_parquet_inference_stage(spark, sf_dir):
    import __spark_entry__ as entry

    q16 = entry.queries()["tpch_q16"]
    q16(spark, sf_dir).collect()  # warm
    rows, jobs = _jobs(spark, lambda: q16(spark, sf_dir).collect())
    assert rows and jobs
    st = spark.sparkContext.statusTracker()
    names = [
        st.getStageInfo(sid).name
        for j in jobs
        for sid in st.getJobInfo(j).stageIds
        if st.getStageInfo(sid) is not None
    ]
    assert names and not [n for n in names if n.startswith("parquet at")], names


def test_only_local_paths_are_cached(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x")
    local, sig = _file_signature(f"file://{f}")
    assert local == str(f) and sig[1] == 1  # (ino, size, mtime_ns)
    assert _file_signature(str(tmp_path / "missing.parquet")) is None
    assert _file_signature("hdfs://nn/warehouse/t.parquet") is None


def test_publish_file_round_trips_and_leaves_no_tmp(tmp_path):
    path = str(tmp_path / "offset.json")
    publish_file(path, [b'{"last_id": ', b"7}"])
    publish_file(path, (line + b"\n" for line in (b"a", b"b")))
    with open(path, "rb") as f:
        assert f.read() == b"a\nb\n"
    assert os.listdir(tmp_path) == ["offset.json"]


def test_publish_file_crash_at_replace_keeps_the_old_file(tmp_path, monkeypatch):
    path = str(tmp_path / "lr_0_0.jsonl")
    publish_file(path, [b"old\n"])

    def crash(src, dst):
        raise OSError("crash at os.replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash at os.replace"):
        publish_file(path, [b"new\n", b"rows\n"])
    with open(path, "rb") as f:
        assert f.read() == b"old\n"
    # the complete tmp file is left behind, hidden from file-source listings
    leftover = sorted(set(os.listdir(tmp_path)) - {"lr_0_0.jsonl"})
    assert leftover == [".lr_0_0.jsonl.tmp"]


def test_index_manifest_round_trips_params_and_schemas(spark, tmp_path):
    path = str(tmp_path / "idx")
    flat = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, v STRING")
    parted = spark.createDataFrame(
        [(0, 1, "x"), (1, 2, "y"), (1, 3, "z")], "part INT, k LONG, v STRING"
    )
    write_index(
        path, "demo", {"n": 4}, {"flat": (flat, ()), "parted": (parted, ("part",))}
    )
    (params, read), jobs = _jobs(spark, lambda: open_index(spark, path, "demo"))
    frames = {"flat": read("flat"), "parted": read("parted")}
    assert params == {"n": 4}
    assert jobs == []  # every schema comes from the manifest
    assert frames["parted"].columns == ["k", "v", "part"]  # partition col last
    for name, df in frames.items():  # the schema an inference would find
        assert df.schema == spark.read.parquet(f"{path}/{name}/_gen=0").schema
    assert _rows(frames["flat"]) == [(1, "a"), (2, "b")]
    assert _rows(read("parted", "part", [1, 5])) == [(2, "y", 1), (3, "z", 1)]
    assert read("parted", "part", [5]).count() == 0

    write_index(path, "demo", {"n": 4}, {"flat": (flat, ())}, batch_id=0)
    assert len(_rows(read("flat"))) == 2  # the generations it opened
    assert len(_rows(open_index(spark, path, "demo")[1]("flat"))) == 4
    with pytest.raises(ValueError, match="other parameters"):
        write_index(path, "demo", {"n": 5}, {"flat": (flat, ())}, batch_id=1)


def test_index_without_manifest_raises_naming_the_path(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_index(path, "demo", {}, {"flat": (spark.range(3), ())})
    os.remove(os.path.join(path, INDEX_MANIFEST))
    with pytest.raises(FileNotFoundError, match="did not finish") as e:
        open_index(spark, path, "demo")
    assert path in str(e.value)
    with pytest.raises(FileNotFoundError, match="did not finish"):
        open_index(spark, str(tmp_path / "never_built"), "demo")


def test_index_of_another_kind_raises(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_index(path, "bloom", {}, {"words": (spark.range(3), ())})
    with pytest.raises(ValueError, match="bloom index, not a bm25 index"):
        open_index(spark, path, "bm25")


def _multi_path_reads(tree):
    """(enclosing function, line) of each `.parquet(...)` / `.load(...)`
    call given a starred or more than one positional path."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("parquet", "load")
                and (
                    len(child.args) > 1
                    or any(isinstance(a, ast.Starred) for a in child.args)
                )
            ):
                yield fn, child.lineno
            yield from walk(child, fn)

    return list(walk(tree, None))


def test_multi_path_parquet_reads_go_through_read_parquet_dirs():
    """A parquet read of more paths than Spark's parallel-listing
    threshold lists them in a Spark job that takes every task slot.
    io.read_parquet_dirs reads them in chunks listed on the driver, so
    it must be the package's only multi-path parquet read, and the only
    code that names the threshold."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "warp_pipe_spark"
    reads, names = [], []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        rel = str(path.relative_to(root))
        reads += [(rel, fn) for fn, _ in _multi_path_reads(ast.parse(src))]
        names += [
            (rel, i)
            for i, line in enumerate(src.splitlines(), 1)
            if "parallelPartitionDiscovery" in line
        ]
    assert reads and set(reads) == {("io.py", "read_parquet_dirs")}, reads
    io_tree = ast.parse((root / "io.py").read_text())
    (helper,) = [
        n for n in ast.walk(io_tree)
        if isinstance(n, ast.FunctionDef) and n.name == "read_parquet_dirs"
    ]
    inside = range(helper.lineno, helper.end_lineno + 1)
    assert names and all(
        rel == "io.py" and line in inside for rel, line in names
    ), names
