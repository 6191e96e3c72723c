"""Table loading + the deterministic changeset-log derivation.

The driver's testdata (TESTDATA.md) has no changeset log, so the CDC
fixtures are DERIVED from the `events` table, deterministically and
seed-free, exactly as FIXTURES.md §4 prescribes: every event becomes an
INSERT; a deterministic subset gets a follow-up UPDATE (event_id % 10
== 0) and DELETE (event_id % 20 == 0); ids are assigned so replay order
is insert < update < delete per key. `table_name` is the event_type, so
the log naturally interleaves five "tables" for whitelist/ignore tests.

The SAME derivation exists twice, intentionally:
  - `derive_changesets(spark, sf_dir)` — DataFrame build (three narrow
    projections + unionByName; no shuffle, fused by codegen).
  - `CHANGESETS_CTE` — the ANSI-SQL equivalent the DuckDB oracle runs.
Both must stay in lock-step; tests/test_entry.py compares them.

Typed ("decoded") columns are used rather than JSON strings so values
compare bit-identically across engines; the engine's faithful JSON log
form is produced by `changesets_as_audit_log` (to_json) on top.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Callable, Iterable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_T = TypeVar("_T")

_BYTE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def parse_spark_bytes(s: str) -> int:
    """Spark byte-string grammar (JavaUtils.byteStringAs): an integer
    with an optional case-insensitive k/m/g/t/p suffix, each optionally
    followed by 'b'; bare numbers are bytes (maxPartitionBytes'
    default unit). ADVICE r13: the previous .rstrip('b') hack parsed
    '134217728b' but raised on '128m'/'64mb'/'1g', silently mis-sizing
    fan_out's leaf-stats threshold whenever the session set the conf
    in the human form Spark itself documents. Raises ValueError on
    anything outside the grammar — callers choose their own fallback."""
    t = s.strip().lower()
    num = t.rstrip("kmgtpb")
    try:
        factor = _BYTE_SUFFIXES[t[len(num):]]
    except KeyError:
        raise ValueError(f"not a Spark byte string: {s!r}") from None
    return int(num) * factor


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Spread a narrow frame across the session's cores before a
    high-fan-out stage (a 9-family shingle explode, a per-doc media
    encode): Spark cannot split a partition mid-stage, so a small
    single-split scan serializes a 300× Generate or a per-row codec
    onto one core while 31 idle. NO-OP when the plan's LEAF scans are
    big enough to have produced >= defaultParallelism input splits —
    at real scale those splits provide the parallelism and the
    exchange would be pure cost; the shuffle this inserts on the
    small-input path moves only the narrow pre-explosion projection.

    The guard reads the optimized logical plan's leaf statistics, NOT
    df.rdd.getNumPartitions() (the pre-r13 check): for any plan
    containing a shuffle the static partition count reports
    spark.sql.shuffle.partitions and the helper no-opped, even though
    AQE coalesces the post-shuffle stage to ~1 runtime partition on
    exactly the small inputs this targets (e.g. the multiply-joined
    corpus inside curate_corpus) — and the .rdd probe itself forced a
    full physical-plan/RDD conversion per call on the driver. Leaf
    bytes are a plan-time constant: small leaves can never yield wide
    runtime stages, big leaves mean the scan already parallelizes.
    Pass key columns to hash-partition (keeps a doc's rows together);
    none for round-robin."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        leaf_bytes = 0
        for i in range(leaves.size()):
            v = leaves.apply(i).stats().sizeInBytes()
            # py4j hands small scala BigInts back as Python ints and
            # big ones as JavaObjects — normalize via str for both
            leaf_bytes += v if isinstance(v, int) else int(str(v))
        try:
            max_split = parse_spark_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
        except (ValueError, AttributeError):
            max_split = 128 * 1024 * 1024
        if leaf_bytes >= sc.defaultParallelism * max_split:
            return df
    except Exception:
        # stats unavailable (exotic relation) — fall back to the
        # static partition probe rather than fail the query
        if df.rdd.getNumPartitions() >= sc.defaultParallelism:
            return df
    if cols:
        return df.repartition(sc.defaultParallelism, *cols)
    return df.repartition(sc.defaultParallelism)


def explode_nonnull(df: DataFrame, arr, alias: str) -> DataFrame:
    """explode() for an EXPENSIVE array expression whose elements are
    never null. Plain explode() makes the optimizer infer a
    `size(arr) > 0 AND isnotnull(arr)` pre-filter (Generate's implicit
    skip of null/empty arrays, surfaced as a Filter) and push it below
    any repartition by INLINING the full array expression — so a
    shingling+md5 transform runs once more, BEFORE the fan_out
    exchange, serialized on the small scan's single split. The
    outer-explode + cheap post-Generate null filter computes the array
    exactly once, after the spread, and is row-identical to explode()
    as long as no ELEMENT is null (an empty/null array yields one null
    row, dropped here; explode() yields none) — callers must only pass
    arrays with non-null elements (hash/token transforms qualify).

    MISUSE IS SILENT (ADVICE r14): an array with null ELEMENTS loses
    those rows here where plain explode() would emit them as null rows.
    Before converting a new site, prove the element-nonnull invariant
    (or assert it once in a test with
    `df.filter(exists(arr, x -> x IS NULL)).count() == 0`); do not use
    this helper as a drop-null-elements combinator — write the intent
    out with an explicit `filter` if that is what you mean."""
    return df.withColumn(alias, F.explode_outer(arr)).filter(
        F.col(alias).isNotNull()
    )


def scratch_dir(prefix: str) -> str:
    """mkdtemp preferring tmpfs (/dev/shm): soak/sink BENCH fixtures
    measure state-commit cost, and a disk-backed tempdir folds storage
    aging into the measurement (the keyset drain drifted 12.98→18.2 s
    across otherwise-idle runs purely from filesystem variance) —
    RAM-backed scratch keeps the fixture measuring the engine. Falls
    back to the system default when /dev/shm is missing or read-only;
    the sinks are path-agnostic, so only the noise floor changes.

    Every directory is registered for removal at interpreter exit:
    registered queries hand the returned DataFrame to a caller that
    never sees the sink path (the driver just collects it), so nobody
    else CAN clean up — and an uncollected tmpfs dir is RAM held until
    reboot, which accumulates across bench/correctness invocations and
    can exhaust /dev/shm's 50%-of-RAM cap. atexit runs after any
    collection of the returned frame (same process), and callers that
    rmtree earlier (bench.py's soak fixture) are harmless double-frees
    under ignore_errors."""
    import atexit
    import tempfile

    base = "/dev/shm"
    if os.path.isdir(base) and os.access(base, os.W_OK):
        path = tempfile.mkdtemp(prefix=prefix, dir=base)
    else:
        path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    ("spark.sql.parquet.binaryAsString", "false"),
    ("spark.sql.parquet.int96AsTimestamp", "true"),
    ("spark.sql.parquet.mergeSchema", "false"),
)

#: abs path -> (file signature + schema confs, inferred StructType); one
#: entry per path, replaced when the key changes. See read_table.
_SCHEMAS: dict = {}


def _file_signature(path: str):
    """(absolute local path, signature): the signature is (st_ino,
    st_size, st_mtime_ns) of a file; for a directory, (relative name,
    st_ino, st_size, st_mtime_ns) of every file under it, sorted by
    name. None when the path is not on the local filesystem or cannot
    be stat'ed."""
    from urllib.parse import urlparse

    # only the scheme is parsed: a bare local path may hold '#' or '?'
    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        return None
    local = os.path.abspath(urlparse(path).path if scheme else path)
    try:
        st = os.stat(local)
        if not os.path.isdir(local):
            return local, (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, _, names in os.walk(local):
            for n in names:
                p = os.path.join(root, n)
                fst = os.stat(p)
                files.append(
                    (os.path.relpath(p, local), fst.st_ino, fst.st_size, fst.st_mtime_ns)
                )
        return local, tuple(sorted(files))
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`<sf_dir>/<name>.parquet` as a DataFrame with plain TIMESTAMP
    (LTZ) columns: naive and Spark-written NTZ timestamps read as UTC
    epoch values, and an `events` file with TIMESTAMP(NANOS) `ts` comes
    back as microsecond timestamps.

    SCHEMA: parquet schema inference is a Spark job of its own, so each
    input's schema is inferred once and every later call reads with it
    (`spark.read.schema(cached)`), launching no job until an action.
    The cache keys a path by its file signature — (st_ino, st_size,
    st_mtime_ns) of the file, or of every file under a directory — plus
    the session confs that change the inferred schema (binaryAsString,
    int96AsTimestamp, mergeSchema) and whether the events nanos read
    applies. A rewritten file changes the signature and replaces its
    entry. Only local paths are cached: a non-`file` URI, or a path
    that cannot be stat'ed, is inferred on every call. Each call still
    returns a fresh relation with fresh attribute ids, so two reads of
    one table self-join like two independent reads."""
    from pyspark.sql import types as T

    # Testdata timestamps are naive parquet TIMESTAMP(MICROS)
    # (isAdjustedToUTC=false). Spark 4 infers those as TIMESTAMP_NTZ,
    # which unix_millis()/window() reject. Disabling NTZ inference reads
    # the stored micros as TIMESTAMP_LTZ epoch values directly — exactly
    # DuckDB's epoch_ms(naive ts) semantics, independent of session tz.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    sig = _file_signature(path)
    cached = None
    if sig is not None:
        local, files = sig
        confs = tuple(spark.conf.get(k, d) for k, d in _SCHEMA_CONFS)
        key = (files, confs, name == "events")
        hit = _SCHEMAS.get(local)
        if hit is not None and hit[0] == key:
            cached = hit[1]
    reader = spark.read if cached is None else spark.read.schema(cached)
    if name == "events" and cached is None:
        # Older testdata generations used TIMESTAMP(NANOS), which Spark 4
        # rejects; read nanos as long and convert to a microsecond
        # timestamp (same truncation DuckDB applies for epoch_ms).
        # Scoped to THIS inference (the conf only steers schema
        # conversion at read(); execution after the restore is verified
        # safe, and a cached schema already says long): left session-
        # global, every later parquet read would silently get bigint
        # nanos columns — without this fixup — instead of Spark 4's
        # loud rejection, order-dependent on whether events loaded first.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = reader.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        df = reader.parquet(path)
    schema = cached
    if schema is None:
        schema = df.schema
        if sig is not None:
            _SCHEMAS[local] = (key, schema)
    if name == "events" and "ts" in schema.names and isinstance(
        schema["ts"].dataType, T.LongType
    ):
        # integer division — double division loses ULPs at 1e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Spark-WRITTEN parquet carries its own schema in the footer
    # metadata, which overrides the NTZ-inference conf — a file written
    # from an NTZ frame stays NTZ however it is read. Cast such columns
    # to LTZ here (sessions run UTC, warp_pipe_spark.session pins it),
    # so every consumer sees plain TIMESTAMP whatever wrote the file.
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


# --- deterministic changeset derivation (FIXTURES.md §4) -------------------

def derive_changesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → typed changeset log.

    Columns: id, ts, action, schema_name, table_name, relid,
    pk, user_id, event_type, value. Per key (pk = event_id):
    INSERT@id*10, optional UPDATE@id*10+5 (+1h, value+1000), optional
    DELETE@id*10+7 (+2h).

    ONE parquet scan: each event builds its 1-3 change structs as an
    array and explodes — ~40% faster than the equivalent 3-branch
    union, which re-reads the scan per branch. Same rows either way
    (asserted in tests against the union form and the SQL CTE).
    """
    ev = read_table(spark, sf_dir, "events")

    def mk(action: str, id_off: int, hours: int, value_col: F.Column) -> F.Column:
        return F.struct(
            (F.col("event_id") * 10 + id_off).alias("id"),
            (F.col("ts") + F.expr(f"INTERVAL {hours} HOUR")).alias("ts"),
            F.lit(action).alias("action"),
            value_col.alias("value"),
        )

    empty = F.array().cast(
        "array<struct<id:bigint,ts:timestamp,action:string,value:double>>"
    )
    arr = F.concat(
        F.array(mk("INSERT", 0, 0, F.col("value"))),
        F.when(
            F.col("event_id") % 10 == 0,
            F.array(mk("UPDATE", 5, 1, F.col("value") + F.lit(1000.0))),
        ).otherwise(empty),
        F.when(
            F.col("event_id") % 20 == 0, F.array(mk("DELETE", 7, 2, F.col("value")))
        ).otherwise(empty),
    )
    # explode_nonnull, not explode: the inferred size(arr)>0 filter
    # would rebuild the 1-3 struct array a second time per event (see
    # the helper's docstring); arr always holds the INSERT, so the
    # outer form drops nothing
    ex = explode_nonnull(ev, arr, "c").select(
        "event_id", "user_id", "event_type", "c"
    )
    return ex.select(
        F.col("c.id").alias("id"),
        F.col("c.ts").alias("ts"),
        F.col("c.action").alias("action"),
        F.lit("public").alias("schema_name"),
        F.col("event_type").alias("table_name"),
        (F.lit(50000) + F.col("event_id") % 5).alias("relid"),
        F.col("event_id").alias("pk"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("c.value").alias("value"),
    )


# DuckDB-side equivalent. The oracle harness pre-registers `events`.
CHANGESETS_CTE = """
changesets AS (
  SELECT event_id * 10 AS id, ts, 'INSERT' AS action,
         'public' AS schema_name, event_type AS table_name,
         50000 + (event_id % 5) AS relid,
         event_id AS pk, user_id, event_type, value
  FROM events
  UNION ALL
  SELECT event_id * 10 + 5, ts + INTERVAL 1 HOUR, 'UPDATE',
         'public', event_type, 50000 + (event_id % 5),
         event_id, user_id, event_type, value + 1000.0
  FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id * 10 + 7, ts + INTERVAL 2 HOUR, 'DELETE',
         'public', event_type, 50000 + (event_id % 5),
         event_id, user_id, event_type, value
  FROM events WHERE event_id % 20 = 0
)
"""


def recover_swap(path: str) -> None:
    """Heal a `rewrite_and_swap` that crashed between its two renames,
    the one state in which `path` is missing: finish the swap when
    `<path>._compact` holds Spark's `_SUCCESS` job-commit marker,
    otherwise put `<path>._trash` back. Acts only on a missing `path`
    and deletes nothing, so any reader may call it."""
    if os.path.exists(path):
        return
    tmp, trash = path + "._compact", path + "._trash"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
    elif os.path.isdir(trash):
        os.rename(trash, path)


def rewrite_and_swap(path: str, write: Callable[[str], _T]) -> _T:
    """Crash-safe rewrite of the dataset dir `path`: the one two-rename
    swap, whose only caller is store.retention_compact.

      1. heal an earlier crash (recover_swap); no dataset at `path`
         raises FileNotFoundError;
      2. delete stale `<path>._compact` and `<path>._trash` sidecars;
      3. `write(<path>._compact)`: the caller reads `path` and writes
         the rewritten copy as a Spark job (whose commit leaves
         `_SUCCESS`); raising there abandons the swap, `path` untouched;
      4. rename `path` to `._trash`, then `._compact` to `path`;
      5. delete `._trash`.

    The data is complete at `path` in every state but the one between
    step 4's renames, where recover_swap finds it: the committed
    rewrite at `._compact`, the old copy at `._trash`. So a reader
    that heals a missing `path` reads exactly the pre- or the
    post-rewrite rows after a crash anywhere, and the next rewrite
    converges. Only writers delete sidecars. Single-writer: the caller
    holds exclusive write access to `path` for the duration (a
    cron-shaped maintenance job).
    Returns what `write` returned."""
    recover_swap(path)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no dataset at {path}")
    tmp, trash = path + "._compact", path + "._trash"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    out = write(tmp)
    os.rename(path, trash)
    os.rename(tmp, path)
    shutil.rmtree(trash)
    return out


def publish_file(
    path: str, chunks: Iterable[bytes], mtime_ns: int | None = None
) -> None:
    """Durably publish one small driver-side file: write `chunks` to
    `<dir>/.<name>.tmp`, flush, fsync, then `os.replace` it onto
    `path`. The commit protocol behind the state-sink pointer, the
    keyset offset, the history-log rewrite, the drop-dir files of the
    logical-replication tails, the live-tail bootstrap seed and the
    index manifests. A reader sees the old file or the whole new one,
    never a torn one; the leading dot keeps the tmp file out of Spark's
    file-source listing. `mtime_ns`, when given, is set on the file
    before it becomes visible. Single-writer per `path`."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "wb") as f:
        for chunk in chunks:
            f.write(chunk)
        f.flush()
        if mtime_ns is not None:
            os.utime(f.fileno(), ns=(mtime_ns, mtime_ns))
        os.fsync(f.fileno())
    os.replace(tmp, path)


#: The manifest of a persisted index or sink ledger: its kind, build
#: parameters, batch high-water mark, and each dataset's schema,
#: partition columns and recorded generations (write_index).
INDEX_MANIFEST = "_INDEX.json"


def index_manifest(path: str, kind: str) -> dict:
    """The manifest of the `kind` index at `path`. A missing one raises
    FileNotFoundError naming the path, one of another kind ValueError,
    and one with no generation lists (written before the ledger)
    ValueError naming a rebuild."""
    try:
        with open(os.path.join(path, INDEX_MANIFEST)) as f:
            m = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no {kind} index at {path}: {INDEX_MANIFEST} is missing (not "
            "built, or its build did not finish)"
        ) from None
    if m["kind"] != kind:
        raise ValueError(f"{path} holds a {m['kind']} index, not a {kind} index")
    if "datasets" not in m:
        raise ValueError(
            f"the {kind} index at {path} has no generation lists (written by "
            "an older version): delete it and rebuild it"
        )
    return m


def _gen_dir(path: str, name: str, g: int) -> str:
    return os.path.join(path, name, f"_gen={g}")


def _drop_unrecorded(path: str, m: dict) -> None:
    """Delete the `_gen=` dirs of `m`'s datasets that it does not
    record: what a crashed writer left. Writers only."""
    for name, d in m["datasets"].items():
        root = os.path.join(path, name)
        for e in os.listdir(root) if os.path.isdir(root) else ():
            if e.startswith("_gen=") and int(e[5:]) not in d["gens"]:
                shutil.rmtree(os.path.join(root, e))


def _next_gen(m: dict) -> int:
    return 1 + max((g for d in m["datasets"].values() for g in d["gens"]), default=-1)


def write_index(
    path: str, kind: str, params: dict, datasets: dict, batch_id: int | None = None
) -> None:
    """Write `datasets`, `{name: (frame, partition columns)}`, into the
    index or sink ledger at `path`: the commit protocol of the five
    persisted indexes, the gate sinks and IngestDedupSink's candidates.

    Every write goes to a fresh generation dir `<path>/<name>/_gen=<g>`,
    g one past the newest recorded, which no reader lists; publishing
    the manifest `<path>/_INDEX.json` (publish_file) is the commit. It
    records `kind`, `params` (they travel with the index: one
    re-supplied at query time that disagreed with the build would
    silently give wrong results), the batch high-water mark, and each
    dataset's read schema (from the frame's plan, no job), partition
    columns and generations. A build (`batch_id` None) first deletes
    the manifest and the datasets' generations, and sets the mark to
    -1, so an index whose rebuild died refuses to open instead of
    pairing new data with old parameters. An append (`params` must be
    the manifest's) with `batch_id` ≤ the mark is a no-op; otherwise it
    deletes the generations a crashed writer left unrecorded, writes
    its own and republishes the manifest with g added to each dataset
    and `batch_id` as the mark. A crash before the publish leaves the
    append invisible and its retry redoes it, so each batch id commits
    exactly once (the file-sink log of Structured Streaming). Readers
    list any number of recorded generations on the driver
    (read_parquet_dirs), so compact_index is due for the file count
    only. Single-writer per `path`."""
    manifest = os.path.join(path, INDEX_MANIFEST)
    if batch_id is None:
        if os.path.exists(manifest):
            os.remove(manifest)
        fresh = {name: {"gens": []} for name in datasets}
        m = {"kind": kind, "params": params, "mark": -1, "datasets": fresh}
    else:
        m = index_manifest(path, kind)
        if m["params"] != params:
            raise ValueError(f"append to {path} with other parameters: {params}")
        if batch_id <= m["mark"]:
            return
        m["mark"] = batch_id
    _drop_unrecorded(path, m)
    g = _next_gen(m)
    for name, (df, part) in datasets.items():
        df.write.mode("overwrite").partitionBy(*part).parquet(_gen_dir(path, name, g))
        # a read returns the partition columns last
        fields = [f for f in df.schema.fields if f.name not in part]
        m["datasets"][name] = {
            "schema": StructType(fields + [df.schema[c] for c in part]).jsonValue(),
            "partition": list(part),
            "gens": m["datasets"][name]["gens"] + [g],
        }
    publish_file(manifest, [json.dumps(m).encode()])


def append_batch(path: str, kind: str, datasets: dict, batch_id: int) -> None:
    """A foreachBatch sink's commit of batch `batch_id` to its own
    ledger at `path` (write_index): the first batch builds the ledger
    empty, publishing its manifest, then every batch appends, so a
    redelivered batch is a no-op."""
    if not os.path.exists(os.path.join(path, INDEX_MANIFEST)):
        empty = {name: (df.limit(0), part) for name, (df, part) in datasets.items()}
        write_index(path, kind, {}, empty)
    write_index(path, kind, {}, datasets, batch_id)


def read_parquet_dirs(
    spark: SparkSession, dirs: list[str], schema: StructType, **options
) -> DataFrame:
    """Read the driver-local parquet dirs `dirs`, which a manifest or
    pointer already names, with reader `options`.

    Spark lists the paths of one read in a "Listing leaf files" job
    once they number more than its parallel-listing threshold
    (spark.sql.sources.parallelPartitionDiscovery.threshold, 32), and
    that job takes every task slot for a few hundred ms. So the dirs
    are read under `schema` in chunks of at most the threshold, each
    listed on the driver, and the chunks are unioned by name; a read of
    up to the threshold is the one plain scan. No conf is changed. A
    dir with more than the threshold of subdirs still lists them in a
    job."""
    reader = spark.read.options(**options).schema(schema)
    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    n = max(1, int(spark.conf.get(conf)))
    chunks = [reader.parquet(*dirs[i : i + n]) for i in range(0, len(dirs), n)]
    return functools.reduce(DataFrame.unionByName, chunks)


def _leaf_dirs(gen: str, part: list[str]) -> list[str]:
    """The partition leaf dirs of the generation dir `gen`, partitioned
    by the columns `part` (`gen` itself when there are none), listed on
    the driver."""
    dirs = [gen]
    for c in part:
        dirs = [
            os.path.join(d, e)
            for d in dirs
            for e in sorted(os.listdir(d))
            if e.startswith(f"{c}=") and os.path.isdir(os.path.join(d, e))
        ]
    return dirs


def _reader(spark: SparkSession, path: str, m: dict) -> Callable:
    def read(name: str, col: str | None = None, values=()) -> DataFrame:
        d = m["datasets"][name]
        schema = StructType.fromJson(d["schema"])
        gens = [_gen_dir(path, name, g) for g in d["gens"]]
        if col is None:
            dirs = [p for g in gens for p in _leaf_dirs(g, d["partition"])]
        else:
            parts = (f"{g}/{col}={v}" for g in gens for v in values)
            dirs = [p for p in parts if os.path.isdir(p)]
        if not dirs:
            return spark.createDataFrame([], schema)
        root = os.path.join(path, name)
        df = read_parquet_dirs(spark, dirs, schema, basePath=root).drop("_gen")
        return df if col is None else df.filter(F.col(col).isin(list(values)))

    return read


def open_index(spark: SparkSession, path: str, kind: str) -> tuple[dict, Callable]:
    """(params, read) of the `kind` index at `path`, from its manifest
    alone, so opening launches no Spark job. `read(name)` reads a
    dataset's recorded generations with the manifest's schema, as
    explicit paths under one basePath (read_parquet_dirs): the
    partition leaf dirs of a partitioned dataset, else the generation
    dirs, so any number of generations and partitions is listed on the
    driver. `read(name, col, values)` lists only the existing
    `col=<value>` partition dirs of those generations and filters on
    them. Errors as index_manifest."""
    m = index_manifest(path, kind)
    return m["params"], _reader(spark, path, m)


def compact_index(spark: SparkSession, path: str, kind: str, name: str) -> dict:
    """Fold the recorded generations of the dataset `<path>/<name>` of
    an index or sink ledger into one new generation, one file per
    partition dir: the small-file maintenance of every appended
    artifact. The fold is row-count checked (a short copy is deleted
    and raises, the index untouched); then the manifest is republished
    with the new generation alone, mark unchanged, and only then are
    the old ones deleted. A crash before the publish leaves the old
    generations in force, one after it the new one; the next writer
    deletes what is left unrecorded. Single-writer: pause appends while
    it runs. Returns {"rows_before", "rows_after", "files_before",
    "files_after"}."""
    m = index_manifest(path, kind)
    _drop_unrecorded(path, m)
    d, root = m["datasets"][name], os.path.join(path, name)
    old, part = [_gen_dir(path, name, g) for g in d["gens"]], d["partition"]
    df = _reader(spark, path, m)(name)
    rows_before, files_before = df.count(), sum(n_parquet_files(p) for p in old)
    g = _next_gen(m)
    new = _gen_dir(path, name, g)
    folded = df.repartition(*part) if part else df.coalesce(1)
    folded.write.mode("overwrite").partitionBy(*part).parquet(new)
    d["gens"] = [g]
    rows_after = _reader(spark, path, m)(name).count()
    if rows_after != rows_before:
        shutil.rmtree(new)
        raise RuntimeError(
            f"compaction of {root} wrote {rows_after} rows, expected "
            f"{rows_before}: copy discarded, index untouched"
        )
    publish_file(os.path.join(path, INDEX_MANIFEST), [json.dumps(m).encode()])
    for p in old:
        shutil.rmtree(p)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": n_parquet_files(new),
    }


def n_parquet_files(path: str) -> int:
    """Parquet data files under `path` (a driver-local walk: the sinks
    and indexes share a local-filesystem contract; on an object store
    this is one listing call)."""
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def changesets_as_audit_log(cs: DataFrame) -> DataFrame:
    """Typed changesets → faithful AUDIT_LOG_SCHEMA form: values as raw
    JSON strings (db/sql.go:14-24; NULL new_values for DELETE, NULL
    old_values for INSERT, db/sql.go:72-110).

    old_values is the PRE-IMAGE — the row's previous version by
    (table, pk) id order (one window shuffle), the way a real audit
    trigger records it — not a copy of the post-change row. Without
    it, every synthesized UPDATE has old == new and per-column diff
    logic downstream is only ever exercised with degenerate input. An
    UPDATE/DELETE with no recorded prior version falls back to its own
    values (matching the previous NULL-ness contract: has_old depends
    only on the action)."""
    from pyspark.sql.window import Window

    row_json = F.to_json(F.struct("pk", "user_id", "event_type", "value"))
    prev_json = F.lag(row_json).over(
        Window.partitionBy("table_name", "pk").orderBy("id")
    )
    return cs.select(
        "id",
        "ts",
        "action",
        "schema_name",
        "table_name",
        "relid",
        F.when(F.col("action") != "DELETE", row_json).alias("new_values"),
        F.when(
            F.col("action") != "INSERT", F.coalesce(prev_json, row_json)
        ).alias("old_values"),
    )


AUDIT_LOG_DDL = (
    "id LONG, ts TIMESTAMP, action STRING, schema_name STRING, "
    "table_name STRING, relid LONG, new_values STRING, old_values STRING"
)


def read_changeset_log(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Source-format flexibility for the audit-log shape (db/sql.go:
    14-24): the same changeset pipeline ingests parquet (native), ORC,
    CSV (header row, quoted/escaped JSON payload columns — the shape a
    warehouse audit export produces), or JSONL. The schema is ALWAYS
    explicit — no inference job (an extra full scan at 100 TB) and no
    type drift between files; a column-set mismatch fails loudly at
    read, not as silent nulls mid-pipeline."""
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(AUDIT_LOG_DDL)
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    if fmt == "orc":
        return spark.read.schema(schema).orc(path)
    if fmt == "csv":
        return (
            spark.read.schema(schema)
            .option("header", "true")
            .option("escape", '"')
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .option("mode", "FAILFAST")  # malformed row = loud error,
            # not a silent null-filled changeset mid-pipeline
            .csv(path)
        )
    if fmt in ("json", "jsonl"):
        return (
            spark.read.schema(schema)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .option("mode", "FAILFAST")
            .json(path)
        )
    raise ValueError(f"unsupported changeset log format: {fmt}")
