"""Changeset data model — the engine's single event abstraction.

Parity: reference `Changeset` struct (changeset.go:36-44) with
`ChangesetColumn{Column, Value, Type}` (changeset.go:77-81), and the
audit-table row shape (db/sql.go:14-24).

Two representations, mirroring the reference's two capture modes:

- ``CHANGESET_SCHEMA`` — normalized, order-preserving: values as
  ``ARRAY<STRUCT<column,value,type>>`` with raw-string values. This is
  the wal2json-fidelity form (column order matters, nested JSON stays an
  unparsed string — notify_listener.go:192-198).
- ``AUDIT_LOG_SCHEMA`` — the storage/log form: one row per change with
  ``new_values``/``old_values`` as raw JSON strings, exactly the
  `warp_pipe.changesets` audit table (db/sql.go:14-24). This is the
  replayable source-of-truth log; in Spark it is a parquet/Delta table
  partitionable by table_name/date for partition pruning at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- kinds (changeset.go:14-33) -------------------------------------------
KIND_INSERT = "insert"
KIND_UPDATE = "update"
KIND_DELETE = "delete"
# Not a reference kind (changeset.go:14-33 stops at delete — wal2json
# truncates never reach it), but OUR pgoutput source emits it
# (pgoutput.py truncate fan-out). It must survive normalization: folding
# it to '' would let the apply path treat a table clear as an
# upsert-shaped no-op row. Both state sinks always give it table-clear
# semantics, replay(truncate_kinds=) on request; pipelines that can't
# handle it dead-letter it via pipeline.reject_truncates().
KIND_TRUNCATE = "truncate"
# pg_logical_emit_message payloads (pgoutput.py 'M' frames) — the
# public outbox/marker mechanism. Preserved like truncate: NULL
# schema/table make them unroutable to every table sink, so they never
# fold as row changes, while outbox consumers filter kind='message'.
KIND_MESSAGE = "message"
KINDS = (KIND_INSERT, KIND_UPDATE, KIND_DELETE)
# the kind values every apply path reads as a delete / a truncate: the
# normalized kind and the audit trigger's upper-case TG_OP spelling
DELETE_KINDS = (KIND_DELETE, "DELETE")
TRUNCATE_KINDS = (KIND_TRUNCATE, "TRUNCATE")

# column triple: name, raw string value, declared source type
CHANGESET_COLUMN = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("type", T.StringType()),
    ]
)

CHANGESET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("new_values", T.ArrayType(CHANGESET_COLUMN)),
        T.StructField("old_values", T.ArrayType(CHANGESET_COLUMN)),
    ]
)

AUDIT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("ts", T.TimestampType()),
        T.StructField("action", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("relid", T.LongType()),
        T.StructField("new_values", T.StringType()),
        T.StructField("old_values", T.StringType()),
    ]
)


def normalize_kind(col: Column | str) -> Column:
    """Lower-case + enum parse; unknown kinds map to '' (changeset.go:21-33).

    `truncate` and `message` are additionally preserved (reference
    parity doesn't apply: the reference never sees either, our pgoutput
    source generates both — mapping them to '' would silently turn a
    table clear / an outbox message into an upsert-shaped no-op
    downstream).

    Pure built-in expression → stays inside whole-stage codegen.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.when(
        c.isin(*KINDS, KIND_TRUNCATE, KIND_MESSAGE), c
    ).otherwise(F.lit(""))


def column_value(values_col: Column | str, name: str) -> Column:
    """First match by column name in a values array (changeset.go:46-54).

    `filter` + `element_at` are codegen'd higher-order functions — no UDF.
    Returns NULL when absent, like the reference's (nil, error) path.
    """
    arr = F.col(values_col) if isinstance(values_col, str) else values_col
    matches = F.filter(arr, lambda x: x["column"] == F.lit(name))
    return F.when(F.size(matches) > 0, F.element_at(matches, 1)["value"])


def attribute_changes(decoded) -> "object":
    """Cell-level CDC: explode each changeset into one row PER CHANGED
    COLUMN — (id, kind, table, column, old_value, new_value). The
    row-level log answers "which rows changed"; this answers "which
    fields changed to what", the shape audit/compliance consumers and
    column-conditional triggers need.

    Input: decode_audit_values output (new_values/old_values as
    MAP<STRING,STRING>). Pure Catalyst — map_keys union + explode +
    null-safe compare, one narrow stage fused into the decode; INSERTs
    emit every non-null new column (old side NULL), DELETEs the
    reverse, UPDATEs only the columns whose value actually differs.
    """
    keys = F.array_distinct(
        F.concat(
            F.coalesce(F.map_keys("new_values"), F.array()),
            F.coalesce(F.map_keys("old_values"), F.array()),
        )
    )
    ex = decoded.select(
        "id", "kind", "table", "new_values", "old_values", F.explode(keys).alias("column")
    )
    old_v = F.try_element_at("old_values", F.col("column"))
    new_v = F.try_element_at("new_values", F.col("column"))
    return (
        ex.withColumn("old_value", old_v)
        .withColumn("new_value", new_v)
        .filter(~F.col("old_value").eqNullSafe(F.col("new_value")))
        .select("id", "kind", "table", "column", "old_value", "new_value")
    )


def to_json_lines(df) -> "Column | object":
    """S7 stdout-JSON sink shape: one JSON object per changeset
    (internal/cli/warp_pipe.go:101-114). Returns a 1-column DataFrame of
    JSON strings; callers stream/collect/write it.
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))


def to_reference_json(df, timestamp_col: str | None = None):
    """Wire-compatible `json.Marshal(Changeset)` output: the exact Go
    field names and order (changeset.go:37-43 json tags — id, kind,
    schema, table, timestamp, new_values, old_values) with
    ChangesetColumn as {column, value, type} (changeset.go:78-80).

    Go marshals a zero time.Time as "0001-01-01T00:00:00Z" — emitted
    when `timestamp_col` is None (the wal2json decode carries no
    timestamp, matching the reference's LR path). Nulls are kept
    (`"old_values":null`), as encoding/json does. One divergence,
    documented: our values are raw strings end-to-end (checksum
    fidelity, §1.3), so numeric values serialize quoted.

    Expects the normalized array form (decode_wal2json output).
    Returns a 1-column DataFrame `json`.
    """
    # render the UTC wall clock regardless of session timezone: the
    # hardcoded 'Z' claims UTC, but date_format renders the SESSION
    # zone — on a non-UTC session that emits a wrong instant (e.g.
    # America/New_York shows 08:00Z for a 12:00 UTC value). The
    # to_utc_timestamp(col, current_timezone()) shift makes the
    # session-zone rendering show the UTC clock; identity on the UTC
    # sessions get_spark() pins.
    ts = (
        F.date_format(
            F.to_utc_timestamp(F.col(timestamp_col), F.current_timezone()),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        )
        if timestamp_col
        else F.lit("0001-01-01T00:00:00Z")
    )
    payload = F.struct(
        F.col("id").alias("id"),
        F.col("kind").alias("kind"),
        F.col("schema").alias("schema"),
        F.col("table").alias("table"),
        ts.alias("timestamp"),
        F.col("new_values").alias("new_values"),
        F.col("old_values").alias("old_values"),
    )
    return df.select(
        F.to_json(payload, {"ignoreNullFields": "false"}).alias("json")
    )
