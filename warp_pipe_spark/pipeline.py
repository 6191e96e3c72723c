"""Pipeline — composable transform stages over changesets (P1).

Parity: reference `Pipeline`/`Stage` (pipeline.go:10-89): user stages
`func(*Changeset) -> (*Changeset, error)` chained in insertion order,
with nil-return = drop and an out-of-band error channel that does NOT
stop the stream (pipeline.go:17-27).

Spark-first restatement:
  - the fast path is a **DataFrame stage**: `fn(df) -> df` composed via
    `DataFrame.transform`. Catalyst fuses the whole chain into one
    codegen'd stage — the goroutine-per-stage handoff disappears.
  - arbitrary per-record Python (the reference's escape hatch) is a
    **record stage**: `fn(dict) -> dict | None` run through Arrow-batched
    `mapInPandas` (not row-at-a-time UDFs). None = drop. An exception
    routes the record to a dead-letter side output instead of killing the
    stream (§2.8 error-channel mapping), preserved in `_wp_error`.

At scale: DataFrame stages cost nothing extra; record stages cost one
Arrow exchange per pipeline run (all record stages are fused into a
single mapInPandas pass, not one per stage).
"""

from __future__ import annotations

import json
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DataFrameStage = Callable[[DataFrame], DataFrame]
RecordStage = Callable[[dict], "dict | None"]

_ERROR_COL = "_wp_error"


@dataclass
class _Stage:
    name: str
    fn: Callable
    record_level: bool = False


@dataclass
class Pipeline:
    """Ordered stage list; `run(df)` applies all stages.

    Mirrors `NewPipeline().AddStage(name, fn)` + `P.Start`
    (pipeline.go:62-89). Stage order is execution order; consecutive
    record stages fuse into one Arrow pass.
    """

    stages: list[_Stage] = field(default_factory=list)
    _cached: list[DataFrame] = field(default_factory=list, repr=False)

    def add_stage(self, name: str, fn: DataFrameStage) -> "Pipeline":
        """Vectorized stage: fn(DataFrame) -> DataFrame. Preferred."""
        self.stages.append(_Stage(name, fn, record_level=False))
        return self

    def add_record_stage(self, name: str, fn: RecordStage) -> "Pipeline":
        """Reference-contract stage: fn(record_dict) -> dict | None.

        None drops the record (pipeline.go:38-43 nil semantics); raising
        routes the record to the dead-letter output with the error text.
        """
        self.stages.append(_Stage(name, fn, record_level=True))
        return self

    # -- execution ---------------------------------------------------------

    def run(self, df: DataFrame) -> DataFrame:
        """Apply all stages; dead-lettered records are dropped from the
        main output (use run_with_errors to keep them)."""
        out = self._apply(df)
        if _ERROR_COL in out.columns:
            out = out.filter(F.col(_ERROR_COL).isNull()).drop(_ERROR_COL)
        return out

    def run_with_errors(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Apply all stages; returns (ok, dead_letter) DataFrames —
        the Spark mapping of the reference's out-of-band error channel
        (pipeline.go:17-27: errors reported, stream continues).

        The Arrow record pass is persisted before splitting so consuming
        BOTH sides executes every record stage exactly once per record
        (not once per side). Call `unpersist()` when done with the pair.
        """
        out = self._apply(df)
        if _ERROR_COL not in out.columns:
            return out, out.limit(0).withColumn(_ERROR_COL, F.lit(None).cast("string"))
        out = out.persist()
        self._cached.append(out)
        ok = out.filter(F.col(_ERROR_COL).isNull()).drop(_ERROR_COL)
        bad = out.filter(F.col(_ERROR_COL).isNotNull())
        return ok, bad

    def unpersist(self) -> None:
        """Release DataFrames cached by run_with_errors."""
        while self._cached:
            self._cached.pop().unpersist()

    def _apply(self, df: DataFrame) -> DataFrame:
        i, n = 0, len(self.stages)
        while i < n:
            st = self.stages[i]
            if not st.record_level:
                df = df.transform(st.fn)
                i += 1
                continue
            # fuse the maximal run of consecutive record stages
            group: list[_Stage] = []
            while i < n and self.stages[i].record_level:
                group.append(self.stages[i])
                i += 1
            df = _run_record_stages(df, group)
        return df


def _run_record_stages(df: DataFrame, stages: list[_Stage]) -> DataFrame:
    """One mapInPandas pass applying each record stage in order.

    Columns are passed to user fns as a plain dict; the schema is fixed
    up front (Spark needs a static schema, unlike the reference's
    dynamic Changeset), so a stage RETURNING a key outside it is
    DEAD-LETTERED with the stage name and the offending keys — before
    round 10 such keys were silently discarded, which reads as "my
    stage ran" while its output column never existed anywhere. A stage
    OMITTING a key null-fills it (the fixed-schema mapping of the
    reference's column removal). Complex-typed columns cross as plain
    Python values.
    """
    # a record-stage group may follow an earlier group (record stages
    # separated by a DataFrame stage): the frame then ALREADY carries
    # _wp_error. Build the schema from the data fields only and append
    # exactly one error column — appending a second one makes every
    # downstream F.col('_wp_error') reference AMBIGUOUS — and thread
    # prior dead-letters through untouched (they must not be
    # re-processed by later stages or have their error overwritten).
    data_fields = [f for f in df.schema.fields if f.name != _ERROR_COL]
    out_schema = T.StructType(
        data_fields + [T.StructField(_ERROR_COL, T.StringType())]
    )
    fns = [(s.name, s.fn) for s in stages]
    in_cols = [f.name for f in data_fields]
    in_set = frozenset(in_cols)
    # Arrow maps cross the boundary as lists of (k, v) tuples; user code
    # gets/returns plain dicts (the reference's Changeset ergonomics).
    map_cols = [f.name for f in data_fields if isinstance(f.dataType, T.MapType)]

    def mapper(batches):
        import pandas as pd

        def fix_maps(rec: dict) -> dict:
            # Arrow hands maps over as tuple lists; user code gets plain
            # dicts, and Spark 4's map serializer wants dicts back
            # (convert_map calls .items()).
            for c in map_cols:
                v = rec.get(c)
                if v is not None and not isinstance(v, dict):
                    rec[c] = dict(v)
            return rec

        def pristine(rec: dict) -> dict:
            # one-level-deep copy: a user fn mutating a nested map IN
            # PLACE and then raising must not corrupt the dead-lettered
            # original (a shallow dict(rec) shares the nested dicts)
            return {
                k: dict(v) if isinstance(v, dict) else v
                for k, v in rec.items()
            }

        for pdf in batches:
            # pandas renders NULL numerics as float('nan') (a NULL long
            # column arrives as float64): user code is promised plain
            # Python values with None for NULL — `is None` checks and
            # int arithmetic must work. Only columns that actually
            # carry nulls pay the object conversion (isna().any() is a
            # cheap vectorized scan; all-null-free batches skip it).
            null_cols = [c for c in pdf.columns if pdf[c].isna().any()]
            if null_cols:
                sub = pdf[null_cols].astype(object)
                pdf[null_cols] = sub.where(sub.notna(), None)
            out_rows = []
            # pdf.to_dict("records") yields dicts we own — mutate them
            # in place; pristine(rec) below is the original kept for
            # dead-lettering (a user fn may mutate its argument and
            # THEN raise).
            for rec in pdf.to_dict("records"):
                prior_err = rec.pop(_ERROR_COL, None)
                if map_cols:
                    fix_maps(rec)
                if prior_err is not None:
                    # already dead-lettered by an earlier group
                    rec[_ERROR_COL] = prior_err
                    out_rows.append(rec)
                    continue
                err = None
                cur: dict | None = pristine(rec)
                for name, fn in fns:
                    try:
                        cur = fn(cur)
                    except Exception:
                        err = f"stage {name!r}: {traceback.format_exc(limit=1)}"
                        cur = rec  # dead-letter the original record
                        break
                    if cur is None:
                        break  # dropped
                    # C-speed superset test on the hot path; the key
                    # listing only runs on the error path
                    if not in_set.issuperset(cur):
                        extra = [k for k in cur if k not in in_set]
                        # silently discarding the keys would read as
                        # "my stage ran" while its output column never
                        # existed anywhere downstream
                        err = (
                            f"stage {name!r}: emitted column(s) "
                            f"{sorted(extra)} outside the pipeline "
                            "schema (fixed up front — see "
                            "_run_record_stages)"
                        )
                        cur = rec  # dead-letter the original record
                        break
                if cur is not None:
                    row = {k: cur.get(k) for k in in_cols}
                    if map_cols:
                        fix_maps(row)
                    row[_ERROR_COL] = err
                    out_rows.append(row)
            if out_rows:  # yielding nothing is valid for all-dropped batches
                yield pd.DataFrame(out_rows, columns=in_cols + [_ERROR_COL])

    return df.mapInPandas(mapper, schema=out_schema)


def remove_column_stage(column: str) -> RecordStage:
    """Example stage from the reference tests: PII column removal
    (pipeline_test.go:15-24) — here for map-form value dicts."""

    def fn(rec: dict) -> dict:
        for side in ("new_values", "old_values"):
            v = rec.get(side)
            if isinstance(v, dict) and column in v:
                v = dict(v)
                v.pop(column, None)
                rec[side] = v
        return rec

    return fn


def uppercase_table_stage() -> RecordStage:
    """pipeline_test.go:26-31."""

    def fn(rec: dict) -> dict:
        if rec.get("table"):
            rec["table"] = rec["table"].upper()
        return rec

    return fn


def drop_where_stage(pred: Callable[[dict], bool]) -> RecordStage:
    """pipeline_test.go:33-40 (drop test users): drop when pred is true."""

    def fn(rec: dict) -> "dict | None":
        return None if pred(rec) else rec

    return fn


def reject_truncates(kind_field: str = "kind") -> RecordStage:
    """Dead-letter `truncate` changesets. The pgoutput source emits one
    truncate change per truncated table (pgoutput.py; the reference's
    wal2json path never sees truncates, so this is surface we created);
    an apply target without table-clear semantics must never fold one
    as an upsert-shaped no-op row. Pipelines that end in a state sink
    (ParquetStateSink, MergeStateSink) or a truncate-aware fold
    (apply.replay(truncate_kinds=...)) need no stage: those always
    clear the table. Everyone else routes the truncate to the
    dead-letter output where it is an auditable event, not silent
    state corruption."""

    def fn(rec: dict) -> dict:
        if str(rec.get(kind_field) or "").lower() == "truncate":
            raise ValueError(
                f"truncate changeset for table {rec.get('table')!r} "
                "reached an apply path without table-clear semantics; "
                "handle via apply.split_truncates or clear the target"
            )
        return rec

    return fn
