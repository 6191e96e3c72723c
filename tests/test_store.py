"""ChangesetStore queries (S3-S6, G1, G2, A8) over the derived log."""

import pytest

from warp_pipe_spark.io import derive_changesets
from warp_pipe_spark.store import ChangesetStore


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    return ChangesetStore(derive_changesets(spark, sf_dir))


def test_since_id_ordered(store):
    rows = store.since_id(9000).limit(5).collect()
    assert all(r["id"] >= 9000 for r in rows)
    ids = [r["id"] for r in rows]
    assert ids == sorted(ids)


def test_since_timestamp(store):
    rows = store.since_timestamp("2024-01-02 00:00:00").limit(5).collect()
    assert rows and all(str(r["ts"]) >= "2024-01-02" for r in rows)


def test_point_lookup(store):
    rows = store.by_id(4200).collect()
    assert len(rows) == 1 and rows[0]["pk"] == 420


def test_retention(store):
    kept = ChangesetStore(store.delete_before_id(5000))
    assert kept.df.filter("id < 5000").count() == 0


def test_stats_and_convergence(store):
    stats = store.stats().collect()[0]
    assert stats["changeset_count"] > 0
    assert store.is_latest_changeset(stats["max_id"])  # A8
    assert not store.is_latest_changeset(stats["max_id"] - 1)


def test_retention_compact_rewrites_storage(spark, tmp_path):
    """S6 executed: files on disk shrink to the retained horizon —
    beyond the reference, whose delete exec is `return nil`
    (changeset_store.go:104-106)."""
    import os

    from warp_pipe_spark.store import ChangesetStore, retention_compact

    path = str(tmp_path / "cslog")
    spark.range(1, 101).selectExpr(
        "id", "timestamp('2024-01-01 00:00:00') + make_interval(0,0,0,0,0,0,id) AS ts"
    ).write.parquet(path)

    out = retention_compact(spark, path, before_id=40)
    assert out == {"kept": 61, "deleted": 39}
    # no swap debris
    assert not os.path.exists(path + "._compact")
    assert not os.path.exists(path + "._trash")

    store = ChangesetStore.from_parquet(spark, path)
    assert store.count() == 61
    ids = [r["id"] for r in store.since_id(0).collect()]
    assert ids == list(range(40, 101))


def test_retention_compact_requires_exactly_one_horizon(spark, tmp_path):
    import pytest as _pytest

    from warp_pipe_spark.store import retention_compact

    path = str(tmp_path / "cslog2")
    spark.range(3).selectExpr("id", "current_timestamp() AS ts").write.parquet(path)
    with _pytest.raises(ValueError):
        retention_compact(spark, path)
    with _pytest.raises(ValueError):
        retention_compact(spark, path, before_id=1, before_ts="2024-01-01")


def test_changeset_log_roundtrips_every_format(spark, sf_dir, tmp_path):
    """The audit-log shape must survive parquet/ORC/CSV/JSONL
    round-trips byte-identically — including NULL payload sides and
    JSON-object payload columns inside CSV quoting."""
    from warp_pipe_spark.io import (
        changesets_as_audit_log,
        derive_changesets,
        read_changeset_log,
    )

    audit = changesets_as_audit_log(derive_changesets(spark, sf_dir)).limit(200)
    want = sorted(map(tuple, audit.collect()))
    for fmt, writer in [
        ("parquet", lambda df, p: df.write.parquet(p)),
        ("orc", lambda df, p: df.write.orc(p)),
        (
            "csv",
            lambda df, p: df.write.option("header", "true")
            .option("escape", '"')
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .csv(p),
        ),
        (
            "jsonl",
            lambda df, p: df.write.option(
                "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).json(p),
        ),
    ]:
        path = str(tmp_path / f"log_{fmt}")
        writer(audit, path)
        got = sorted(map(tuple, read_changeset_log(spark, path, fmt).collect()))
        assert got == want, f"{fmt} round-trip diverged"


def test_changeset_log_failfast_on_malformed(spark, tmp_path):
    """A malformed CSV row must raise at read, never flow through as a
    silently null-filled changeset."""
    import pytest as _pytest

    from warp_pipe_spark.io import read_changeset_log

    p = tmp_path / "bad"
    p.mkdir()
    (p / "log.csv").write_text(
        "id,ts,action,schema_name,table_name,relid,new_values,old_values\n"
        'not_a_number,2024-01-01 00:00:00,INSERT,public,users,1,"{}",\n'
    )
    with _pytest.raises(Exception):
        read_changeset_log(spark, str(p), "csv").collect()


def test_audit_log_update_carries_true_pre_image(spark, sf_dir):
    """A synthesized UPDATE's old_values must be the PRE-image (the
    previous version by (table, pk) id order), not a copy of the
    post-change row — otherwise per-column diff logic downstream only
    ever sees degenerate zero-change updates."""
    import json

    from warp_pipe_spark.io import changesets_as_audit_log, derive_changesets

    audit = changesets_as_audit_log(derive_changesets(spark, sf_dir))
    upd = audit.filter("action = 'UPDATE'").limit(20).collect()
    assert upd
    for r in upd:
        old, new = json.loads(r["old_values"]), json.loads(r["new_values"])
        # the fixture's UPDATE adds 1000 to value: old != new, same pk
        assert old["pk"] == new["pk"]
        assert abs(new["value"] - old["value"] - 1000.0) < 1e-9, (old, new)
    dele = audit.filter("action = 'DELETE'").limit(5).collect()
    for r in dele:
        assert r["new_values"] is None and r["old_values"] is not None
    ins = audit.filter("action = 'INSERT'").limit(5).collect()
    for r in ins:
        assert r["old_values"] is None and r["new_values"] is not None


def test_retention_compact_keeps_and_counts_null_ts_rows(spark, tmp_path):
    """A row whose retention column is NULL cannot be proven old: it
    must be KEPT and counted — a bare `ts >= lit` predicate is NULL
    for it, destroying the row while counting it in neither 'kept'
    nor 'deleted' (unaccounted data loss from a maintenance job)."""
    import datetime as dt

    from warp_pipe_spark.store import retention_compact

    path = str(tmp_path / "log")
    rows = [
        (1, dt.datetime(2024, 1, 1)),
        (2, None),
        (3, dt.datetime(2024, 12, 1)),
    ]
    spark.createDataFrame(rows, "id LONG, ts TIMESTAMP").write.parquet(path)
    out = retention_compact(spark, path, before_ts="2024-06-01")
    assert out == {"kept": 2, "deleted": 1}
    left = {r["id"] for r in spark.read.parquet(path).collect()}
    assert left == {2, 3}
