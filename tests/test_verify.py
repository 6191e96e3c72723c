"""Verification digests (G3) — equal states ⇒ equal digests; any row
difference flips them; the faithful ordered chain matches a hand fold."""

import hashlib

import pytest

from warp_pipe_spark.verify import (
    ordered_md5_chain,
    row_hash,
    table_digest_scalable,
    verify_tables,
)


@pytest.fixture()
def t(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)], "id LONG, s STRING, v DOUBLE"
    )


def test_digest_equal_for_equal_multisets(spark, t):
    shuffled = t.orderBy("s", ascending=False)
    assert verify_tables(t, shuffled)


def test_digest_detects_any_difference(spark, t):
    changed = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 0.0)], "id LONG, s STRING, v DOUBLE"
    )
    assert not verify_tables(t, changed)
    missing = t.filter("id != 2")
    assert not verify_tables(t, missing)


def test_ordered_chain_matches_hand_fold(spark, t):
    # db/schema.go:311-321: fold md5(acc || md5(row)) in pk order
    hashes = [
        r["h"] for r in t.select(row_hash(t.columns).alias("h"), "id").orderBy("id").collect()
    ]
    acc = ""
    for h in hashes:
        acc = hashlib.md5((acc + h).encode()).hexdigest()
    assert ordered_md5_chain(t, ["id"]) == acc


def test_scalable_digest_is_one_row(t):
    row = table_digest_scalable(t).collect()
    assert len(row) == 1 and row[0]["row_count"] == 3


def test_digest_distinguishes_delimiter_aliased_rows(spark):
    """Values are escaped before the pipe join: without it
    ('a|b','c') and ('a','b|c') render the same canonical text and a
    literal backslash-N string aliases NULL — verify_tables would
    report convergence for tables that differ."""
    a = spark.createDataFrame([("a|b", "c")], "x STRING, y STRING")
    b = spark.createDataFrame([("a", "b|c")], "x STRING, y STRING")
    assert not verify_tables(a, b)

    lit = spark.createDataFrame([("\\N",)], "x STRING")
    nul = spark.createDataFrame([(None,)], "x STRING")
    assert not verify_tables(lit, nul)

    # escaping is a rendering detail only: equal tables still converge
    assert verify_tables(a, a.select("x", "y"))
    assert verify_tables(lit, lit.select("x"))
