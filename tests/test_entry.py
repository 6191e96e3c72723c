"""Driver-contract smoke: entry() runs, queries() and oracle_sql() are
consistent, and a fast subset hash-matches the DuckDB oracle at
sf0.001 (the full sweep lives in tools/oracle_check.py)."""

import glob
import os
import sys

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.oracle_check import table_hash
from warp_pipe_spark.io import TABLES

FAST_SUBSET = [
    "cs_count_stats",
    "cs_replay_final_state",
    "cs_checksum",
    "tpch_q1",
    "tpch_q12",
    "tpch_q21",
    "text_quality",
    "dedup_exact",
    # round-12 registrations with cheap sf0.001 oracles, so the unit
    # suite itself exercises the new query+oracle pairs every run
    "docs_dedup_lines",
    "docs_select_token_budget",
    "docs_decontaminate",
    # round-13 (retirement-funded) registrations, same rationale
    # (scrub's DUCKDB oracle side alone takes ~50 s at sf0.001 — the
    # slowest single test in the suite and pure oracle-engine cost, not
    # Spark code under test — so it rides the soak gate, r15; the
    # driver's own correctness gate and tools/oracle_check still
    # compare it every round)
    pytest.param(
        "docs_scrub_dup_spans", marks=pytest.mark.soak
    ),
    "docs_temperature_mix",
]


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_oracle_key_has_a_query():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    # full strong coverage EXCEPT the declared rows-only pair: the
    # NN-Descent iteration has no SQL replay (round-12 registration
    # note in queries()), so those two intentionally carry the
    # driver's weaker rows-only check — any OTHER oracle-less query is
    # a registration bug this test catches.
    assert set(qs) - set(os_) == {"ann_nn_descent", "ann_graph_search"}


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_oracle_subset_matches(spark, sf_dir, name):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sdf = entrymod.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(entrymod.oracle_sql()[name])
    drows = rel.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert table_hash(srows, sdf.columns) == table_hash(drows, rel.columns)


def test_capped_composite_identical_without_boilerplate(spark, sf_dir):
    """The stop-shingle cap must be pure protection, not a semantics
    change, on a corpus without boilerplate: on the synthetic testdata
    (no shingle reaches doc_freq 5 among near-dup candidates) the
    capped production composite and its uncapped eval twin must emit
    identical rows. Divergence here would mean the cap is dropping
    signal shingles, not boilerplate."""
    qs = entrymod.queries()
    a = {tuple(r) for r in qs["docs_clean_corpus"](spark, sf_dir).collect()}
    b = {
        tuple(r)
        for r in qs["docs_clean_corpus_capped"](spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


def test_oracle_types_never_widen(sf_dir):
    """Every oracle result column must be one of {BIGINT, VARCHAR,
    DOUBLE, TIMESTAMP, BOOLEAN}. DuckDB silently widens window/agg
    SUM() to HUGEINT and decimal-literal arithmetic to DECIMAL; both
    render differently under the driver's cell normalizer than the
    Spark side's LONG/DOUBLE, turning a value-identical result into a
    hash mismatch (VERDICT r5 item 1: docs_pack_chunks /
    docs_chunk_texts were red for exactly this). Pin the whole
    registry so no future registration reintroduces it."""
    allowed = {"BIGINT", "VARCHAR", "DOUBLE", "TIMESTAMP", "BOOLEAN"}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)
        bad = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if str(ty) not in allowed
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracle columns outside {sorted(allowed)} — cast them "
        f"(::BIGINT / ::DOUBLE) in the oracle SQL: {offenders}"
    )


def test_driver_window_holds_all_new_changed_and_stale_queries():
    """The driver's correctness harness checks only the FIRST 50
    queries() entries per round. Two invariants (VERDICT r2 item 8):
      - any query red in the LATEST round must be in the window (a fix
        that can't re-earn its green row isn't a fix);
      - any query never green, or whose last green row is two or more
        rounds old, must be in the window — no query drifts more than
        two rounds without a driver-verified row."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    rounds = {}
    for p in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        n = int(re.search(r"r(\d+)", p).group(1))
        with open(p) as f:
            rounds[n] = json.load(f)
    assert rounds, "no CORRECTNESS files — driver harness not run yet"
    latest = max(rounds)

    def _green(v: dict) -> bool:
        # Mirrors the rotation classifier in __spark_entry__: a
        # deliberate rows-only check (no oracle_sql entry, e.g. the
        # graph-ANN pair) comes back err="no_oracle" with spark_rows
        # recorded — the strongest row the driver can emit for it, so
        # green-EQUIVALENT, not a regression (VERDICT r12 item 1).
        return bool(
            (v.get("rows_match") and v.get("schema_match") and v.get("hash_match"))
            or (v.get("err") == "no_oracle" and v.get("spark_rows") is not None)
        )

    last_green: dict[str, int] = {}
    for n in sorted(rounds):
        for k, v in rounds[n].items():
            if _green(v):
                last_green[k] = n

    qs = list(entrymod.queries())
    window = set(qs[:50])
    red_latest = [
        k for k, v in rounds[latest].items() if not _green(v) and k in qs
    ]
    missing_red = [k for k in red_latest if k not in window]
    assert not missing_red, (
        f"queries red in round {latest} are OUTSIDE the 50-entry window: "
        f"{missing_red} — the computed rotation should have front-loaded them"
    )
    stale = [q for q in qs if last_green.get(q, 0) <= latest - 2]
    missing_stale = [q for q in stale if q not in window]
    assert not missing_stale, (
        f"queries with no green driver row since round {latest - 2} are "
        f"OUTSIDE the 50-entry window: {missing_stale} — the computed "
        f"rotation should have front-loaded them"
    )


def test_lru_rotation_policy_on_synthetic_history():
    """Pin the computed driver-window rotation (round 6 replaced the
    hand-rewritten _verify_first list): never-green queries lead in
    registration order, explicitly-changed queries follow in their
    declared order, and the rest rotate least-recently-green-first so
    the <=2-rounds-stale invariant maintains itself at capacity."""
    from __spark_entry__ import _lru_window_order

    names = ["a", "b", "c", "d", "e", "f"]
    last_green = {"a": 5, "b": 3, "d": 4, "e": 3, "f": 5}
    out = _lru_window_order(names, last_green, changed=["f", "d"])
    # c: never green -> first. f then d: changed, declared order.
    # b/e tie at round 3 -> registration order; a at 5 last.
    assert out == ["c", "f", "d", "b", "e", "a"]
    # no history at all: pure registration order within each bucket
    assert _lru_window_order(names, {}, []) == names

    # a REGRESSION (green in an earlier round, red in a later one)
    # front-loads with the never-green bucket, no manual changed-list
    # edit required: 'a' was green r5 but its latest row (r6) is red
    out = _lru_window_order(
        names, last_green, changed=["f", "d"], last_red={"a": 6}
    )
    assert out == ["a", "c", "f", "d", "b", "e"]
    # a red row OLDER than the latest green is history, not a
    # regression — ordering unchanged
    out = _lru_window_order(
        names, last_green, changed=["f", "d"], last_red={"a": 4}
    )
    assert out == ["c", "f", "d", "b", "e", "a"]
    # changed-rank is confined to the changed bucket: a never-green
    # query listed in `changed` must NOT jump ahead of earlier
    # never-green registrations (docstring's registration-order
    # contract for bucket 0)
    out = _lru_window_order(["a", "b"], {}, changed=["b"])
    assert out == ["a", "b"]


def test_changed_map_activates_only_for_the_round_being_built():
    """The changed-map self-maintains across round boundaries: a tag
    equal to latest_recorded+1 is active (that round is being built),
    an older tag has expired (its CORRECTNESS file landed), and a
    future tag queues dormant until its round opens. A skipped driver
    round leaves latest_recorded unchanged, so that round's entries
    stay active instead of silently dropping."""
    from __spark_entry__ import _active_changed

    m = {"x": 6, "y": 6, "z": 7}
    # building round 6 (latest recorded = 5): round-6 tags active,
    # the queued round-7 tag dormant
    assert _active_changed(m, 5) == ["x", "y"]
    # CORRECTNESS_r06 landed: round-6 tags expire, round-7 activates
    assert _active_changed(m, 6) == ["z"]
    # everything recorded: nothing active
    assert _active_changed(m, 7) == []
    # driver skipped the round-6 file: round-6 tags stay active
    assert _active_changed(m, 5) == ["x", "y"]
    assert _active_changed({}, 5) == []


def test_rotation_tolerates_malformed_correctness_artifact(tmp_path):
    """A truncated or legacy CORRECTNESS_r*.json whose top level is a
    JSON list (not a dict) must degrade to 'skipped' — one malformed
    artifact must not crash every queries() import site."""
    import shutil

    import __spark_entry__ as entrymod

    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        shutil.copy(p, tmp_path / os.path.basename(p))
    (tmp_path / "CORRECTNESS_r99.json").write_text('["q1", "q2"]')
    shutil.copy(os.path.join(repo, "__spark_entry__.py"), tmp_path)
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run(
        [sys.executable, "-c",
         "import __spark_entry__ as e; names = list(e.queries()); "
         "assert len(names) > 100, names"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert r.returncode == 0, r.stderr


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_temperature_mix_oracle_no_capping_precondition(sf):
    """docs_temperature_mix's oracle is single-pass SQL because at
    budget=total//2 NO group hits the water-filling cap (w·budget <
    w_total·mass for every group) — the Python loop provably no-ops.
    That is a property of the DATA (balanced sources); if the testdata
    generator ever skews a source enough to cap, this fails with the
    reason instead of the driver recording an opaque hash mismatch."""
    con = duckdb.connect()
    rows = con.sql(
        f"""
        WITH m AS (
          SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
          FROM read_parquet('{sf}/documents.parquet')
          WHERE n_chars IS NOT NULL AND source IS NOT NULL
          GROUP BY source
        ),
        w AS (
          SELECT source, mass,
                 greatest(1, CAST(round(pow(mass, 0.5) * 1000000) AS BIGINT)) AS wm
          FROM m
        )
        SELECT source,
               wm * ((SELECT sum(mass) FROM w) // 2) AS lhs,
               (SELECT sum(wm) FROM w) * mass AS rhs
        FROM w
        """
    ).fetchall()
    capped = [(s, l, r) for s, l, r in rows if l >= r]
    assert not capped, (
        f"{sf}: groups would hit the water-filling cap at budget=total//2 "
        f"— the single-pass oracle no longer replays temperature_mix: {capped}"
    )
