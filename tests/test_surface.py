"""The package's public surface: every public top-level function or
class in warp_pipe_spark/ is reached from code outside the test suite,
or it is listed in KEEP with the reason it stays.

A definition is reached when a non-test source (the package,
__spark_entry__.py, bench.py, examples/, tools/, perfbench/) refers to
its name by a Name, an Attribute or an import, from module-level code
or from the body of another reached definition. A reference from
inside an unreached definition does not count, so a helper whose only
caller is itself dead is reported too."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "warp_pipe_spark"
SOURCES = [ROOT / "__spark_entry__.py", ROOT / "bench.py"] + [
    p
    for d in ("warp_pipe_spark", "examples", "tools", "perfbench")
    for p in sorted((ROOT / d).rglob("*.py"))
    if not p.name.startswith("test_")
]

# name -> why it stays without a caller outside tests/: the reference
# component it mirrors (SURVEY.md §2 row ids) or the routed operator
# it completes or is the oracle for.
KEEP = {
    "audit_reader": "S3: partitioned JDBC backfill over the audit log",
    "keyset_fetch": "S2: KeysetPoller's fetch against a live audit table",
    "notify_driven_drain": "S2: the LISTEN/NOTIFY push mode",
    "read_changeset_log": "S2: the audit-log table (db/sql.go) read from exports",
    "debezium_stream": "S1: the LR listener as a Kafka+Debezium tail",
    "dedup_stream": "S1: drops the LR listener's restart redeliveries",
    "outbox_messages": "S1: consumer of the pgoutput decoder's message rows",
    "slot_lag_query": "S1: health of the slot the LR listener reads",
    "snapshot_jdbc_options": "S3: parallel backfill at the slot's snapshot",
    "retention_compact": "S6: retention delete as a log rewrite",
    "WebSocketBroadcastSink": "S8: the demo service's websocket broadcast",
    "SqlMergeExecutor": "S9/A1-A3: MergeStateSink's SQL MERGE executor",
    "DeltaMergeExecutor": "S9/A1-A3: MergeStateSink's Delta MERGE executor",
    "generate_tables_list": "S12: table discovery with include/exclude",
    "tables_list_query": "S12: the discovery SQL live Postgres runs",
    "reject_truncates": "P1: dead-letter stage for pgoutput truncates",
    "remove_column_stage": "P9: the reference pipeline's example stage",
    "uppercase_table_stage": "P9: the reference pipeline's example stage",
    "drop_where_stage": "P9: the reference pipeline's example stage",
    "primary_key_map": "A4: the driver-side primary-key cache",
    "primary_keys_query": "A4: the PK discovery SQL live Postgres runs",
    "column_sequences": "A5: serial-sequence sync",
    "column_sequences_query": "A5: the sequence discovery SQL",
    "orphan_sequence_names": "A6: orphan-sequence sync",
    "orphan_sequences_query": "A6: the orphan-sequence discovery SQL",
    "check_target_version": "A7: the target version gate",
    "ordered_md5_chain": "G3: the reference's ordered md5 hash aggregate",
    "bloom_gate": "test oracle for bloom_gate_packed",
    "bloom_gate_verified": "exact verify of the bloom gate's flagged rows",
    "BloomGateSink": "streaming form of the routed bloom probe",
    "DsirGateSink": "streaming form of the routed DSIR index score",
    "update_ivf_index": "append half of the routed IVF index",
    "read_webdataset": "test oracle for write_webdataset (corpus-shard)",
}


def _refs(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rpartition(".")[2]


def _scan():
    """(public package definitions as {name: "module.py:line"}, the
    names referenced from module-level code, {top-level definition
    name: names its body references})."""
    public, roots, bodies = {}, set(), {}
    for path in SOURCES:
        tree = ast.parse(path.read_text())
        in_package = path.is_relative_to(PACKAGE)
        for node in tree.body:
            defined = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if not (in_package and defined):
                roots.update(_refs(node))
                continue
            bodies.setdefault(node.name, set()).update(
                r for r in _refs(node) if r != node.name
            )
            if not node.name.startswith("_"):
                where = f"{path.relative_to(PACKAGE)}:{node.lineno}"
                public[node.name] = where
    return public, roots, bodies


def _reached(seeds, bodies):
    reached, todo = set(), list(seeds)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(bodies.get(name, ()))
    return reached


def test_every_public_definition_is_reached_or_kept():
    public, roots, bodies = _scan()
    reached = _reached(roots | set(KEEP), bodies)
    unreached = sorted(
        f"{where} {name}" for name, where in public.items() if name not in reached
    )
    assert not unreached, (
        "public definitions with no caller outside tests/ (delete them, "
        f"or add a KEEP reason): {unreached}"
    )

    # a KEEP entry must still be needed: its name exists and nothing
    # else reaches it (the KEEP bodies' own references count)
    without_keep = _reached(
        roots | {r for k in KEEP for r in bodies.get(k, ())}, bodies
    )
    stale = sorted(k for k in KEEP if k not in public or k in without_keep)
    assert not stale, f"KEEP entries that are gone or reached anyway: {stale}"
