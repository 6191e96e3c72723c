"""`python -m warp_pipe_spark` — the CLI streamer (§3.1 parity).

Mirrors cmd/warp-pipe + internal/cli/warp_pipe.go: stream changesets
as ONE JSON OBJECT PER LINE on stdout, with the reference's flags —
start-from-id / start-from-ts, replication-mode, whitelist/ignore
tables, log-level — plus the setup-db / teardown-db subcommands
(internal/cli/db.go), which here emit the DDL statement list a
driver-side connection would execute.

The source is a changeset parquet directory (the audit-log shape this
repo reads/writes everywhere) instead of a live Postgres socket — the
sandbox has no Postgres; against a real one the same pipeline runs off
jdbc.keyset_fetch. Output shape is exactly the reference's
`json.Marshal(Changeset)` (changeset.go:37-43) via to_reference_json.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="warp-pipe-spark",
        description="Stream changesets from a changeset log as JSON lines.",
    )
    p.add_argument("--source", help="changeset parquet dir (audit-log shape)")
    p.add_argument("-L", "--log-level", default="info")
    # default None = infer the source shape from its columns; an
    # explicit -M forces the branch (reference parity: config.go's
    # mode flag decides, it never sniffs)
    p.add_argument(
        "-M", "--replication-mode", choices=("lr", "audit"), default=None
    )
    p.add_argument("--start-from-id", type=int, default=-1)
    p.add_argument("--start-from-ts", default=None)
    p.add_argument("-w", "--whitelist-tables", action="append", default=None)
    p.add_argument("-i", "--ignore-tables", action="append", default=None)
    p.add_argument("--limit", type=int, default=None, help="stop after N changesets")
    sub = p.add_subparsers(dest="command")
    sp = sub.add_parser("setup-db", help="print the audit-schema DDL (S10)")
    sp.add_argument("--schema", default="warp_pipe")
    tp = sub.add_parser("teardown-db", help="print the teardown DDL (S11)")
    tp.add_argument("--schema", default="warp_pipe")
    cc = sub.add_parser(
        "corpus-clean",
        help="exact + near-dup dedup a documents parquet dir (keepers out)",
    )
    cc.add_argument("--docs", required=True, help="documents parquet dir/file")
    cc.add_argument("--out", required=True, help="output parquet dir")
    cc.add_argument("--max-bucket", type=int, default=1000)
    cc.add_argument(
        "--keep-best",
        action="store_true",
        help="keep the highest classifier-scored doc per near-dup "
        "cluster instead of the min doc_id",
    )
    cu = sub.add_parser(
        "corpus-curate",
        help="ONE command from a documents parquet dir to curated "
        "WebDataset shards: dedup -> line scrub -> decontaminate -> "
        "quality gate + PII scrub -> DSIR target selection -> "
        "temperature mix -> token budget "
        "-> deterministic tars + manifest (optional stages off unless "
        "their flag is set)",
    )
    cu.add_argument("--docs", required=True, help="documents parquet dir/file")
    cu.add_argument("--out", required=True, help="shard output dir")
    cu.add_argument("--max-bucket", type=int, default=1000)
    cu.add_argument("--keep-best", action="store_true")
    cu.add_argument(
        "--bloom-index",
        default=None,
        help="write_bloom directory of a PREVIOUS snapshot's doc_ids "
        "(datapipe.bloom.write_bloom — m_bits/k_hashes travel with "
        "the index); enables the stage-0 cross-snapshot exact-key "
        "gate (drops maybe-members before any other stage)",
    )
    cu.add_argument(
        "--min-line-docs",
        type=int,
        default=0,
        help=">=2 enables the C4-style cross-corpus line scrub at this "
        "distinct-doc threshold",
    )
    cu.add_argument(
        "--dedup-spans",
        type=int,
        default=0,
        help=">=2 enables ExactSubstr repeated-span removal at this "
        "n-gram width (50 = the Lee et al. setting)",
    )
    cu.add_argument(
        "--benchmark",
        default=None,
        help="eval-set parquet (doc_id, text); enables 13-gram "
        "decontamination against it",
    )
    cu.add_argument(
        "--dsir-target",
        default=None,
        help="target-sample parquet (doc_id, text); with --dsir-keep, "
        "enables DSIR target-likeness selection (Gumbel-top-k docs "
        "drawn proportional to hashed-ngram importance weight)",
    )
    cu.add_argument(
        "--dsir-keep",
        type=int,
        default=None,
        help="how many docs DSIR selection draws",
    )
    cu.add_argument(
        "--alpha",
        type=float,
        default=None,
        help="enables temperature mixture rebalancing at this alpha",
    )
    cu.add_argument("--group-col", default="source")
    cu.add_argument(
        "--budget",
        type=int,
        default=None,
        help="enables token-budget selection (keep best-scoring docs "
        "whose cumulative tokens fit)",
    )
    cu.add_argument("--n-shards", type=int, default=8)
    cp = sub.add_parser(
        "corpus-pack",
        help="write the chunk-packing layout for a documents parquet dir",
    )
    cp.add_argument("--docs", required=True)
    cp.add_argument("--out", required=True)
    cp.add_argument("--chunk-tokens", type=int, default=512)
    cp.add_argument("--shards", type=int, default=8)
    cs = sub.add_parser(
        "corpus-shard",
        help="package a documents parquet dir as deterministic "
        "WebDataset tar shards + manifest",
    )
    cs.add_argument("--docs", required=True)
    cs.add_argument("--out", required=True)
    cs.add_argument("--n-shards", type=int, default=8)
    qg = sub.add_parser(
        "quality-gate",
        help="gate a documents parquet dir: accept (PII-scrubbed) / "
        "reject (audit reasons) parquet out",
    )
    qg.add_argument("--docs", required=True)
    qg.add_argument(
        "--out", required=True, help="gate ledger dir (accept/ + reject/), replaced"
    )
    lt = sub.add_parser(
        "live-tail",
        help="tail a live Postgres logical-replication slot into a "
        "JSONL drop dir (S1; the reference CLI's LR mode). "
        "--plugin pgoutput needs no server-side install",
    )
    lt.add_argument("--host", default="127.0.0.1")
    lt.add_argument("--port", type=int, default=5432)
    lt.add_argument("--dbname", required=True)
    lt.add_argument("--user", required=True)
    lt.add_argument("--slot", required=True)
    lt.add_argument(
        "--plugin", choices=("wal2json", "pgoutput"), default="wal2json"
    )
    lt.add_argument(
        "--publication",
        default=None,
        help="publication name (REQUIRED with --plugin pgoutput)",
    )
    lt.add_argument("--drop-dir", required=True)
    lt.add_argument(
        "--create-slot",
        action="store_true",
        help="CREATE_REPLICATION_SLOT first (idempotent)",
    )
    lt.add_argument("--start-lsn", type=int, default=0)
    lt.add_argument(
        "--max-messages",
        type=int,
        default=None,
        help="bounded drain: stop after N messages (wal2json) / "
        "N changes at a transaction boundary (pgoutput)",
    )
    lt.add_argument(
        "--idle-timeout",
        type=float,
        default=None,
        help="exit once the wire is idle this many seconds",
    )
    lt.add_argument(
        "--bootstrap-table",
        default=None,
        help="gap-free initial load: create the slot with an EXPORTED "
        "snapshot, write this table's rows (row_to_json JSONL) to "
        "--bootstrap-out, then tail from the slot's consistent point "
        "— every change lands exactly once across seed+tail",
    )
    lt.add_argument(
        "--bootstrap-out",
        default=None,
        help="seed JSONL path (REQUIRED with --bootstrap-table)",
    )
    lt.add_argument(
        "--proto-version",
        type=int,
        choices=(1, 2, 3),
        default=1,
        help="pgoutput protocol version; 2 additionally negotiates "
        "streaming=on (PG 14+: in-progress transactions stream before "
        "they commit), 3 adds two_phase=on (PG 15+, needs a TWO_PHASE "
        "slot: prepared transactions emit at COMMIT PREPARED). The "
        "drop dir receives committed transactions only under every "
        "version",
    )
    lt.add_argument(
        "--binary",
        action="store_true",
        help="negotiate pgoutput binary tuple mode (PG 14+): cells "
        "arrive in each type's binary wire format and are rendered "
        "back to canonical text, so the drop-dir documents are "
        "byte-identical to a text-mode tail",
    )
    return p


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    args = build_parser().parse_args(argv)

    if args.command == "setup-db":
        from warp_pipe_spark.jdbc import setup_ddl

        for stmt in setup_ddl(args.schema):
            print(stmt + ";", file=out)
        return 0
    if args.command == "teardown-db":
        from warp_pipe_spark.jdbc import teardown_ddl

        for stmt in teardown_ddl(args.schema):
            print(stmt + ";", file=out)
        return 0
    if args.command == "corpus-clean":
        # keepers = exact-dup group representatives minus near-dup
        # cluster non-representatives (the docs_clean_corpus dedup
        # core, operable from the shell). The keep_best caveats — the
        # keepers-only argmax and the deliberate divergence from the
        # registered docs_cluster_keep_best reporting query — live in
        # curate.dedup_survivors, which corpus-curate shares.
        from warp_pipe_spark.datapipe.curate import dedup_survivors
        from warp_pipe_spark.session import get_spark

        spark = get_spark("warp_pipe_corpus")
        docs = spark.read.parquet(args.docs)
        dedup_survivors(
            docs, max_bucket=args.max_bucket, keep_best=args.keep_best
        ).write.mode("overwrite").parquet(args.out)
        n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
        print(f"kept {n_out} of {n_in} documents -> {args.out}", file=out)
        return 0
    if args.command == "corpus-curate":
        from warp_pipe_spark.datapipe.curate import curate_corpus
        from warp_pipe_spark.session import get_spark

        spark = get_spark("warp_pipe_corpus")
        docs = spark.read.parquet(args.docs)
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        dsir_target = (
            spark.read.parquet(args.dsir_target)
            if args.dsir_target
            else None
        )
        manifest, stats = curate_corpus(
            docs,
            args.out,
            max_bucket=args.max_bucket,
            keep_best=args.keep_best,
            bloom_index=args.bloom_index,
            min_line_docs=args.min_line_docs,
            span_ngrams=args.dedup_spans,
            benchmark=bench,
            dsir_target=dsir_target,
            dsir_keep=args.dsir_keep,
            alpha=args.alpha,
            group_col=args.group_col,
            budget=args.budget,
            n_shards=args.n_shards,
        )
        print(json.dumps({"stats": stats}), file=out)
        for r in manifest:
            print(
                json.dumps(
                    {
                        "shard": r["shard"],
                        "n_docs": r["n_docs"],
                        "n_bytes": r["n_bytes"],
                        "sha256": r["sha256"],
                    }
                ),
                file=out,
            )
        return 0
    if args.command == "corpus-shard":
        from warp_pipe_spark.datapipe.shards import write_webdataset
        from warp_pipe_spark.session import get_spark

        spark = get_spark("warp_pipe_corpus")
        docs = spark.read.parquet(args.docs)
        manifest = write_webdataset(
            docs, args.out, n_shards=args.n_shards
        ).orderBy("shard").collect()
        for r in manifest:
            print(
                json.dumps(
                    {
                        "shard": r["shard"],
                        "n_docs": r["n_docs"],
                        "n_bytes": r["n_bytes"],
                        "sha256": r["sha256"],
                    }
                ),
                file=out,
            )
        return 0
    if args.command == "corpus-pack":
        from warp_pipe_spark.datapipe.sampling import pack_chunks
        from warp_pipe_spark.session import get_spark

        spark = get_spark("warp_pipe_corpus")
        docs = spark.read.parquet(args.docs)
        pack_chunks(
            docs, chunk_tokens=args.chunk_tokens, n_shards=args.shards
        ).write.mode("overwrite").parquet(args.out)
        print(f"packed layout -> {args.out}", file=out)
        return 0
    if args.command == "quality-gate":
        import os

        from warp_pipe_spark.datapipe.ingest import CorpusQualityGateSink
        from warp_pipe_spark.io import INDEX_MANIFEST
        from warp_pipe_spark.session import get_spark

        spark = get_spark("warp_pipe_corpus")
        docs = spark.read.parquet(args.docs)
        # a rerun replaces the output: with no manifest the sink's first
        # batch rebuilds the ledger, deleting the previous run's rows
        if os.path.exists(manifest := os.path.join(args.out, INDEX_MANIFEST)):
            os.remove(manifest)
        sink = CorpusQualityGateSink(spark, args.out)
        sink(docs, 0)
        n_acc = sink.accepted().count()
        rej = sink.rejected()
        n_rej = rej.count() if rej is not None else 0
        print(
            f"accepted {n_acc} / rejected {n_rej} -> {args.out}", file=out
        )
        return 0

    if args.command == "live-tail":
        # the only Spark-free command: socket -> drop dir, exactly the
        # reference CLI's LR mode (a downstream wal2json_stream /
        # batch decode job consumes the drop dir). No JDBC, no driver.
        from warp_pipe_spark.io import publish_file
        from warp_pipe_spark.lr_client import LRClient, tail_to_drop_dir
        from warp_pipe_spark.pgoutput import tail_pgoutput_to_drop_dir

        if args.plugin == "pgoutput" and not args.publication:
            print(
                "error: --plugin pgoutput requires --publication "
                "(CREATE PUBLICATION ... FOR TABLE ... on the source)",
                file=sys.stderr,
            )
            return 2
        if args.bootstrap_table and not args.bootstrap_out:
            print(
                "error: --bootstrap-table requires --bootstrap-out "
                "(the seed JSONL path)",
                file=sys.stderr,
            )
            return 2
        client = LRClient(
            args.host,
            args.port,
            args.dbname,
            args.user,
            args.slot,
            plugin=args.plugin,
        )
        client.connect()
        bootstrap_rows = None
        start_lsn = args.start_lsn
        try:
            if args.bootstrap_table:
                # gap-free initial load: the slot's exported snapshot
                # feeds the seed file, the tail resumes from the
                # consistent point — every change lands exactly once
                # (see LRClient.create_slot_with_snapshot). The seed is
                # one row_to_json JSONL per row, durably published
                # (fsync, then rename) BEFORE the snapshot's validity
                # window closes (the tail's START_REPLICATION is this
                # connection's next command).
                lsn, snap = client.create_slot_with_snapshot()
                reader = LRClient(
                    args.host, args.port, args.dbname, args.user,
                    args.slot + "_boot",
                )
                reader.connect(replication=False)
                try:
                    rows = reader.snapshot_read(
                        snap,
                        "SELECT row_to_json(t) FROM "
                        f"{args.bootstrap_table} t",
                    )
                finally:
                    reader.close()
                publish_file(
                    args.bootstrap_out,
                    ((doc + "\n").encode() for (doc,) in rows),
                )
                bootstrap_rows, start_lsn = len(rows), lsn
            elif args.create_slot:
                client.create_slot(if_not_exists=True)
            if args.plugin == "pgoutput":
                n = tail_pgoutput_to_drop_dir(
                    client,
                    args.drop_dir,
                    publication=args.publication,
                    start_lsn=start_lsn,
                    max_changes=args.max_messages,
                    idle_timeout_s=args.idle_timeout,
                    proto_version=args.proto_version,
                    binary=args.binary,
                )
            else:
                n = tail_to_drop_dir(
                    client,
                    args.drop_dir,
                    start_lsn=start_lsn,
                    max_messages=args.max_messages,
                    idle_timeout_s=args.idle_timeout,
                )
        finally:
            try:
                client.close()
            except OSError:
                pass
        print(
            json.dumps(
                {"consumed": n, "drop_dir": args.drop_dir,
                 "plugin": args.plugin, "bootstrap_rows": bootstrap_rows,
                 "start_lsn": start_lsn}
            ),
            file=out,
        )
        return 0

    if not args.source:
        print("error: --source is required to stream", file=sys.stderr)
        return 2

    from warp_pipe_spark.changeset import to_reference_json
    from warp_pipe_spark.filters import ignore_tables, whitelist_tables
    from warp_pipe_spark.session import get_spark
    from warp_pipe_spark.store import ChangesetStore
    from warp_pipe_spark.warp_pipe import parse_log_level

    parse_log_level(args.log_level)  # validate exactly like config.go

    spark = get_spark("warp_pipe_cli")
    store = ChangesetStore.from_parquet(spark, args.source)
    cs = store.df
    # shape detection FIRST: the audit-log shape carries
    # (schema_name, table_name, ts); the decoded-changeset shape the
    # else-branch below supports carries (schema, table, timestamp).
    # Filters and --start-from-ts must address the columns the source
    # actually has, or every flag crashes on the decoded shape.
    # an explicit -M forces the branch (audit = raw audit-log rows to
    # decode; lr = already-decoded changeset rows); default infers
    # from the columns present
    if args.replication_mode is not None:
        audit_shape = args.replication_mode == "audit"
    else:
        audit_shape = {"new_values", "old_values", "action"} <= set(cs.columns)
    schema_col = "schema_name" if audit_shape else "schema"
    table_col = "table_name" if audit_shape else "table"
    if not audit_shape and "timestamp" in cs.columns:
        store.ts_col = "timestamp"
    if args.start_from_id >= 0:
        cs = store.since_id(args.start_from_id)
    elif args.start_from_ts:
        cs = store.since_timestamp(args.start_from_ts)
    else:
        cs = cs.orderBy(store.id_col)
    if args.whitelist_tables:
        cs = whitelist_tables(
            cs, args.whitelist_tables, schema_col=schema_col, table_col=table_col
        )
    if args.ignore_tables:
        cs = ignore_tables(
            cs, args.ignore_tables, schema_col=schema_col, table_col=table_col
        )
    if args.limit is not None:
        cs = cs.limit(args.limit)

    # → the reference's exact Changeset JSON wire shape. Both branches
    # emit the SAME schema (id, kind, schema, table, timestamp,
    # new_values, old_values; zero-time when no ts exists — Go's
    # json.Marshal of time.Time zero value). The sort is applied to the
    # input BEFORE the narrow json projection, which preserves it.
    from pyspark.sql import functions as F

    from warp_pipe_spark.decoders import decode_audit_values

    if audit_shape:
        dec = decode_audit_values(cs)
        # same UTC shift as changeset.to_reference_json: the 'Z' claims
        # UTC, so render the UTC wall clock in ANY session timezone
        ts = F.coalesce(
            F.date_format(
                F.to_utc_timestamp(F.col("timestamp"), F.current_timezone()),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ),
            F.lit("0001-01-01T00:00:00Z"),
        )
        jsonl = dec.orderBy("id").select(
            F.to_json(
                F.struct(
                    "id",
                    "kind",
                    "schema",
                    "table",
                    ts.alias("timestamp"),
                    "new_values",
                    "old_values",
                )
            ).alias("json")
        )
    else:
        jsonl = to_reference_json(cs.orderBy(store.id_col))
    for row in jsonl.toLocalIterator():
        print(row["json"], file=out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
