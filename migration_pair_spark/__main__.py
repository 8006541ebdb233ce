"""CLI entry-point dispatch — reference analog: O13, the task switch in
/root/reference/Program.cs:51-60 (Extraction / Insertion / EndToEnd) mapped
to Spark-first subcommands:

    snapshot-export   table -> CSV        (reference Extraction)
    snapshot-import   CSV -> table        (reference Insertion)
    backfill          events dir -> table, one batch (reference EndToEnd)
    cdc-run           events dir -> table, streaming tail (north rule)
    compact           rewrite bucket files (maintenance)
    rescale           grow n_buckets (chunked, resumable migration)
    dedup-ingest      near-dup ingest of a doc batch vs the persisted index
    chunk-ingest      span-dedup ingest: rewrite a doc batch vs every seen chunk
    dedup-stream      the same loop as a Structured Streaming tail
    lookup            point read of one key (bucket + zone + bloom pruned)
    retention         expire old snapshots + vacuum orphan data files
    changelog         snapshot-diff change feed between two table versions
                      (--format debezium-json: replica-fan-out envelopes)
    emit-changelog    deferred span emission (everything since last emit)
    curate            documents parquet -> deduped/filtered/split corpus
    package           build the --py-files zip for spark-submit

Run as `python -m migration_pair_spark <cmd>` locally, or on a cluster as
`spark-submit --py-files $(python -m migration_pair_spark package) run_cdc.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _parse_expectations(
    p: argparse.ArgumentParser, pairs: list[str], opt: str = "--expect"
) -> dict[str, str]:
    """NAME=VALUE option values as a dict, failing as an ARGUMENT error
    naming the offending value when '=' is missing."""
    out: dict[str, str] = {}
    for e in pairs:
        name, sep, sql = e.partition("=")
        if not sep or not name:
            p.error(f"{opt} must be NAME=VALUE, got {e!r}")
        out[name] = sql
    return out


def _add_dedup_create_flags(sp: argparse.ArgumentParser) -> None:
    """The IncrementalDeduper create-time flags dedup-ingest and
    dedup-stream share (ignored once the index exists)."""
    sp.add_argument("--threshold", type=float, default=0.5,
                    help="jaccard threshold for rejection (create-time only)")
    sp.add_argument("--max-bucket", type=int, default=1000,
                    help="hot-bucket guard: LSH buckets above this size "
                         "contribute only their exemplar to candidate "
                         "generation (create-time only; 0 disables)")
    sp.add_argument("--on-bridge", choices=["error", "greedy"],
                    default="error",
                    help="policy when a batch bridges two committed "
                         "duplicate clusters (create-time only)")


def _open_index(spark, cls, root: str, **create_kw):
    """The incremental index ``cls`` at ``root``: loaded when its corpus
    table exists, else created with the create-time ``create_kw``."""
    from migration_pair_spark.lakehouse.table import LakeTable

    if LakeTable.exists(os.path.join(root, "corpus")):
        return cls(spark, root)
    return cls.create(spark, root, **create_kw)


def _pick(res: dict, keys: str) -> dict:
    """The JSON-safe entries of an ingest result: those of ``keys``
    (space-separated) that ``res`` holds."""
    return {k: res[k] for k in keys.split() if k in res}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="migration_pair_spark")
    p.add_argument("--config", help="JSON config file (EngineConfig keys)")
    sub = p.add_subparsers(dest="cmd", required=True)

    se = sub.add_parser("snapshot-export")
    se.add_argument("--table-path", required=True)
    se.add_argument("--out", required=True)
    se.add_argument("--delimiter", default=None)

    si = sub.add_parser("snapshot-import")
    si.add_argument("--csv", required=True)
    si.add_argument("--table-path", required=True)
    si.add_argument("--delimiter", default=None)

    bf = sub.add_parser("backfill")
    bf.add_argument("--events", required=True)
    bf.add_argument("--table-path", required=True)

    cr = sub.add_parser("cdc-run")
    cr.add_argument("--events", required=True)
    cr.add_argument("--table-path", required=True)
    cr.add_argument("--checkpoint", required=True)
    cr.add_argument("--max-files-per-trigger", type=int, default=None)
    cr.add_argument("--write-mode", choices=["cow", "mor"], default=None)
    cr.add_argument("--source-format", choices=["parquet", "debezium-json"],
                    default="parquet",
                    help="change-stream wire format (sources/debezium.py)")
    cr.add_argument("--on-malformed", choices=["error", "skip", "dead_letter"],
                    default="error",
                    help="debezium-json only: malformed-envelope policy")
    cr.add_argument("--dead-letter-dir", default=None,
                    help="DLQ directory for --on-malformed dead_letter")
    cr.add_argument("--canonicalize-key", action="store_true",
                    help="canonicalize the url key before LWW/bucketing "
                         "(functions/webtext.canonical_url)")
    cr.add_argument("--expect", action="append", default=[],
                    metavar="NAME=SQL",
                    help="row-level expectation (repeatable): a SQL boolean "
                         "predicate over the event columns; violators are "
                         "counted in lineage and handled per --on-violation")
    cr.add_argument("--on-violation", choices=["drop", "fail"],
                    default="drop")
    cr.add_argument("--violations-dir", default=None,
                    help="quarantine: write each batch's expectation-"
                         "violating rows (+ _violated names) under this "
                         "directory before the merge")
    cr.add_argument("--view-path", default=None,
                    help="maintain a materialized view (cdc/views.py): "
                         "refreshed after every committed batch; created "
                         "on first run from --view-dim/--view-measure")
    cr.add_argument("--view-dim", action="append", default=[],
                    help="stored base column the view groups by (repeatable)")
    cr.add_argument("--view-derived-dim", action="append", default=[],
                    metavar="NAME=SQL",
                    help="derived view group expression over base columns")
    cr.add_argument("--view-measure", action="append", default=[],
                    metavar="NAME=SQL",
                    help="summed view measure (row count 'n' is automatic)")

    cp = sub.add_parser("compact")
    cp.add_argument("--table-path", required=True)
    cp.add_argument("--sort-by", default=None,
                    help="comma-separated columns: clustered compaction — "
                         "sort rows within each bucket so zone maps get tight")
    cp.add_argument("--max-rows-per-file", type=int, default=None,
                    help="split each bucket into bounded sorted runs")

    lk = sub.add_parser("lookup")
    lk.add_argument("--table-path", required=True)
    lk.add_argument("--key", required=True,
                    help="key value (cast to the table's key type); reads "
                         "ONE bucket, zone-map + bloom file pruning apply")

    de = sub.add_parser("describe")
    de.add_argument("--table-path", required=True)
    de.add_argument("--history", action="store_true",
                    help="one JSON line per committed snapshot "
                         "(LakeTable.history metadata view)")
    de.add_argument("--files", action="store_true",
                    help="one JSON line per data file of the current "
                         "snapshot (LakeTable.files metadata view)")

    rs = sub.add_parser("rescale")
    rs.add_argument("--table-path", required=True)
    rs.add_argument("--target-buckets", type=int, required=True,
                    help="new n_buckets (exact multiple of the current "
                         "count); idempotent — re-run with the same target "
                         "to resume after a crash or confirm completion")
    rs.add_argument("--parents-per-commit", type=int, default=None,
                    help="migrate this many parent buckets per commit "
                         "(bounds the work lost to a crash); default: all")

    rt = sub.add_parser("retention")
    rt.add_argument("--table-path", required=True)
    rt.add_argument("--keep-last", type=int, default=10,
                    help="snapshots to retain (time travel horizon)")
    rt.add_argument("--older-than-s", type=float, default=3600.0,
                    help="vacuum safety horizon: unreferenced files younger "
                         "than this are kept (concurrent uncommitted writes "
                         "look like orphans)")

    vw = sub.add_parser("view-refresh")
    vw.add_argument("--table-path", required=True, help="base table")
    vw.add_argument("--view-path", required=True,
                    help="view table (created on first run)")
    vw.add_argument("--dim", action="append", default=[],
                    help="stored base column to group by (repeatable)")
    vw.add_argument("--derived-dim", action="append", default=[],
                    help="NAME=SQL group expression over base columns, "
                         "e.g. domain=parse_url(url, 'HOST')")
    vw.add_argument("--measure", action="append", default=[],
                    help="NAME=SQL summed per group (a row count 'n' is "
                         "always maintained)")
    vw.add_argument("--measure-type", action="append", default=[],
                    help="NAME=TYPE for fractional measures (default long)")

    pg = sub.add_parser("purge")
    pg.add_argument("--table-path", required=True)
    pg.add_argument("--key", action="append", default=[],
                    help="key value to erase (repeatable)")
    pg.add_argument("--keys-file", default=None,
                    help="file with one key per line (blank lines skipped)")
    pg.add_argument("--canonicalize", action="store_true",
                    help="canonicalize URLs like ingest with "
                         "canonicalize_key does (purging any crawl variant "
                         "erases the canonical page)")
    pg.add_argument("--erase-history", action="store_true",
                    help="complete erasure across retained history: expire "
                         "all but --keep-last snapshots and vacuum "
                         "unreferenced files immediately")
    pg.add_argument("--keep-last", type=int, default=1,
                    help="snapshots retained by --erase-history")
    pg.add_argument("--vacuum-older-than-s", type=float, default=3600.0,
                    help="vacuum safety horizon for --erase-history: a "
                         "CONCURRENT writer's uncommitted files look like "
                         "orphans; 0 deletes immediately and is safe ONLY "
                         "with no concurrent writers")
    pg.add_argument("--verify", action="store_true",
                    help="audit afterwards: rows still matching per "
                         "retained snapshot (empty == erasure complete)")
    pg.add_argument("--chunk-index", default=None,
                    help="extend the erasure into a CDC-swept chunk-dedup "
                         "corpus at this root (IncrementalChunkIndex."
                         "purge_source by the same keys)")

    cl = sub.add_parser("changelog")
    cl.add_argument("--table-path", required=True)
    cl.add_argument("--from-version", type=int, required=True)
    cl.add_argument("--to-version", type=int, default=None,
                    help="default: current version")
    cl.add_argument("--out", required=True)
    cl.add_argument("--format", choices=["parquet", "debezium-json"],
                    default="parquet",
                    help="debezium-json: the span as ONE envelope JSONL "
                         "file a second engine instance can ingest "
                         "(--source-format debezium-json) — replica "
                         "fan-out through the change feed")

    ec = sub.add_parser("emit-changelog")
    ec.add_argument("--table-path", required=True)
    ec.add_argument("--out", required=True,
                    help="feed directory (span covers everything since its "
                         "last emission / subscription base)")

    di = sub.add_parser("dedup-ingest")
    di.add_argument("--root", required=True,
                    help="deduper root (corpus + signature index tables; "
                         "created on first use)")
    di.add_argument("--docs", required=True,
                    help="input parquet of (doc_id, text) — the new batch")
    di.add_argument("--batch-id", required=True,
                    help="idempotency key: re-running the same batch id "
                         "replays/heals instead of double-ingesting")
    _add_dedup_create_flags(di)
    di.add_argument("--export-accepted", default=None,
                    help="optionally write the accepted corpus parquet here")

    ci = sub.add_parser("chunk-ingest")
    ci.add_argument("--root", required=True,
                    help="chunk-index root (corpus + chunk-key index tables; "
                         "created on first use)")
    ci.add_argument("--docs", required=True,
                    help="input parquet of (doc_id, text) — the new batch")
    ci.add_argument("--batch-id", required=True,
                    help="idempotency key: re-running the same batch id "
                         "replays/heals instead of double-ingesting")
    ci.add_argument("--w", type=int, default=8,
                    help="chunk width in words (create-time only)")
    ci.add_argument("--export-rewritten", default=None,
                    help="optionally write the batch's rewritten docs "
                         "parquet here")

    pb = sub.add_parser("publish")
    pb.add_argument("--table-path", required=True)
    pb.add_argument("--out", required=True,
                    help="publish root; each snapshot lands under v{N}/ "
                         "with a _PUBLISHED marker (idempotent per version)")
    pb.add_argument("--partition-by", default=None,
                    help="comma-separated partition columns (e.g. language)")
    pb.add_argument("--version", type=int, default=None,
                    help="publish a specific snapshot (default: current)")

    ds2 = sub.add_parser("dedup-sweep")
    ds2.add_argument("--table-path", required=True,
                     help="CDC pages table to sweep (new row versions by "
                          "_lsn above the index's own watermark)")
    ds2.add_argument("--index-root", required=True,
                     help="chunk-index root (created on first sweep)")
    ds2.add_argument("--text-col", default="text")
    ds2.add_argument("--w", type=int, default=8,
                     help="chunk width in words (create-time only)")

    ds = sub.add_parser("dedup-stream")
    ds.add_argument("--root", required=True)
    ds.add_argument("--docs", required=True,
                    help="directory of ordered (doc_id, text) parquet files "
                         "— tailed with availableNow")
    ds.add_argument("--checkpoint", required=True)
    ds.add_argument("--max-files-per-trigger", type=int, default=1)
    _add_dedup_create_flags(ds)

    cu = sub.add_parser("curate")
    cu.add_argument("--docs", required=True, help="input documents parquet")
    cu.add_argument("--out", required=True)
    cu.add_argument("--min-quality", type=float, default=0.0)
    cu.add_argument("--langs", default=None, help="comma-separated keep-list")
    cu.add_argument("--neardup-threshold", type=float, default=0.5)
    cu.add_argument("--benchmark", default=None,
                    help="benchmark/eval parquet to decontaminate against "
                         "(word n-gram overlap)")
    cu.add_argument("--chunk-dedup-w", type=int, default=None,
                    help="opt-in span-level dedup: rewrite each doc to the "
                         "corpus-wide first occurrences of its W-word chunks "
                         "(fully-duplicated docs drop out)")

    sub.add_parser("package")

    args = p.parse_args(argv)

    if args.cmd == "package":
        from migration_pair_spark.packaging import build_pyfiles_zip

        print(build_pyfiles_zip())
        return 0

    from migration_pair_spark.config import EngineConfig
    from migration_pair_spark.session import get_spark

    cfg = EngineConfig.load(
        args.config,
        max_files_per_trigger=getattr(args, "max_files_per_trigger", None),
        csv_delimiter=getattr(args, "delimiter", None),
    )
    spark = get_spark("mps-cli", master=cfg.master)

    if args.cmd == "snapshot-export":
        from migration_pair_spark.lakehouse.table import LakeTable
        from migration_pair_spark.sources.csv_snapshot import export_snapshot

        table = LakeTable.load(spark, args.table_path)
        cols = export_snapshot(table.read(), args.out, delimiter=cfg.csv_delimiter)
        print(json.dumps({"exported_columns": cols, "out": args.out}))
    elif args.cmd == "snapshot-import":
        from migration_pair_spark.cdc.runner import CdcPipeline
        from migration_pair_spark.sources.csv_snapshot import import_snapshot

        pipe = CdcPipeline(table_path=args.table_path, n_buckets=cfg.n_buckets)
        table = pipe.ensure_table(spark)
        df = import_snapshot(
            spark, args.csv, table.schema, delimiter=cfg.csv_delimiter,
            empty_numeric_as_zero=cfg.empty_numeric_as_zero,
        )
        version = table.append_bucketed(df)
        print(json.dumps({"snapshot": version, "rows": table.read().count()}))
    elif args.cmd == "backfill":
        from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline

        pipe = CdcPipeline(
            table_path=args.table_path,
            n_buckets=cfg.n_buckets,
            write_mode=cfg.write_mode,
        )
        events = spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(args.events)
        lineage = pipe.apply_batch(spark, events)
        print(json.dumps(lineage))
    elif args.cmd == "cdc-run":
        from migration_pair_spark.cdc.runner import CdcPipeline

        pipe = CdcPipeline(
            table_path=args.table_path,
            n_buckets=cfg.n_buckets,
            write_mode=getattr(args, "write_mode", None) or cfg.write_mode,
            source_format=args.source_format,
            on_malformed=args.on_malformed,
            dead_letter_dir=args.dead_letter_dir,
            canonicalize_key=args.canonicalize_key,
            # validated split: a missing '=' must name the flag, not die
            # inside dict() with an opaque ValueError (review-caught)
            expectations=_parse_expectations(p, args.expect),
            on_violation=args.on_violation,
            violations_dir=args.violations_dir,
        )
        on_batch = None
        if args.view_path:
            from migration_pair_spark.cdc.views import MaterializedView

            view = MaterializedView(
                spark, args.view_path, pipe.ensure_table(spark),
                dims=tuple(args.view_dim),
                derived_dims=_parse_expectations(
                    p, args.view_derived_dim, "--view-derived-dim"),
                measures=_parse_expectations(
                    p, args.view_measure, "--view-measure"),
            )
            # per-batch maintenance: refresh after each committed batch —
            # exactly-once on both sides (the view's reflected-version
            # property), so a crash between them heals on the next batch
            on_batch = lambda bid, lin: view.refresh()  # noqa: E731
        lineages = pipe.run_stream(
            spark, args.events, args.checkpoint,
            max_files_per_trigger=cfg.max_files_per_trigger,
            on_batch=on_batch,
        )
        out = {"batches": len(lineages), "lineage": lineages}
        if args.view_path:
            out["view"] = view.refresh()  # cover trailing non-batch commits
        print(json.dumps(out))
    elif args.cmd == "compact":
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        version = table.compact(
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            max_rows_per_file=args.max_rows_per_file,
        )
        print(json.dumps({"snapshot": version}))
    elif args.cmd == "rescale":
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        version = table.rescale(
            args.target_buckets, parents_per_commit=args.parents_per_commit
        )
        print(json.dumps({
            "snapshot": version, "n_buckets": table.n_buckets,
        }))
    elif args.cmd == "dedup-ingest":
        from migration_pair_spark.operators.incremental import IncrementalDeduper

        ded = _open_index(
            spark, IncrementalDeduper, args.root, threshold=args.threshold,
            max_bucket=args.max_bucket or None, on_bridge=args.on_bridge,
        )
        docs = spark.read.parquet(args.docs).select("doc_id", "text")
        res = ded.ingest(docs, args.batch_id)
        out = _pick(
            res,
            "replayed healed empty n_new n_accepted n_rejected bridges "
            "probe_buckets corpus_version index_version",
        )
        if res.get("pairs") is not None:
            out["n_pairs"] = res["pairs"].count()
        if args.export_accepted:
            ded.accepted().write.parquet(args.export_accepted, mode="errorifexists")
            out["exported"] = args.export_accepted
        print(json.dumps(out))
    elif args.cmd == "chunk-ingest":
        from migration_pair_spark.operators.incremental import IncrementalChunkIndex

        cix = _open_index(spark, IncrementalChunkIndex, args.root, w=args.w)
        docs = spark.read.parquet(args.docs).select("doc_id", "text")
        res = cix.ingest(docs, args.batch_id)
        out = _pick(
            res,
            "replayed healed empty n_new n_chunks n_kept probe_buckets "
            "corpus_version index_version",
        )
        if args.export_rewritten and res.get("rewritten") is not None:
            res["rewritten"].write.parquet(
                args.export_rewritten, mode="errorifexists"
            )
            out["exported"] = args.export_rewritten
        print(json.dumps(out))
    elif args.cmd == "publish":
        from migration_pair_spark.lakehouse.table import LakeTable
        from migration_pair_spark.sources.publish import publish_snapshot

        table = LakeTable.load(spark, args.table_path)
        d = publish_snapshot(
            table, args.out,
            partition_by=tuple(
                args.partition_by.split(",") if args.partition_by else ()
            ),
            version=args.version,
        )
        print(json.dumps({
            "published": d, "already_published": d is None,
            "version": args.version or table.version,
        }))
    elif args.cmd == "dedup-sweep":
        from migration_pair_spark.lakehouse.table import LakeTable
        from migration_pair_spark.operators.cdc_dedup import sweep_into_chunk_index
        from migration_pair_spark.operators.incremental import IncrementalChunkIndex

        pages = LakeTable.load(spark, args.table_path)
        cix = _open_index(spark, IncrementalChunkIndex, args.index_root, w=args.w)
        res = sweep_into_chunk_index(pages, cix, text_col=args.text_col)
        print(json.dumps(_pick(
            res,
            "replayed healed empty n_new n_chunks n_kept sweep_from_lsn "
            "corpus_version index_version",
        )))
    elif args.cmd == "dedup-stream":
        from migration_pair_spark.operators.incremental import IncrementalDeduper
        from migration_pair_spark.streaming.dedup_stream import run_dedup_stream

        ded = _open_index(
            spark, IncrementalDeduper, args.root, threshold=args.threshold,
            max_bucket=args.max_bucket or None, on_bridge=args.on_bridge,
        )
        results = run_dedup_stream(
            spark, ded, args.docs, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        print(json.dumps({"batches": len(results), "stats": results}))
    elif args.cmd == "retention":
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        expired = table.expire_snapshots(keep_last=args.keep_last)
        deleted = table.vacuum(older_than_s=args.older_than_s)
        print(json.dumps({
            "expired_snapshots": expired,
            "deleted_files": len(deleted),
            "retained_snapshots": table.snapshot_versions(),
        }))
    elif args.cmd == "view-refresh":
        from migration_pair_spark.cdc.views import MaterializedView
        from migration_pair_spark.lakehouse.table import LakeTable

        base = LakeTable.load(spark, args.table_path)
        view = MaterializedView(
            spark,
            args.view_path,
            base,
            dims=tuple(args.dim),
            derived_dims=_parse_expectations(p, args.derived_dim, "--derived-dim"),
            measures=_parse_expectations(p, args.measure, "--measure"),
            measure_types=_parse_expectations(p, args.measure_type, "--measure-type"),
        )
        out = view.refresh()
        out["rows"] = view.view.read().count()
        print(json.dumps(out))
    elif args.cmd == "purge":
        from pyspark.sql import functions as F

        from migration_pair_spark.lakehouse.table import LakeTable

        keys = list(args.key)
        if args.keys_file:
            with open(args.keys_file) as fh:
                keys.extend(line.strip() for line in fh if line.strip())
        if not keys:
            p.error("purge needs at least one --key or a --keys-file")
        table = LakeTable.load(spark, args.table_path)
        kdf = table._purge_keys_df(keys)
        if args.canonicalize:
            from migration_pair_spark.functions.webtext import canonical_url

            k = F.col(table.key_col)
            kdf = kdf.withColumn(table.key_col, F.coalesce(canonical_url(k), k))
        ix = None
        if args.chunk_index:
            from migration_pair_spark.operators.incremental import (
                IncrementalChunkIndex,
            )

            # load + lag-check BEFORE any commit: purge_source refusing
            # AFTER the table purge would abort the CLI with the table
            # half-purged and no JSON reporting it (review-caught)
            ix = IncrementalChunkIndex(spark, args.chunk_index)
            pending = ix.pending_ranges()
            if pending:
                p.error(
                    f"--chunk-index: index lags the corpus (pending id "
                    f"ranges {pending}) — run a sweep/ingest first (it "
                    f"heals automatically); nothing was purged"
                )
        version = table.purge_keys(kdf)
        out = {"snapshot_id": version, "lineage": table.lineage}
        if ix is not None:
            # purge_source re-checks pending ranges internally: a sweep or
            # ingest racing this CLI between the pre-check above and here
            # can make it refuse AFTER the table purge committed. Surface
            # the partial state in the JSON (pages purged, chunk corpus
            # untouched) and exit nonzero so the operator re-runs after
            # the sweep, instead of aborting with no record
            # (advisor-caught).
            try:
                out["chunk_corpus_version"] = ix.purge_source(kdf)
                out["chunk_corpus_lineage"] = ix.corpus.lineage
            except ValueError as e:
                out["chunk_corpus_error"] = str(e)
                print(json.dumps(out))
                sys.exit(3)
        if args.erase_history:
            out["expired_versions"] = table.expire_snapshots(
                keep_last=args.keep_last
            )
            out["vacuumed_files"] = len(
                table.vacuum(older_than_s=args.vacuum_older_than_s)
            )
        if args.verify:
            out["remaining_by_version"] = {
                str(v): n for v, n in table.verify_purged(kdf).items()
            }
        print(json.dumps(out))
    elif args.cmd == "emit-changelog":
        from migration_pair_spark.cdc.changelog import emit_span
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        d = emit_span(table, args.out)
        print(json.dumps({
            "out": d,
            "emitted": d is not None,
            "rows": spark.read.parquet(d).count() if d else 0,
            "to_version": table.version,
        }))
    elif args.cmd == "changelog":
        from migration_pair_spark.cdc.changelog import materialize_changelog
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        v_to = args.to_version if args.to_version is not None else table.version
        versions = set(table.snapshot_versions())
        if args.from_version not in versions or v_to not in versions:
            p.error(f"unknown snapshot version (have {sorted(versions)})")
        if args.from_version >= v_to:
            p.error(
                f"--from-version must precede --to-version "
                f"({args.from_version} >= {v_to}): a reversed diff would emit "
                f"an inverted feed"
            )
        if args.format == "debezium-json":
            from migration_pair_spark.cdc.runner import pages_wire_payload_schema
            from migration_pair_spark.sources.debezium import (
                export_changelog_debezium,
            )

            # pages tables mirror through the standard wire schema; other
            # tables fall back to their own schema
            wire = (
                pages_wire_payload_schema()
                if table.key_col == "url"
                else None
            )
            f = export_changelog_debezium(
                table, args.out, args.from_version, v_to, payload_schema=wire
            )
            print(json.dumps({
                "out": f, "from": args.from_version, "to": v_to,
                "already_exported": f is None,
            }))
            return 0
        d = materialize_changelog(table, args.out, args.from_version, v_to)
        # idempotent replay: the directory is deterministic, report it even
        # when this invocation materialized nothing
        out_dir = d or os.path.join(
            args.out, f"v{args.from_version:08d}-v{v_to:08d}"
        )
        print(json.dumps({
            "out": out_dir, "from": args.from_version, "to": v_to,
            "rows": spark.read.parquet(out_dir).count(),
            "already_materialized": d is None,
        }))
    elif args.cmd == "curate":
        from migration_pair_spark.operators.curate import curate_corpus, write_curated

        docs = spark.read.parquet(args.docs)
        curated = curate_corpus(
            docs,
            min_quality=args.min_quality,
            langs=tuple(args.langs.split(",")) if args.langs else None,
            neardup_threshold=args.neardup_threshold,
            benchmark=spark.read.parquet(args.benchmark) if args.benchmark else None,
            chunk_dedup_w=args.chunk_dedup_w,
        )
        stats = write_curated(curated, args.out)
        print(json.dumps({"out": args.out, "splits": stats}))
    elif args.cmd == "lookup":
        from pyspark.sql import types as T

        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        kt = table.schema[table.key_col].dataType
        if isinstance(kt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            try:
                key = int(args.key)
            except ValueError:
                # argument error naming the value, not a raw traceback —
                # same contract as --expect (review-caught)
                p.error(
                    f"--key must be an integer for key column "
                    f"{table.key_col!r} ({kt.simpleString()}), got {args.key!r}"
                )
        else:
            key = args.key
        rows = [r.asDict() for r in table.lookup(key).collect()]
        print(json.dumps({"key": key, "rows": rows}, default=str))
    elif args.cmd == "describe":
        from migration_pair_spark.lakehouse.table import LakeTable

        table = LakeTable.load(spark, args.table_path)
        if args.history or args.files:
            view = table.history() if args.history else table.files()
            for r in view.collect():
                print(json.dumps(r.asDict()))
            return 0
        m = table.manifest
        print(json.dumps({
            "version": m["version"],
            "schema": table.schema.simpleString(),
            "schema_version": m["schema_version"],
            "key_col": m["key_col"],
            "n_buckets": m["n_buckets"],
            "mor": table.is_merge_on_read,
            "properties": m["properties"],
            "snapshots": table.snapshot_versions(),
            "files": sum(len(fs) for fs in m["buckets"].values()),
            "last_lineage": m["lineage"],
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
