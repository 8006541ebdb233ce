"""CDC -> dedup-sweep soak: a change stream tailed into the pages table
with a chunk-index sweep after EVERY micro-batch (operators/cdc_dedup.py),
the steady-state shape of the "crawl churn -> deduped training text" loop.

Claims recorded / asserted:
- per-sweep wall FLATNESS: sweep cost must track the batch's new rows, not
  the accumulated table or index size (zone maps prune the pages scan;
  the chunk probe is bucket-pruned);
- bounded gate state: the corpus/index applied-interval sets stay at ONE
  interval under monotone sweeps, regardless of sweep count;
- end-state equivalence: after N incremental sweeps, per-doc rewritten
  text equals a FROM-SCRATCH single-batch ingest of the same doc set into
  a fresh index (exact-match chunk dedup is globally minimal, so
  sequential == batch exactly);
- sweep idempotence: a final extra sweep is empty.

Usage: python scripts/sweep_soak.py [n_events] [n_batches] [cores] [cap].
Writes everything under /dev/shm and prints one JSON line. ``cap`` > 0
enables per-sweep auto-compaction of the chunk corpus/index at that
files-per-bucket bound (r6 maintenance optimization) — the output's
``max_files_per_bucket`` shows the growth it prevents.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from migration_pair_spark import synth
from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable
from migration_pair_spark.operators.cdc_dedup import sweep_into_chunk_index
from migration_pair_spark.operators.incremental import (
    IncrementalChunkIndex,
    applied_ranges,
)
from migration_pair_spark.session import get_spark


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cap = int(sys.argv[4]) if len(sys.argv) > 4 else 0

    spark = get_spark(
        f"sweep-soak{cores}", master=f"local[{cores}]", shuffle_partitions=cores
    )
    work = tempfile.mkdtemp(prefix="mps-sweep-soak-", dir="/dev/shm")
    try:
        _run(spark, work, n_events, n_batches, cap)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(spark, work, n_events, n_batches, cap=0):
    ev_dir = os.path.join(work, "events")
    synth.write_change_stream(
        ev_dir, n_events, n_events // 5, n_files=n_batches, seed=7,
        words_per_doc=80,
    )
    pipe = CdcPipeline(
        table_path=os.path.join(work, "t"),
        n_buckets=32,
        salt_buckets=16,
        stats_cols=("warc_ts", "_lsn"),
    )
    ix = IncrementalChunkIndex.create(
        spark, os.path.join(work, "ix"), corpus_buckets=16, index_buckets=16
    )
    files = sorted(
        os.path.join(ev_dir, f)
        for f in os.listdir(ev_dir)
        if f.endswith(".parquet")
    )
    apply_walls, sweep_walls, sweep_rows = [], [], []
    pages = None
    t_all = time.monotonic()
    for i, f in enumerate(files):
        batch = spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(f)
        t0 = time.monotonic()
        pipe.apply_batch(spark, batch, batch_id=i)
        apply_walls.append(round(time.monotonic() - t0, 2))
        if pages is None:
            pages = LakeTable.load(spark, pipe.table_path)
        t0 = time.monotonic()
        res = sweep_into_chunk_index(
            pages, ix, auto_compact_files_per_bucket=cap
        )
        sweep_walls.append(round(time.monotonic() - t0, 2))
        sweep_rows.append(res.get("n_new", 0))
    total = time.monotonic() - t_all

    # gate state stays bounded: one interval per table under monotone sweeps
    corpus_ranges = applied_ranges(ix.corpus)
    index_ranges = applied_ranges(ix.index)
    assert len(corpus_ranges) == 1, corpus_ranges
    assert len(index_ranges) == 1, index_ranges

    # idempotence: nothing left to sweep
    extra = sweep_into_chunk_index(pages, ix)
    assert extra.get("empty"), extra

    # end-state equivalence vs a from-scratch single-batch ingest
    swept = ix.corpus.read().select("doc_id", "text")
    fresh = IncrementalChunkIndex.create(
        spark, os.path.join(work, "ix_fresh"), corpus_buckets=16,
        index_buckets=16,
    )
    fresh.ingest(swept, "all-at-once")
    a = {
        r["doc_id"]: (r["n_kept"], r["deduped_text"])
        for r in ix.corpus.read().collect()
    }
    b = {
        r["doc_id"]: (r["n_kept"], r["deduped_text"])
        for r in fresh.corpus.read().collect()
    }
    assert a == b, f"incremental != batch: {len(a)} vs {len(b)} docs"

    n_chunks = sum(r["n_chunks"] for r in ix.corpus.read().collect())
    n_kept = sum(r["n_kept"] for r in ix.corpus.read().collect())
    fpb = {
        t: max(
            getattr(ix, a).files_per_bucket().values() or [0]
        )
        for t, a in (("corpus", "corpus"), ("index", "index"))
    }
    print(json.dumps({
        "n_events": n_events,
        "auto_compact_cap": cap,
        "max_files_per_bucket": fpb,
        "n_batches": n_batches,
        "wall_sec": round(total, 1),
        "apply_walls": apply_walls,
        "sweep_walls": sweep_walls,
        "sweep_rows": sweep_rows,
        "docs_swept": int(swept.count()),
        "chunks_total": int(n_chunks),
        "chunks_kept": int(n_kept),
        "dup_frac": round(1 - n_kept / max(n_chunks, 1), 4),
        "corpus_ranges": corpus_ranges,
        "index_ranges": index_ranges,
        "incremental_equals_batch": True,
    }))


if __name__ == "__main__":
    main()
