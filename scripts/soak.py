"""10^7-event soak: sustained steady-state CDC apply (MOR + auto-compaction
+ changelog emission), the top of the sandbox band standing in for the north
rule's 10^10 regime. Records per-batch walls (the FLATNESS is the claim:
merge-on-read batch cost must not grow with accumulated table size), final
resolved-read and compaction walls, and the lineage/interval audit.

Usage: python scripts/soak.py [n_events] [n_batches] [cores] [changelog]
[changelog_per_batch]. The literal word 'changelog' enables the MOR-default
compaction-aligned feed emission (changelog_emit='on_compact': one span per
automatic compaction, so per-batch walls carry changelog work only when a
compaction fires); 'changelog_per_batch' cuts a span after every batch
instead, for contrast (the BENCH/BASELINE.md measured ~2x slowdown
scenario). Either way each span starts at the feed's high-water mark, so
``changelog_dirs`` counts the spans. Writes everything under /dev/shm and
prints one JSON line.
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
from migration_pair_spark.cdc.apply import RANGES_PROP
from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable
from migration_pair_spark.session import get_spark


def main() -> None:
    pos = [a for a in sys.argv[1:] if a not in ("changelog", "changelog_per_batch")]
    n_events = int(pos[0]) if len(pos) > 0 else 10_000_000
    n_batches = int(pos[1]) if len(pos) > 1 else 10
    cores = int(pos[2]) if len(pos) > 2 else 8
    with_changelog = any(a.startswith("changelog") for a in sys.argv[1:])
    per_batch = "changelog_per_batch" in sys.argv[1:]

    spark = get_spark(f"soak{cores}", master=f"local[{cores}]", shuffle_partitions=cores)
    work = tempfile.mkdtemp(prefix="mps-soak-", dir="/dev/shm")
    try:
        _run(spark, work, n_events, n_batches, with_changelog, per_batch)
    finally:
        # tmpfs is RAM: a crashed soak must not strand gigabytes in /dev/shm
        shutil.rmtree(work, ignore_errors=True)


def _run(spark, work, n_events, n_batches, with_changelog, per_batch=False):
    ev_dir = os.path.join(work, "events")
    synth.write_change_stream(
        ev_dir, n_events, n_events // 5, n_files=n_batches, seed=7, words_per_doc=80
    )
    pipe = CdcPipeline(
        table_path=os.path.join(work, "t"),
        n_buckets=32,
        salt_buckets=16,
        write_mode="mor",
        auto_compact_files_per_bucket=40,
        changelog_dir=os.path.join(work, "feed") if with_changelog else None,
        changelog_emit="per_batch" if per_batch else None,
    )
    files = sorted(
        os.path.join(ev_dir, f)
        for f in os.listdir(ev_dir)
        if f.endswith(".parquet")
    )
    walls = []
    lineages = []
    t_all = time.monotonic()
    for i, f in enumerate(files):
        batch = spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(f)
        t0 = time.monotonic()
        lineages.append(pipe.apply_batch(spark, batch, batch_id=i))
        walls.append(round(time.monotonic() - t0, 2))
    total = time.monotonic() - t_all

    table = LakeTable.load(spark, pipe.table_path)
    t0 = time.monotonic()
    n_final = table.read().count()
    read_wall = time.monotonic() - t0
    t0 = time.monotonic()
    table.compact()
    compact_wall = time.monotonic() - t0

    # auto-compact annotations live on the RETURNED lineage dicts (the
    # jsonl record is appended before the maintenance pass runs)
    ranges = json.loads(table.properties[RANGES_PROP])
    feed = os.path.join(work, "feed")
    feed_dirs = (
        [d for d in os.listdir(feed) if d.startswith("v")]
        if os.path.isdir(feed)
        else []
    )
    print(json.dumps({
        "n_events": n_events,
        "n_batches": len(files),
        "events_per_sec": round(n_events / total, 1),
        "wall_sec": round(total, 1),
        "per_batch_walls": walls,
        "final_rows": n_final,
        "resolved_read_sec": round(read_wall, 2),
        "compact_sec": round(compact_wall, 2),
        "applied_ranges": ranges,
        "max_lsn": int(table.properties["engine.max_lsn"]),
        "auto_compactions": sum(
            1 for l in lineages if l.get("auto_compacted_buckets")
        ),
        "changelog": with_changelog,
        "changelog_emit": pipe.changelog_policy if with_changelog else None,
        "changelog_dirs": len(feed_dirs),
    }))


if __name__ == "__main__":
    main()
