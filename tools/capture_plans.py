"""Capture .explain("formatted") output for headline queries (guide §1.1)
and for the table write of one CDC micro-batch.

Usage: python tools/capture_plans.py <out_dir> [suffix] [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: every
bench.py headline query, then the CDC writes; suffix defaults to "before").
Run from the repo whose plans you want — the round-start worktree for the
_before set, the working tree for _after.

The CDC write names (``CDC_WRITES``) need no test data: each streams two
seeded 2k-event Debezium JSONL files through ``CdcPipeline.run_stream``
(32 buckets, the tail's shape) and records the physical plan of the
DataFrame the apply hands to the table write: ``cdc_write_mor`` (merge-on-
read delta append), ``cdc_write_cow_empty`` (copy-on-write into empty
buckets, the first micro-batch) and ``cdc_write_cow`` (copy-on-write that
re-resolves against the touched buckets' current rows, the second).

The read-path names (``READ_PATHS``) need no test data either: the same
stream lands as two merge-on-read batches in a 32-bucket table that records
key blooms and ``url``/``_lsn`` zone maps, and the even buckets are then
compacted into bounded ``_lsn``-sorted runs, so the table holds both MOR and
resolved buckets. Captured: ``lookup`` of a key in a MOR bucket, of a key in
a resolved bucket and of an absent key, ``read``, ``read_range`` over an
``_lsn`` window, and ``read_buckets`` raw and resolved over MOR buckets.
``read_evolved`` is ``read`` of a small table (``evolved_table``) holding
files written before and after a column rename and widen, a struct-field
add/rename/widen and an ``array<struct>`` element rename.

Every plan is masked so two runs of the same code compare equal: the
scratch directory, ``tx-*`` directories, part-file ids, expression ids,
RDD ids and plan ids are replaced by fixed tokens.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CDC_WRITES = ("cdc_write_mor", "cdc_write_cow_empty", "cdc_write_cow")
READ_PATHS = (
    "read_lookup_mor",
    "read_lookup_resolved",
    "read_lookup_absent",
    "read_all",
    "read_range",
    "read_buckets_raw",
    "read_buckets_mor_resolved",
    "read_evolved",
)


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _mask(plan: str, root: str) -> str:
    """A plan with its run-specific names replaced by fixed tokens."""
    plan = plan.replace(root, "<tmp>")
    plan = re.sub(r"tx-\d+-[0-9a-f]{8}", "tx-*", plan)
    plan = re.sub(r"part-\d+-[0-9a-f-]{36}", "part-*", plan)
    plan = re.sub(r"#\d+", "#*", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[*]", plan)
    return re.sub(r"plan_id=\d+", "plan_id=*", plan)


def capture_cdc_writes(spark) -> dict[str, str]:
    """{CDC write name: plan} — the write DataFrame of each micro-batch,
    explained inside the apply (so under its session settings) just before
    the table writes it."""
    from migration_pair_spark import synth
    from migration_pair_spark.cdc.runner import CdcPipeline
    from migration_pair_spark.lakehouse.table import LakeTable

    write = LakeTable._table_write
    plans: list[str] = []

    def spy(self, df, *args, **kwargs):
        plans.append(_explain(spark, df))
        return write(self, df, *args, **kwargs)

    out: dict[str, str] = {}
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        synth.write_debezium_stream(src, 4000, 800, 2, seed=7)
        LakeTable._table_write = spy
        try:
            for mode in ("mor", "cow"):
                plans.clear()
                CdcPipeline(
                    table_path=os.path.join(tmp, mode),
                    n_buckets=32,
                    write_mode=mode,
                    source_format="debezium-json",
                ).run_stream(spark, src, os.path.join(tmp, f"ckpt-{mode}"))
                if mode == "mor":
                    out["cdc_write_mor"] = plans[-1]
                else:
                    out["cdc_write_cow_empty"], out["cdc_write_cow"] = plans[:2]
        finally:
            LakeTable._table_write = write
        return {k: _mask(v, tmp) for k, v in out.items()}


def evolved_table(spark, path: str):
    """A 4-bucket table with files written at each of four schema versions: a
    column rename + widen, then a struct-field add/rename/widen, then an
    ``array<struct>`` element rename."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from migration_pair_spark.lakehouse.table import (
        AddStructField,
        LakeTable,
        RenameColumn,
        RenameStructField,
        WidenColumn,
        WidenStructField,
    )

    t = LakeTable.create(
        spark,
        path,
        T._parse_datatype_string(
            "url string, lang string, status int, "
            "meta struct<width:int, codec:string>, "
            "regions array<struct<x:int, label:string>>"
        ),
        key_col="url",
        n_buckets=4,
        lww_order=("_lsn",),
    )
    epochs = [
        [RenameColumn("lang", "language"), WidenColumn("status", "bigint")],
        [
            AddStructField("meta", "height", "int"),
            RenameStructField("meta", "codec", "video_codec"),
            WidenStructField("meta", "width", "bigint"),
        ],
        [RenameStructField("regions", "label", "category")],
    ]
    for v in range(len(epochs) + 1):
        if v:
            t.evolve_schema(epochs[v - 1])
        width = len(t.schema["meta"].dataType.fields)
        df = spark.createDataFrame(
            [
                (f"u{v}-{i}", f"l{i}", i, (i, f"c{i}", i)[:width],
                 [(i, f"r{i}"), (i + 1, None)])
                for i in range(4)
            ],
            t.schema,
        )
        t.append_buckets(
            df.withColumn("_lsn", F.lit(v).cast("long"))
            .withColumn("_deleted", F.lit(False))
            .withColumn("_bucket", t.bucket_expr())
        )
    return t


def capture_reads(spark) -> dict[str, str]:
    """{read-path name: plan} on a table holding both merge-on-read and
    resolved buckets."""
    from pyspark.sql import functions as F

    from migration_pair_spark import synth
    from migration_pair_spark.cdc.runner import CdcPipeline
    from migration_pair_spark.lakehouse.table import LakeTable

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        synth.write_debezium_stream(src, 4000, 800, 2, seed=7)
        pipe = CdcPipeline(
            table_path=os.path.join(tmp, "reads"),
            n_buckets=32,
            write_mode="mor",
            source_format="debezium-json",
            stats_cols=("url", "_lsn"),
            bloom_filter_cols=("url",),
        )
        pipe.run_stream(spark, src, os.path.join(tmp, "ckpt-reads"))
        t = LakeTable.load(spark, pipe.table_path)
        t.compact(
            [b for b in sorted(t.mor_buckets) if b % 2 == 0],
            sort_by=["_lsn"],
            max_rows_per_file=8,
        )
        mor = sorted(t.mor_buckets)
        keyed = (
            t.read().select("url", t.bucket_expr().alias("b")).orderBy("url")
            .collect()
        )
        mor_key = next(r["url"] for r in keyed if r["b"] in mor)
        resolved_key = next(r["url"] for r in keyed if r["b"] not in mor)
        first, last = t.read(include_tombstones=True).agg(
            F.min("_lsn"), F.max("_lsn")
        ).first()
        lo, hi = first + (last - first) * 2 // 5, first + (last - first) * 3 // 5
        dfs = {
            "read_lookup_mor": t.lookup(mor_key),
            "read_lookup_resolved": t.lookup(resolved_key),
            "read_lookup_absent": t.lookup("https://absent.example/none"),
            "read_all": t.read(),
            "read_range": t.read_range("_lsn", lo, hi),
            "read_buckets_raw": t.read_buckets(list(range(t.n_buckets))),
            "read_buckets_mor_resolved": t.read_buckets(mor[:4], resolve=True),
            "read_evolved": evolved_table(spark, os.path.join(tmp, "evolved")).read(),
        }
        return {k: _mask(_explain(spark, df), tmp) for k, df in dfs.items()}


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    from bench import HEADLINE_QUERIES

    names = sys.argv[3:] or [*HEADLINE_QUERIES, *CDC_WRITES, *READ_PATHS]
    os.makedirs(out_dir, exist_ok=True)

    from migration_pair_spark.queries import REGISTRY
    from migration_pair_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        "capture-plans", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    captured = capture_cdc_writes(spark) if set(names) & set(CDC_WRITES) else {}
    if set(names) & set(READ_PATHS):
        captured.update(capture_reads(spark))
    for name in names:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        if name in captured:
            plan = captured[name]
        else:
            try:
                plan = _explain(spark, REGISTRY[name].fn(spark, sf_dir))
            except Exception as e:  # noqa: BLE001 - record the failure, keep going
                plan = f"PLAN CAPTURE FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
