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
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CDC_WRITES = ("cdc_write_mor", "cdc_write_cow_empty", "cdc_write_cow")


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


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
    return out


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    from bench import HEADLINE_QUERIES

    names = sys.argv[3:] or [*HEADLINE_QUERIES, *CDC_WRITES]
    os.makedirs(out_dir, exist_ok=True)

    from migration_pair_spark.queries import REGISTRY
    from migration_pair_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        "capture-plans", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    cdc = capture_cdc_writes(spark) if set(names) & set(CDC_WRITES) else {}
    for name in names:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        if name in cdc:
            plan = cdc[name]
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
