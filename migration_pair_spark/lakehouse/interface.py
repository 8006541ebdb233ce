"""UpsertTarget: the table-format seam between the CDC loop and the lake.

The engine was designed for Iceberg (the north rule names Iceberg MERGE),
but iceberg-spark-runtime jars are not fetchable in this sandbox (SURVEY.md
§7 S0 fallback), so the shipped implementation is :class:`~migration_pair_
spark.lakehouse.table.LakeTable`. This module makes the swap a CONFIG
SWITCH rather than a rewrite: ``apply_cdc_batch`` and ``CdcPipeline``'s
apply + maintenance loop touch tables ONLY through this protocol, and
tests/test_interface.py pins both that LakeTable satisfies it and that the
CDC loop needs nothing outside it. (The snapshot-diff changelog and
time-travel reads in cdc/changelog.py are deliberately OUTSIDE the seam:
they read LakeTable manifests directly; on Iceberg they map to the native
changelog read / VERSION AS OF, not to an adapter of this protocol.)

Mapping of each member to its Iceberg implementation (what an
``IcebergTable`` adapter would do, for when the jars are available):

===================  =======================================================
Protocol member      Iceberg equivalent
===================  =======================================================
refresh()            spark.catalog.refreshTable(name) / Table.refresh()
version              MONOTONIC commit ordinal (ancestor-chain length from
                     the ``history`` metadata table) — NOT the raw snapshot
                     id, which is a random long; version is consumed
                     ordinally (lineage, changelog spans)
schema               spark.table(name).schema (catalog-authoritative)
key_col / n_buckets  table property + partition spec ``bucket(N, key)``
properties           snapshot SUMMARY properties — read from the current
                     snapshot's summary map. The engine's exactly-once
                     watermark (engine.applied_lsn_ranges / engine.max_lsn)
                     rides each write as ``option("snapshot-property.<k>",
                     v)`` so data + watermark commit in ONE snapshot, which
                     is the same atomicity LakeTable gets from the manifest
                     file.
bucket_expr()        ``system.bucket(N, key)`` (the same hash family the
                     partition spec uses, so pruning matches routing)
read_buckets(ids)    scan with partition predicate ``bucket(N, key) IN ids``
                     — Iceberg's SparkScanBuilder prunes manifests/files
replace_buckets()    copy-on-write MERGE INTO (or dynamic partition
                     overwrite of the touched bucket partitions with
                     partitionOverwriteMode=dynamic) + snapshot-property
                     options; commit conflicts surface as Iceberg
                     CommitFailedException == our RuntimeError('commit
                     conflict')
append_delta_bucket  merge-on-read MERGE with write.merge.mode=
s()                  merge-on-read (equality deletes play the tombstone
                     role); our explicit compact() == Iceberg
                     rewrite_data_files
evolve_schema()      ALTER TABLE ADD COLUMN / RENAME COLUMN / ALTER COLUMN
                     TYPE — Iceberg schema-update commits; idempotent replay
                     handled the same way (skip ops whose effect is present)
compact()            maintenance: rewrite_data_files (bin-packing rewrite)
is_merge_on_read /   v2 merge-on-read state / manifest entry counts per
files_per_bucket()   bucket partition (the auto-compaction policy inputs)
last_write_phases    None: the writer call commits too, no split to record
===================  =======================================================
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


@runtime_checkable
class UpsertTarget(Protocol):
    """Everything the exactly-once CDC merge loop requires of a table format.

    Semantic contract (pinned in tests/test_interface.py):

    1. **Atomic commit**: a write either publishes data + properties +
       lineage as one new version, or changes nothing.
    2. **Exclusive versioning**: two writers committing against the same
       base version — exactly one succeeds; the loser raises and must
       refresh + retry (optimistic concurrency).
    3. **Property read-your-writes**: properties passed to a write are
       visible via :attr:`properties` after :meth:`refresh`.
    4. **Bucket pruning**: :meth:`read_buckets` returns only rows whose
       key hashes (via :meth:`bucket_expr`) into the requested buckets.
    5. **Idempotent evolution**: re-applying an already-applied schema op
       is a no-op, not an error (crash-replay window).
    """

    # -- metadata ----------------------------------------------------------
    @property
    def path(self) -> str:
        """Table root location (engine's lineage.jsonl audit lives beside the
        data; Iceberg: ``table.location()``)."""
        ...

    def refresh(self) -> None: ...

    @property
    def version(self) -> int: ...

    @property
    def key_col(self) -> str: ...

    @property
    def n_buckets(self) -> int: ...

    @property
    def schema(self) -> T.StructType: ...

    @property
    def properties(self) -> dict[str, str]: ...

    @property
    def lww_order(self) -> tuple[str, ...]:
        """Persisted LWW ordering columns (Iceberg: a table property the
        MERGE templates read — e.g. 'engine.lww-order')."""
        ...

    # -- routing / reads ----------------------------------------------------
    def bucket_expr(self, col: str | None = None) -> Column: ...

    def read_buckets(self, bucket_ids: list[int], resolve: bool = False) -> DataFrame: ...

    def read(self, include_tombstones: bool = False) -> DataFrame: ...

    # -- writes -------------------------------------------------------------
    def replace_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> int: ...

    def append_delta_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> tuple[int, list[str]]: ...

    @property
    def last_write_phases(self) -> "dict | None":
        """Wall split of the last write (``write_exec_ms``, ``commit_ms``),
        or None when the format does not record one — advisory timing for
        the apply's lineage, never part of a commit."""
        ...

    # -- evolution ----------------------------------------------------------
    def evolve_schema(self, ops: list) -> int: ...

    # -- maintenance ----------------------------------------------------------
    @property
    def is_merge_on_read(self) -> bool:
        """True while reads must resolve outstanding deltas (Iceberg: v2
        merge-on-read with delete files)."""
        ...

    def files_per_bucket(self) -> dict[int, int]:
        """Data-file count per bucket — the auto-compaction policy input
        (Iceberg: manifest entry counts per bucket partition)."""
        ...

    def compact(self, bucket_ids: "list[int] | None" = None) -> int:
        """Fold the chosen buckets to read-optimal layout (Iceberg:
        rewrite_data_files)."""
        ...
