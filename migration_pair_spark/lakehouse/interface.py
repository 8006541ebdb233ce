"""UpsertTarget: the table-format seam between the CDC loop and the lake.

``apply_cdc_batch`` and ``CdcPipeline``'s apply + maintenance loop touch
their target table ONLY through this protocol; :class:`~migration_pair_
spark.lakehouse.table.LakeTable` is the implementation. The snapshot-diff
changelog, time travel and the metadata views (cdc/changelog.py,
``LakeTable.at_version`` / ``history``) read LakeTable manifests directly
and are deliberately outside the seam.

What a target guarantees is the semantic contract in :class:`UpsertTarget`
(atomic commit of data + properties + lineage, exclusive versioning with a
loud conflict, property read-your-writes, bucket pruning, idempotent
evolution, a queryable suppression ledger). tests/test_interface.py proves
the seam is closed: it runs the CDC apply (both write modes, a replay, and
a retry after a lost commit) and the auto-compaction policy against a
``SeamProxy`` that forwards protocol members and fails on any other
attribute.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


@runtime_checkable
class UpsertTarget(Protocol):
    """Everything the exactly-once CDC merge loop requires of a table format.

    Semantic contract (pinned for LakeTable in tests/test_lakehouse.py,
    tests/test_conflicts.py and tests/test_interface.py):

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
    6. **Suppression ledger**: :meth:`suppressed_keys` reflects every
       committed purge after :meth:`refresh`, so an apply that lost its
       commit to a purge retries without the purged keys.
    """

    # -- metadata ----------------------------------------------------------
    @property
    def path(self) -> str:
        """Table root location (the engine's lineage.jsonl audit lives
        beside the data)."""
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
        """Persisted LWW ordering columns (stored-row column names) every
        resolve path orders by."""
        ...

    # -- routing / reads ----------------------------------------------------
    def bucket_expr(self, col: str | None = None) -> Column: ...

    def read_buckets(self, bucket_ids: list[int], resolve: bool = False) -> DataFrame:
        """The named buckets' stored rows, with system columns and
        tombstones. ``resolve=True`` returns one LWW winner per key
        whenever one of the buckets holds unresolved deltas; the rows come
        back raw otherwise."""
        ...

    def read(self, include_tombstones: bool = False) -> DataFrame: ...

    def suppressed_keys(self) -> "DataFrame | None":
        """Distinct keys of the purge ledger, or None when the table was
        never purged — the apply drops their change events, and re-reads
        the ledger when it retries after a lost commit."""
        ...

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
        """True while any bucket holds unresolved deltas (reads of those
        buckets resolve them; compaction folds them)."""
        ...

    def files_per_bucket(self) -> dict[int, int]:
        """Data-file count per bucket — the auto-compaction policy input."""
        ...

    def compact(self, bucket_ids: "list[int] | None" = None) -> int:
        """Fold the chosen buckets to one LWW-resolved file per bucket."""
        ...
