"""Deterministic train/val/test assignment for training-data pipelines.

A split must be (a) stable under re-runs and engine swaps — the same doc
lands in the same split forever, or training/eval sets contaminate each
other across pipeline versions — and (b) computable row-locally, with no
shuffle and no global state. Both fall out of hashing the key:
``md5(salt || key)``'s first hex nibble is uniform over 0..15, so splits are
nibble ranges (12/2/2 = 75/12.5/12.5). The nibble comes from
``strpos('0123456789abcdef', first_char)`` — the one hex-to-int idiom that
is literally the same expression in Spark and DuckDB, which is what makes
the catalog oracle exact.

Scale: a pure per-row projection — no shuffle, survives any data size; the
split column is a perfect partition/bucketing key for writing the three
sets out without a repartition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"
# nibble < 12 -> train (75%), < 14 -> val (12.5%), else test (12.5%)
TRAIN_MAX, VAL_MAX = 12, 14


def split_nibble(key: Column, salt: str = "split") -> Column:
    """Uniform 0..15 from the first hex char of md5(salt:key)."""
    h = F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))
    return (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1).cast("int")


def assign_split(
    df: DataFrame, key_col: str = "doc_id", salt: str = "split"
) -> DataFrame:
    """Adds a ``split`` column: 'train' | 'val' | 'test' (75/12.5/12.5),
    deterministic in (salt, key)."""
    nib = split_nibble(F.col(key_col), salt)
    return df.withColumn(
        "split",
        F.when(nib < TRAIN_MAX, "train")
        .when(nib < VAL_MAX, "val")
        .otherwise("test"),
    )


def oracle_split_sql(key_col: str = "doc_id", salt: str = "split") -> str:
    """DuckDB twin of assign_split's split expression."""
    nib = (
        f"strpos('{_HEX}', substr(md5('{salt}:' || CAST({key_col} AS VARCHAR)), 1, 1)) - 1"
    )
    return (
        f"CASE WHEN {nib} < {TRAIN_MAX} THEN 'train' "
        f"WHEN {nib} < {VAL_MAX} THEN 'val' ELSE 'test' END"
    )


def sample_per_stratum(
    df: DataFrame,
    stratum_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Balanced deterministic subsample: the ``k`` rows of each stratum with
    the smallest ``md5(salt:key)`` — a hash-ordered 'reservoir' that is
    stable under re-runs, engine swaps, and row order (training pipelines
    rebalance skewed language/source mixes this way without a random seed
    to ship around).

    Scale shape: one window partitioned by the stratum — which Catalyst's
    InferWindowGroupLimit compiles to a TWO-PHASE top-k: a Partial
    WindowGroupLimit on the map side keeps <= k rows per stratum per input
    partition BEFORE the exchange (the shuffle carries k x map-tasks rows
    per stratum, never the stratum), and the Final limit merges them after.
    No task ever sorts a full hot stratum ('en' at web scale), so the
    skewed-stratum case needs no hand-written per-partition/merge pass —
    the plan shape is pinned in tests/test_plans.py
    (test_per_stratum_sample_is_two_phase_topk)."""
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )

