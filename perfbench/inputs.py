"""Seeded input generation, kept apart from the system under test.

Every input is a pure function of (workload, seed, size) and is cached
under ``<checkout>/.perfbench/cache`` so a repeated seed skips the
generation. Generation never runs inside a timed region; its wall is
reported as ``gen_s``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

# tail_live: Debezium JSONL files of FILE_EVENTS events each (zipf keys,
# 80-word pages, 60/30/10 insert/update/delete — synth's change stream)
FILE_EVENTS = 10_000
WORDS_PER_DOC = 80

# incremental_ingest: documents / embeddings drawn from the distributions
# measured on the registry's sf0.1 tables. sf0.1 `documents`: 5000 rows,
# each text 10..99 words (uniform, mean 54) drawn uniformly from the
# 30-word vocabulary below; 5% of the rows (250) are a copy of another row
# with the token "dup" inserted at one position. sf0.1 `embeddings`: 2000
# unit-norm float32 64-d vectors, statistically i.i.d. normal (median
# nearest-neighbour cosine 0.41). The row counts here are a fifth of sf0.1
# and the batch sizes scale with them: at full sf0.1 one run took 139 s on a
# 4-core x86 box (base ingest 44 s, two 500-document rounds of 23 s, DuckDB
# oracle check 28 s), too long for ten-run sweeps of every workload.
N_DOCS = 1_000
N_VECS = 400
WORDS_MIN, WORDS_MAX = 10, 99
_VOCAB = (
    "key agg row scan slow fast table value part hash spark window merge "
    "column data line sort batch order join query group customer filter "
    "small big stream vector a the"
).split()
#: share of documents planted as a near duplicate of another document
NEAR_DUP_SHARE = 0.05
DUP_TOKEN = "dup"
VEC_DIM = 64


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".perfbench", "cache")


def _cached(path: str, build) -> float:
    """Run ``build(tmp)`` unless ``path`` exists; atomic publish. Returns
    the generation wall (0 on a cache hit)."""
    if os.path.isdir(path):
        return 0.0
    t0 = time.monotonic()
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return time.monotonic() - t0


def tail_files(checkout: str, seed: int, n_files: int) -> tuple[str, float]:
    """``n_files`` Debezium JSONL files (LSNs 1..n_files*FILE_EVENTS, file i
    holds the i-th contiguous LSN range) plus ``events.parquet``, the full
    event frame the oracle folds."""
    from migration_pair_spark import synth

    path = os.path.join(cache_root(checkout), f"tail-{seed}-{n_files}x{FILE_EVENTS}")

    def build(tmp: str) -> None:
        n = n_files * FILE_EVENTS
        events = synth.write_debezium_stream(
            os.path.join(tmp, "files"), n, n // 5, n_files,
            seed=seed, words_per_doc=WORDS_PER_DOC,
        )
        events[["change_lsn", "op", "url", "warc_ts"]].to_parquet(
            os.path.join(tmp, "events.parquet"), index=False
        )

    return path, _cached(path, build)


def incremental_tables(checkout: str, seed: int) -> tuple[str, float]:
    """``documents.parquet`` (doc_id, text) and ``embeddings.parquet``
    (vec_id, embedding). Ids are dense and ascending, as the ingest's
    monotone-id contract requires."""
    path = os.path.join(cache_root(checkout), f"incremental-v2-{seed}-{N_DOCS}-{N_VECS}")

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        pd.DataFrame(
            {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": doc_texts(rng, N_DOCS)}
        ).to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
        x = rng.standard_normal((N_VECS, VEC_DIM)).astype(np.float32)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(x)}
        ).to_parquet(os.path.join(tmp, "embeddings.parquet"), index=False)

    return path, _cached(path, build)


def doc_texts(rng, n: int) -> list[str]:
    """``n`` texts: uniform-length word draws from the vocabulary, then
    ``NEAR_DUP_SHARE`` of the positions overwritten by a copy of another
    (original) text with ``DUP_TOKEN`` inserted at one position."""
    vocab = np.asarray(_VOCAB)
    words = [
        list(rng.choice(vocab, size=int(rng.integers(WORDS_MIN, WORDS_MAX + 1))))
        for _ in range(n)
    ]
    dups = set(rng.choice(n, size=int(n * NEAR_DUP_SHARE), replace=False).tolist())
    originals = np.asarray([i for i in range(n) if i not in dups])
    for i in sorted(dups):
        src = list(words[int(rng.choice(originals))])
        src.insert(int(rng.integers(0, len(src) + 1)), DUP_TOKEN)
        words[i] = src
    return [" ".join(w) for w in words]


def bulk_stream(checkout: str, seed: int, n_events: int) -> tuple[str, float]:
    """Two parquet change files for the bulk merge of the scaling
    diagnostic: file 0 (LSN 1..n) builds the table, file 1 (n+1..2n) is
    merged onto it copy-on-write."""
    from migration_pair_spark import synth

    path = os.path.join(cache_root(checkout), f"bulk-{seed}-{n_events}")

    def build(tmp: str) -> None:
        synth.write_change_stream(
            tmp, 2 * n_events, 2 * n_events // 5, 2, seed=seed,
            words_per_doc=WORDS_PER_DOC,
        )

    return path, _cached(path, build)
