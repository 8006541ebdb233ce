"""Deduplication family over the ``documents`` table: exact, char-shingle
MinHash + LSH banding, n-gram Jaccard verification, and SimHash.

Everything is a composition of built-in DataFrame ops (explode / groupBy /
self-join) — JVM-side, codegen'd, shuffle-aware. Hash functions are chosen
for *cross-engine determinism* (md5 over utf-8 strings exists bit-identically
in Spark and DuckDB), so each step has an exact SQL oracle.

Scale shape (100 TB corpus):
- shingling builds a distinct-shingle ARRAY per doc — a narrow map, no
  shuffle (shingle_arrays);
- signatures are per-seed array_min(transform(...)) over that array — also
  narrow: signing the corpus is a pure map stage with ZERO shuffles;
- LSH banding self-joins on (band, band_hash) — the join key is the bucket,
  so only docs sharing a bucket meet; hot buckets (boilerplate pages) are the
  skew risk, handled by AQE skew-join + the exemplar-star candidate cap;
- Jaccard verification explodes shingles ONLY for candidate docs (broadcast
  semi-join on the arrays first), never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MINHASH_SEEDS = [f"s{i}" for i in range(8)]
# Default banding: 2 bands x 4 rows. P(candidate) = 1-(1-j^4)^2 — steep
# enough that a word-sampled synthetic corpus (inherently self-similar)
# doesn't flood the verifier with middling-jaccard candidate pairs.
DEFAULT_BANDS: tuple[tuple[int, ...], ...] = ((0, 1, 2, 3), (4, 5, 6, 7))
SHINGLE_K = 5
SIMHASH_BITS = 16


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one keeper (min id) per distinct text."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = SHINGLE_K
) -> DataFrame:
    """Distinct char k-gram shingles per doc as an ARRAY column
    (id_col, sh_arr) — the shared building block of :func:`shingles`,
    :func:`minhash_signatures`, and :func:`jaccard_verify`.

    Scale shape: this is a NARROW map (sequence + transform +
    array_distinct, all JVM-side) — per-doc dedup needs no cross-row
    state, so no shuffle. The earlier row-form pipeline paid a full
    ``distinct`` shuffle of every (doc, shingle) row just to dedupe
    within docs."""
    return docs.select(
        F.col(id_col),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
                f"p -> substring({text_col}, p, {k}))"
            )
        ).alias("sh_arr"),
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = SHINGLE_K) -> DataFrame:
    """Distinct char k-gram shingles per doc: (doc_id, shingle). Explode of
    :func:`shingle_arrays` — already distinct per doc, so no shuffle."""
    return shingle_arrays(docs, text_col, id_col, k).select(
        F.col(id_col), F.explode("sh_arr").alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seeds: list[str] = MINHASH_SEEDS,
    k: int = SHINGLE_K,
    shingles_df: DataFrame | None = None,
    arrays_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: for each seed, min(md5(seed || shingle))
    over the doc's distinct shingles.

    Default path is ZERO-shuffle: per-seed ``array_min(transform(...))``
    over the shingle array — the min over a doc's shingles needs no
    cross-row state, so signing a 100-TB corpus is a pure map stage.
    (Earlier rounds grouped exploded shingle rows by doc — one full-corpus
    shuffle per signing pass; min over the array is the identical value.)
    Pass ``arrays_df`` to reuse a persisted :func:`shingle_arrays` result;
    ``shingles_df`` (exploded rows) keeps the legacy groupBy form for
    callers that already materialized rows."""
    if shingles_df is not None:
        aggs = [
            F.min(F.md5(F.concat(F.lit(seed), F.col("shingle")))).alias(f"h{i}")
            for i, seed in enumerate(seeds)
        ]
        return shingles_df.groupBy(id_col).agg(*aggs)
    arr = (
        arrays_df
        if arrays_df is not None
        else shingle_arrays(docs, text_col, id_col, k)
    )
    # NB: capture the seed via a factory, NOT a defaulted second lambda arg —
    # F.transform treats a two-arg lambda as (element, index) and would bind
    # the array index over the default.
    def _seed_hash(seed: str):
        return lambda s: F.md5(F.concat(F.lit(seed), s))

    cols = [
        F.array_min(F.transform(F.col("sh_arr"), _seed_hash(seed))).alias(f"h{i}")
        for i, seed in enumerate(seeds)
    ]
    return arr.select(F.col(id_col), *cols)


def band_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: tuple[tuple[int, ...], ...] = DEFAULT_BANDS,
) -> DataFrame:
    """LSH band rows (id, band, bucket) from a signature table — the shared
    unit of the batch self-join (:func:`lsh_candidate_pairs`) and the
    persisted incremental index (operators/incremental.py): both banding
    paths MUST hash identically or incremental probing would silently
    diverge from batch dedup."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(F.concat_ws("|", *[F.col(f"h{j}") for j in cols])).alias(
                            "bucket"
                        ),
                    )
                    for bi, cols in enumerate(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band", "b.bucket")


def cap_exemplar_star(
    rows: DataFrame,
    key_cols: "list[str] | tuple[str, ...]",
    id_col: str,
    max_bucket: int | None,
) -> DataFrame:
    """Exemplar-star hot-bucket cap: buckets with more than ``max_bucket``
    rows keep only their minimum-id exemplar. Physical shape: a tiny
    ``groupBy`` aggregate (map-side partial combine — the shuffle carries
    one (key, count, min) row per bucket, never the rows) filtered to the
    over-cap buckets (bounded by n/cap rows) and BROADCAST left-joined
    back. This replaces the earlier ``Window.partitionBy(key)`` form, which
    shuffled AND sorted every row just to find the rare hot buckets —
    measured ~2x slower per probe at sf0.1, and strictly worse at scale."""
    if not max_bucket:
        return rows
    keys = list(key_cols)
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"), F.min(id_col).alias("_bmin"))
        .filter(F.col("_bn") > F.lit(int(max_bucket)))
        .drop("_bn")
    )
    return (
        rows.join(F.broadcast(hot), keys, "left")
        .filter(F.col("_bmin").isNull() | (F.col(id_col) == F.col("_bmin")))
        .drop("_bmin")
    )


def capped_self_join(
    rows: DataFrame,
    key_cols: "list[str] | tuple[str, ...]",
    id_col: str,
    max_bucket: int | None,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Bucket self-join over (key..., id) rows: ids sharing ANY bucket pair
    up (a < b, distinct), with the exemplar-star cap applied to the LEFT
    side. Shared by batch LSH (:func:`lsh_candidate_pairs`), batch SRP
    (similarity.neardup_candidates_lsh), and the incremental ingests'
    within-batch joins — one implementation so the cap policy cannot
    drift between paths."""
    keys = list(key_cols)
    a = cap_exemplar_star(rows, keys, id_col, max_bucket).alias("a")
    b = rows.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b)
        )
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: tuple[tuple[int, ...], ...] = DEFAULT_BANDS,
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Band the signature (rows-per-band LSH) and self-join on the band
    bucket: docs agreeing on ANY full band become a candidate pair
    (doc_a < doc_b, distinct). ``banded`` lets a caller that already
    materialized :func:`band_rows` (the incremental ingest persists them
    for the index append) reuse it instead of re-banding the signatures.

    HOT-BUCKET GUARD (``max_bucket``): real web corpora carry mega-clusters
    (boilerplate, templated pages) that collapse into one band bucket, and
    an uncapped self-join emits O(m^2) candidates for a bucket of m docs.
    With a cap set, buckets above it contribute only their EXEMPLAR (the
    minimum id) on the left join side, turning the bucket's output into a
    STAR of m-1 (exemplar, other) edges — linear in m. Recall contract: a
    bucket that hot is a near-identical cluster (every member agreed on a
    full MinHash band); pairwise enumeration inside it is sacrificed, but
    cluster CONNECTIVITY — what :func:`dedup_clusters` consumes — is
    preserved whenever the exemplar verifies against the members, so dedup
    still collapses the cluster. Under-cap buckets are exact and unchanged.
    Candidate volume on a planted mega-cluster is pinned in
    tests/test_hot_bucket.py. Default ``None`` keeps the exact semantics
    (the batch catalog query's DuckDB oracle enumerates all pairs)."""
    if banded is None:
        banded = band_rows(signatures, id_col, bands)
    else:
        banded = banded.select(id_col, "band", "bucket")
    return capped_self_join(
        banded, ["band", "bucket"], id_col, max_bucket, "doc_a", "doc_b"
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    threshold: float = 0.0,
    shingles_df: DataFrame | None = None,
    arrays_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs only: semi-join the shingle
    sets down to candidate docs, count the intersection per pair, and divide
    by |A| + |B| - |A∩B|. The pair set is small by construction (LSH
    pre-filter), so it is broadcast to both shingle-join sides.

    Default (and ``arrays_df``) path semi-joins the shingle ARRAYS first
    and explodes only candidate docs' arrays — at 100 TB the explode runs
    over the candidate slice, never the corpus; doc shingle-set sizes come
    from ``size(sh_arr)`` (no groupBy). ``shingles_df`` keeps the legacy
    exploded-rows form."""
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select("doc_b"))
        .distinct()
    )
    # Broadcast hints go on the JOIN INPUTS directly: a hint placed before a
    # union/distinct is stripped during optimization ("join hint ... not part
    # of a join relation" warning) and the intended broadcast silently never
    # happens. Pinned in tests/test_plans.py.
    if shingles_df is not None:
        sh_c = shingles_df.join(F.broadcast(cand_docs), id_col, "left_semi")
        sizes = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    else:
        arr = (
            arrays_df
            if arrays_df is not None
            else shingle_arrays(docs, text_col, id_col, k)
        )
        arr_c = arr.join(F.broadcast(cand_docs), id_col, "left_semi")
        sh_c = arr_c.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
        sizes = arr_c.select(F.col(id_col), F.size("sh_arr").alias("sz"))
    inter = (
        F.broadcast(pairs).join(sh_c.alias("sa"), F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(
            sh_c.alias("sb"),
            (F.col("doc_b") == F.col(f"sb.{id_col}"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col(f"za.{id_col}"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col(f"zb.{id_col}"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("za.sz") + F.col("zb.sz") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def union_find(
    edges, seen_max: "int | None" = None
) -> "tuple[dict[int, int], list[tuple[int, int]]]":
    """Driver-side connected components over collected (a, b) edge rows:
    ({node: component minimum}, bridges), with path compression and
    min-root unions (labels match dedup_clusters'). Iterative find —
    chain-shaped clusters build parent chains deeper than Python's
    recursion limit well inside DRIVER_CC_MAX_EDGES.

    Bridge tracking is on only when ``seen_max`` is given: a union joining
    two components that each already hold a SEEN node (id <= seen_max)
    records the pair of their minimum seen nodes; ``bridges`` is sorted
    and empty otherwise."""
    parent: dict[int, int] = {}
    seen: dict[int, int] = {}  # root -> min seen node of its component
    bridges: set[tuple[int, int]] = set()

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        a, b = int(a), int(b)
        ra, rb = find(a), find(b)
        if seen_max is not None:
            for x, r in ((a, ra), (b, rb)):
                if x <= seen_max:
                    seen[r] = min(seen.get(r, x), x)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
        sb = seen.pop(rb, None)
        if sb is not None:
            sa = seen.setdefault(ra, sb)
            if sa != sb:
                bridges.add((min(sa, sb), max(sa, sb)))
                seen[ra] = min(sa, sb)
    return {x: find(x) for x in list(parent)}, sorted(bridges)


def attach_labels(
    docs: DataFrame, id_col: str, labels: "dict[int, int]"
) -> DataFrame:
    """(id_col, keeper_doc_id) for every row of ``docs`` from a driver-side
    {id: label} map (ids missing from it keep themselves): one broadcast
    join against the non-identity entries, none when there are none."""
    mapping = [(int(d), int(k)) for d, k in labels.items() if k != d]
    if not mapping:
        return docs.select(id_col, F.col(id_col).alias("keeper_doc_id"))
    map_df = docs.sparkSession.createDataFrame(
        mapping, f"{id_col} long, _cc_label long"
    )
    return (
        docs.select(id_col)
        .join(F.broadcast(map_df), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_cc_label"), F.col(id_col)).alias("keeper_doc_id"),
        )
    )


#: duplicate-edge sets at or below this size resolve components with ONE
#: bounded driver collect + union-find instead of the distributed
#: label-propagation loop (identical labels — both produce component
#: minima). The loop costs O(log diameter) ROUNDS, each an eager
#: localCheckpoint job + joins + a driver count (~12-15 jobs for typical
#: graphs) — pure fixed overhead when the edge set fits on the driver.
#: Also IncrementalDeduper.driver_cc_max_edges' default; <= 0 forces the
#: distributed path (tests pin both paths identical).
DRIVER_CC_MAX_EDGES = 500_000


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 30,
    stats: "dict | None" = None,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION — the step that lets dedup actually drop
    rows: connected components over verified duplicate pairs, each doc mapped
    to its component's minimum id. Returns (doc_id, keeper_doc_id) for EVERY
    document (singletons keep themselves); rows with keeper != self are the
    drop set.

    Execution: below ``driver_cc_max_edges`` (and for integral pair
    columns) the edge set is collected (bounded by limit cap+1 — overflow
    falls through) and resolved with a driver union-find: ONE job over the
    pair pipeline instead of the round-based loop, and the upstream
    candidates/verify lineage runs exactly once (the loop's seed checkpoint
    ran it twice via the edge-direction union). Above the cap: iterative min-label propagation
    with joins + aggregates only (no GraphX / no RDDs). Per round every
    node takes the min of its own label, its neighbors' labels, AND its
    label's label (POINTER DOUBLING — the label-of-label shortcut halves
    the remaining distance to the component minimum each round, so
    convergence is O(log diameter) rounds instead of O(diameter): a 64-hop
    chain resolves in <= 7 rounds, pinned in tests/test_operators.py).
    Each round is two joins + one groupBy on the EDGE/LABEL sets only (not
    the corpus), so at 100 TB the loop cost scales with the duplicate
    graph, not the table. The driver-side convergence check is one count
    per round (bounded, like the CDC gate stats). ``stats``, when given,
    records {"rounds": n} (0 = driver path). Both paths produce identical
    keepers (pinned in tests/test_operators.py)."""
    # the driver map holds longs: other id types (strings, fractions) would
    # fail the cast or truncate, so they keep the type-generic loop
    integral = all(
        isinstance(f.dataType, T.IntegralType)
        for f in pairs.select("doc_a", "doc_b").schema
    )
    if integral and driver_cc_max_edges and driver_cc_max_edges > 0:
        head = (
            pairs.select("doc_a", "doc_b")
            .limit(driver_cc_max_edges + 1)
            .collect()
        )
        if len(head) <= driver_cc_max_edges:
            if stats is not None:
                stats["rounds"] = 0
            return attach_labels(docs, id_col, union_find(head)[0])
    # localCheckpoint (eager) per round: iterative algorithms MUST truncate
    # lineage, or round k replays rounds 1..k-1 and the plan grows without
    # bound; checkpointed blocks are reclaimed by the context cleaner.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr = edges.join(
            labels.select(F.col("id").alias("dst"), F.col("label")), "dst"
        ).select(F.col("src").alias("id"), "label")
        # pointer doubling: every label is itself a node id in `labels`
        # (labels start as ids and only ever take mins of ids), so a
        # self-join fetches label(label(id)); chaining it once more gives
        # label^3(id). Two shortcut hops per round cut the remaining
        # distance to the component minimum ~4x per round — O(log diameter)
        # rounds total — at the cost of two extra label-set joins (the
        # label set is the dup-graph node set, not the corpus).
        lookup = labels.select(
            F.col("id").alias("_lid"), F.col("label").alias("_l2")
        )
        hop = (
            labels.alias("l1")
            .join(lookup, F.col("l1.label") == F.col("_lid"))
            .select(F.col("l1.id").alias("id"), F.col("_l2").alias("label"))
        )
        hop2 = (
            hop.alias("h")
            .join(lookup, F.col("h.label") == F.col("_lid"))
            .select(F.col("h.id").alias("id"), F.col("_l2").alias("label"))
        )
        new_labels = (
            labels.union(nbr).union(hop).union(hop2)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover
        raise RuntimeError(f"dedup_clusters did not converge in {max_iters} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    return docs.select(id_col).join(
        labels.select(F.col("id").alias(id_col), F.col("label")),
        id_col,
        "left",
    ).select(
        id_col,
        F.coalesce(F.col("label"), F.col(id_col)).alias("keeper_doc_id"),
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash over whitespace tokens using md5 'hyperplanes': plane j votes
    +1 when md5('p{j}:' || token) starts below hex '8' (an unbiased coin),
    -1 otherwise; bit j is set when the vote sum is positive. Expressible in
    both engines with pure string ops — no bit twiddling needed."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    votes = [
        F.sum(
            F.when(
                F.substring(F.md5(F.concat(F.lit(f"p{j}:"), F.col("tok"))), 1, 1)
                < F.lit("8"),
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_oracle_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of :func:`simhash` (kept adjacent for lockstep evolution)."""
    votes = ", ".join(
        f"SUM(CASE WHEN substr(md5('p{j}:' || tok), 1, 1) < '8' THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    terms = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
        WITH toks AS (
            SELECT {id_col}, unnest(string_split_regex(trim({text_col}), '\\s+')) AS tok
            FROM {table}
        ), agg AS (
            SELECT {id_col}, {votes} FROM toks GROUP BY {id_col}
        )
        SELECT {id_col}, CAST({terms} AS BIGINT) AS simhash FROM agg
    """


CHUNK_W = 8

#: identity of the chunk TOKENIZER (trim + ``\s+`` split, space re-join).
#: Chunk keys ``ck = md5(chunk)`` are PERSISTED in incremental chunk
#: indexes, so a tokenizer change silently invalidates every stored key
#: (previously-seen spans re-admit as novel — recall loss with no error).
#: The id is stamped into index properties at create and checked at load
#: (review-caught after the ws-v2 change itself shipped unguarded).
CHUNK_TOKENIZER = "ws-v2"


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = CHUNK_W,
) -> DataFrame:
    """Chunk-level exact dedup (CCNet / RefinedWeb paragraph dedup, adapted
    to word-window chunks): split each doc into consecutive non-overlapping
    ``w``-word chunks, keep only the corpus-wide FIRST occurrence of each
    distinct chunk (ordered by ``(doc_id, chunk_pos)``), and reassemble the
    surviving chunks into a deduplicated text. Later repeats *within* the
    same doc are dropped too (the keeper rule is global). Returns one row
    per input doc with NON-NULL text: ``(doc_id, n_chunks, n_kept,
    deduped_text)`` — a doc whose every chunk appeared earlier collapses
    to ``deduped_text = ''``; a NULL text has no chunks and yields no row
    (split(NULL) is NULL in both engines — the DuckDB twin agrees).

    This is the sub-document complement of :func:`exact_dedup` (whole-doc)
    and the LSH family (whole-doc near-dup): web corpora share boilerplate
    *spans* (headers, footers, licence blocks) across otherwise-distinct
    pages, and span-level dedup is what removes them.

    Scale shape (100 TB corpus):
    - chunking is a NARROW map (split + transform over a sequence — the
      chunk array is built per doc with zero cross-row state);
    - posexplode emits ~n_words/w rows; the keeper choice is ONE partially
      aggregated shuffle on md5(chunk) (map-side ``min`` combine, so the
      shuffle carries one row per distinct chunk per map partition).
      ``(doc_id, cpos)`` is packed into a single BIGINT for the ``min`` —
      a struct-typed ``min`` buffer is not hash-aggregable and silently
      demotes the whole stage to SortAggregate + per-partition Sort of
      every exploded row (observed in the executed plan); the packed form
      keeps it a HashAggregate. Bounds: ``doc_id < 2^42`` and
      ``cpos < 2^21`` (= 2M chunks = 16M words per doc), both checked
      nowhere but documented here — violating either breaks keeper order;
    - the keep/drop decision joins the exploded rows back on the same
      md5(chunk) key — co-partitioned with the aggregate output, and the
      keeper side is DISTINCT chunks (bounded by corpus vocabulary of
      spans, far smaller than the exploded side);
    - reassembly is one groupBy(doc_id) whose per-group state is bounded
      by a single document's size (collect_list -> ObjectHashAggregate).
    A window ``row_number() over (partition by chunk)`` would do it in one
    shuffle but pays a full sort of every exploded row; the agg+join form
    keeps both shuffles partial-aggregated/co-partitioned and sort-free.
    """
    exploded = chunk_rows(docs, text_col, id_col, w)
    keepers = exploded.groupBy("ck").agg(F.min("occ").alias("first_occ"))
    flagged = exploded.join(keepers, "ck").withColumn(
        "is_first", F.col("occ") == F.col("first_occ")
    )
    return chunk_reassemble(flagged, id_col)


def chunk_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = CHUNK_W,
) -> DataFrame:
    """Exploded chunk occurrences ``(id, cpos, chunk, ck, occ)`` — the
    shared front half of :func:`chunk_dedup` and the incremental chunk
    index (operators/incremental.py). ``ck`` = md5(chunk) is the dedup
    key; ``occ`` packs ``(id, cpos)`` into one BIGINT (bit bounds in the
    :func:`chunk_dedup` docstring) so keeper selection stays a
    hash-aggregable ``min``. Narrow: split + transform + posexplode, no
    shuffle.

    Tokenization: trim + split on ``\\s+`` — extracted web text joins
    paragraphs with newlines, and a literal-space split would fuse
    "...hotel\\nindia..." into ONE token, silently misaligning every chunk
    after a paragraph break (caught by the CDC-sweep bridge test). The
    DuckDB twin (:func:`chunk_dedup_oracle_sql`) splits identically;
    chunk keys are a function of the tokenizer, so the two must only ever
    change in lockstep (persisted chunk indexes embed these keys)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(w)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * w + F.lit(1), F.lit(w)), " "),
    )
    return (
        docs.select(F.col(id_col), F.posexplode(chunk_arr).alias("cpos", "chunk"))
        .withColumn("ck", F.md5(F.col("chunk")))
        .withColumn(
            # cast BEFORE the multiply: an IntegerType id column would
            # overflow int32 arithmetic at id >= 1024 (ANSI crash, or a
            # silently scrambled keeper order with ANSI off) if the cast
            # came after (review-caught, reproduced)
            "occ",
            F.col(id_col).cast("long") * F.lit(1 << 21) + F.col("cpos"),
        )
    )


def chunk_reassemble(flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Rebuild per-doc rows ``(id, n_chunks, n_kept, deduped_text)`` from
    flagged chunk occurrences (``is_first`` marks survivors). One
    groupBy(id) whose per-group state is bounded by a single document's
    size (collect_list -> ObjectHashAggregate)."""
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_first").cast("int")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(F.struct("cpos", "is_first", "chunk"))
                    ),
                    lambda s: s["is_first"],
                ),
                lambda s: s["chunk"],
            ),
        ).alias("deduped_text"),
    )


def chunk_dedup_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = CHUNK_W,
) -> str:
    """DuckDB twin of :func:`chunk_dedup` (kept adjacent for lockstep
    evolution). Same chunking (1-based word positions grouped ``w`` at a
    time), same keeper rule (min ``(doc_id, cpos)`` per distinct chunk —
    expressed as ``row_number() = 1``), same reassembly order."""
    return f"""
        WITH words AS (
            SELECT {id_col},
                   unnest(regexp_split_to_array(trim({text_col}), '\\s+')) AS word,
                   generate_subscripts(
                       regexp_split_to_array(trim({text_col}), '\\s+'), 1) AS pos
            FROM {table}
        ), chunks AS (
            SELECT {id_col}, CAST((pos - 1) // {w} AS BIGINT) AS cpos,
                   string_agg(word, ' ' ORDER BY pos) AS chunk
            FROM words GROUP BY {id_col}, (pos - 1) // {w}
        ), ranked AS (
            SELECT {id_col}, cpos, chunk,
                   row_number() OVER (
                       PARTITION BY chunk ORDER BY {id_col}, cpos
                   ) AS rn
            FROM chunks
        )
        SELECT {id_col},
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               coalesce(
                   string_agg(chunk, ' ' ORDER BY cpos) FILTER (WHERE rn = 1),
                   ''
               ) AS deduped_text
        FROM ranked GROUP BY {id_col}
    """
