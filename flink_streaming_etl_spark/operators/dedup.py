"""Deduplication operators over the ``documents`` table.

Scale notes (100 TB target):
- Exact dedup: one hash-shuffle on a 16-byte digest — the minimum possible.
- MinHash: signatures are computed *per-row* with array expressions (one md5
  per shingle, then pure integer arithmetic per permutation) — no explode, no
  shuffle until the LSH band join. Bands fan out rows ×n_bands only.
- Shingle self-join (exact Jaccard) is the quadratic-risk path; it is the
  verification stage applied to LSH *candidates*, not to all pairs.

Cross-engine determinism: every hash is md5-derived (see functions/__init__),
so DuckDB oracle SQL (generated alongside each operator) reproduces the exact
bits; Jaccard values are ratios of ints → identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.functions import (
    MERSENNE32,
    md5_int,
    md5_int_sql,
    perm_params,
    q6,
    q6_sql,
)
from flink_streaming_etl_spark.operators._cache import memo_persist

# ---------------------------------------------------------------------------
# Shared shingle plumbing

SHINGLE_K = 2  # word-bigram shingles (vocab is small; bigrams discriminate)
N_PERMS = 8
N_BANDS = 4  # bands of 2 rows each
PERMS = perm_params(N_PERMS)


def _word_shingle_rows(
    documents: DataFrame, k: int = SHINGLE_K, distinct: bool = False
) -> DataFrame:
    """(doc_id, shingle) rows, fully whole-stage-codegen'd.

    The word array is materialized ONCE as a projected column, then
    explode(sequence) + slice + concat_ws generate shingles row-by-row.
    This deliberately avoids array HOFs: a `transform` lambda referencing
    the split expression re-runs the regex split per element (measured 3.5 s
    vs ~0.3 s at sf0.1), and `array_distinct` is O(len²) per row — distinct
    is a codegen'd dropDuplicates instead, and only where semantics need it
    (min-aggregation paths are duplicate-insensitive and skip it)."""
    return shingle_rows_from_tokens(
        documents.select("doc_id", F.split(F.trim("text"), r"\s+").alias("_w")),
        k,
        distinct,
    )


def shingle_rows_from_tokens(
    tokenized: DataFrame, k: int = SHINGLE_K, distinct: bool = False
) -> DataFrame:
    """Same as ``_word_shingle_rows`` but over a relation that already
    carries the token array as ``_w`` — lets a multi-stage composition
    tokenize the corpus once and share it."""
    rows = tokenized.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_w") - (k - 1), F.lit(1)))
        ).alias("_i"),
        "_w",
    ).select("doc_id", F.concat_ws(" ", F.slice("_w", F.col("_i"), k)).alias("shingle"))
    return rows.dropDuplicates(["doc_id", "shingle"]) if distinct else rows


def _h32(elem: Column) -> Column:
    """md5-derived 32-bit int of a shingle (portable; see functions)."""
    return F.conv(F.substring(F.md5(elem), 1, 8), 16, 10).cast("long")


def shingle_cte(k: int = SHINGLE_K) -> str:
    """DuckDB CTEs `words` + `shingles` mirroring :func:`_shingles`."""
    shingle_expr = "concat_ws(' ', " + ", ".join(f"w[i+{j}]" for j in range(k)) + ")"
    return f"""
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, {shingle_expr} AS shingle
  FROM words, UNNEST(range(1, greatest(len(w) - {k - 1}, 1) + 1)) AS t(i)
)"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on a normalized content digest.


def dedup_exact(documents: DataFrame) -> DataFrame:
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return (
        documents.select(F.col("doc_id"), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the ground-truth near-dup relation).


def _hash_array_rel(documents: DataFrame) -> DataFrame:
    """(doc_id, hashes): sorted DISTINCT 60-bit md5-prefix shingle hashes
    per document — the set-representation every exact-Jaccard consumer
    intersects. collect_set dedups ≡ DISTINCT string shingles (collision
    odds ~V²/2⁶¹); the distinct rides the groupBy shuffle free. Memo-
    persisted: the exact-Jaccard kernels of one corpus share it."""
    rows = _word_shingle_rows(documents).withColumn(
        "h", F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    )
    return memo_persist(
        "hash_arrays",
        rows.groupBy("doc_id").agg(F.array_sort(F.collect_set("h")).alias("hashes")),
    )


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.05, block_size: int = 512
) -> DataFrame:
    """Exact all-pairs Jaccard — dense-regime blocked set-intersection GEMM.

    The testdata (and any near-dup-heavy corpus) is *dense*: a small shingle
    vocabulary shared by most documents, so nearly every doc pair has a
    nonzero intersection and any pair-explosion strategy shuffles O(n²)
    group keys. Instead: block documents (one collect_list shuffle), join
    blocks on blk_a <= blk_b (each unordered block pair once), and compute
    every pairwise intersection size inside an Arrow task as a 0/1-matrix
    product over the block-local vocabulary (np.unique + searchsorted +
    BLAS). 0/1 dot products are exact integers in float64 under any
    summation order, so `common` matches the oracle's COUNT(*) bit-for-bit;
    jaccard = common/(n_a+n_b-common) is one float64 division on identical
    ints. Shingle identity travels as a 60-bit md5 prefix (collision odds
    ~V²/2⁶¹).

    Sparse regime (huge vocab, rare overlaps) → :func:`ngram_jaccard_pairs_sparse`.
    """
    import numpy as np
    import pandas as pd

    docs = _hash_array_rel(documents)
    n_blocks = max(1, -(-documents.count() // block_size))
    g = docs.groupBy(F.pmod(F.col("doc_id"), F.lit(n_blocks)).alias("blk")).agg(
        F.collect_list(F.struct("doc_id", "hashes")).alias("docs")
    )
    bp = (
        g.alias("A")
        .join(g.alias("B"), F.col("A.blk") <= F.col("B.blk"))
        .select(F.col("A.docs").alias("docs_a"), F.col("B.docs").alias("docs_b"))
    )

    # Helpers are nested so cloudpickle captures them by value — executor
    # Python workers can't import this package when the driver session comes
    # from outside the repo (see similarity._vec_helpers).
    def unpack_sets(cell):
        ids = np.fromiter((d["doc_id"] for d in cell), dtype=np.int64, count=len(cell))
        sets = [np.asarray(d["hashes"], dtype=np.int64) for d in cell]
        return ids, sets

    def indicator(sets, vocab):
        # Dense 0/1 membership matrix (n_docs × |vocab|); memory bounded by
        # the block-local vocabulary. Sparse regime → chunk the vocab axis
        # or use ngram_jaccard_pairs_sparse.
        M = np.zeros((len(sets), len(vocab)))
        for i, s in enumerate(sets):
            M[i, np.searchsorted(vocab, s)] = 1.0
        return M

    def kernel(it):
        for pdf in it:
            outs = []
            for row in pdf.itertuples(index=False):
                ids_a, sets_a = unpack_sets(row.docs_a)
                ids_b, sets_b = unpack_sets(row.docs_b)
                vocab = np.unique(np.concatenate(sets_a + sets_b))
                A = indicator(sets_a, vocab)
                B = indicator(sets_b, vocab)
                common = A @ B.T  # exact: 0/1 entries, counts < 2^53
                n_a = np.array([len(s) for s in sets_a], dtype=np.int64)
                n_b = np.array([len(s) for s in sets_b], dtype=np.int64)
                jac = common / (n_a[:, None] + n_b[None, :] - common)
                mask = (
                    (common >= 1)
                    & (jac >= threshold)
                    & (ids_a[:, None] < ids_b[None, :])
                )
                ii, kk = np.nonzero(mask)
                if len(ii):
                    outs.append(
                        pd.DataFrame(
                            {
                                "a_id": ids_a[ii],
                                "b_id": ids_b[kk],
                                "common": common[ii, kk].astype(np.int64),
                                "n_a": n_a[ii],
                                "n_b": n_b[kk],
                                "jaccard": np.floor(jac[ii, kk] * 1000000.0) / 1000000.0,
                            }
                        )
                    )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame(
                    {"a_id": [], "b_id": [], "common": [], "n_a": [], "n_b": [], "jaccard": []}
                ).astype(
                    {c: "int64" for c in ("a_id", "b_id", "common", "n_a", "n_b")}
                    | {"jaccard": "float64"}
                )
            )

    return bp.repartition(F.rand(42)).mapInPandas(
        kernel, "a_id long, b_id long, common long, n_a long, n_b long, jaccard double"
    )


def ngram_jaccard_pairs_sparse(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Sparse-regime exact Jaccard: inverted index + codegen'd pair
    explosion (posexplode + slice — no interpreted HOFs), partial-agg
    reduction of pair counts. The scale path when the shingle vocabulary is
    large and posting lists are short; cap or salt ultra-frequent shingles
    at 100 TB (stopword shingles carry no near-dup signal)."""
    sh = _word_shingle_rows(documents, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    postings = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = (
        postings.select(F.posexplode("ids").alias("i", "a_id"), "ids")
        .select("a_id", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("b_id"))
    )
    common = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("common"))
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("common") / (F.col("na.n") + F.col("nb.n") - F.col("common"))
    return (
        common.join(na, F.col("a_id") == F.col("na.doc_id"))
        .join(nb, F.col("b_id") == F.col("nb.doc_id"))
        .filter(jac >= threshold)
        .select(
            "a_id",
            "b_id",
            "common",
            F.col("na.n").alias("n_a"),
            F.col("nb.n").alias("n_b"),
            q6(jac).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs_sql(threshold: float = 0.05) -> str:
    return f"""
WITH {shingle_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, common, na.n AS n_a, nb.n AS n_b,
       floor((common / (na.n + nb.n - common)) * 1000000.0) / 1000000.0 AS jaccard
FROM common
JOIN sizes na ON a_id = na.doc_id
JOIN sizes nb ON b_id = nb.doc_id
WHERE common / (na.n + nb.n - common) >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash signatures (per-row, no shuffle) + LSH banding candidate pairs.


def _shingle_rows(documents: DataFrame, distinct: bool = False) -> DataFrame:
    """(doc_id, shingle, h32) rows — codegen'd end to end; md5 computed
    exactly once per shingle row. MinHash min-aggregation is
    duplicate-insensitive so it skips the distinct; SimHash votes are not,
    so it asks for it."""
    return _word_shingle_rows(documents, distinct=distinct).withColumn(
        "h32", _h32(F.col("shingle"))
    )


def _sig_aggs(h: Column | None = None) -> list[Column]:
    """m_i = MIN over shingles of (a_i * h32 + b_i) mod p — codegen'd
    partial+final min aggregation, one shuffle on doc_id. ``h`` overrides
    the hash column (default the ``h32`` column)."""
    if h is None:
        h = F.col("h32")
    return [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE32)).alias(f"m{i}")
        for i, (a, b) in enumerate(PERMS)
    ]


def minhash_signatures(documents: DataFrame) -> DataFrame:
    return _shingle_rows(documents).groupBy("doc_id").agg(*_sig_aggs())


def minhash_signatures_sql() -> str:
    h = md5_int_sql("shingle", 8)
    sigs = ", ".join(
        f"MIN(({a} * h32 + {b}) % {MERSENNE32}) AS m{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    return f"""
WITH {shingle_cte()},
h AS (SELECT doc_id, {h} AS h32 FROM shingles)
SELECT doc_id, {sigs} FROM h GROUP BY doc_id
"""


def minhash_lsh_pairs(
    documents: DataFrame, threshold: float = 0.05, max_bucket: int | None = None
) -> DataFrame:
    """LSH: band signatures → bucket join → exact-Jaccard verification of
    candidates only. rows_per_band = N_PERMS / N_BANDS = 2.

    Scale shape: signatures via one explode+groupBy (codegen md5, one
    shuffle); banding fans out ×N_BANDS rows; the candidate self-join
    shuffles on band_key; only *candidates* pay the exact-Jaccard check.
    Verification intersects per-doc 60-bit hash sets (int64 arrays — ~5×
    cheaper to intersect than string arrays; identical counts to DISTINCT
    string shingles at ~V²/2⁶¹ collision odds), broadcast-joined back.

    ``max_bucket`` is the skew guard for web-scale corpora: a band bucket
    holding K docs contributes K²/2 candidate pairs, so one boilerplate
    bucket (navigation chrome, license headers) turns the self-join
    quadratic. Capping drops those buckets entirely — their members still
    pair through their other, non-boilerplate bands, which is exactly the
    LSH recall argument. Off by default (small-SF parity is exact).

    The verified pair relation is memo-persisted: the dedup DECISION
    queries (drop list, apply, clustering) all consume it, so a corpus
    mines its pairs once."""
    # r14 fused signature+set relation (guide §1.2/§2.3): signatures and
    # the exact-verify hash sets previously ran as TWO relations, each
    # re-tokenizing and re-hashing every shingle occurrence (two md5
    # passes over the corpus), and the un-persisted signature pipeline was
    # additionally computed twice by the banded self-join's two aliases.
    # One md5(15-hex) pass now feeds both: the 32-bit permutation input is
    # the top 32 bits of the 60-bit prefix (first 8 hex chars == h60 >> 28,
    # exact integer arithmetic — signatures are bit-identical), and ONE
    # doc_id groupBy produces the 8 MIN columns and the sorted distinct
    # hash set together. One corpus pass + one shuffle where there were
    # two of each, and the persisted relation serves banding (both
    # self-join sides) and verification from cache.
    rows = _word_shingle_rows(documents).withColumn(
        "h60", F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    )
    fused = memo_persist(
        "lsh_sig_sets",
        rows.groupBy("doc_id").agg(
            *_sig_aggs(F.shiftright(F.col("h60"), 28)),
            F.array_sort(F.collect_set("h60")).alias("sh"),
        ),
    )
    sigs = fused
    bands = F.array(
        *[
            F.concat_ws(":", F.lit(bi), F.col(f"m{2 * bi}"), F.col(f"m{2 * bi + 1}"))
            for bi in range(N_BANDS)
        ]
    )
    banded = sigs.select("doc_id", F.explode(bands).alias("band_key"))
    if max_bucket is not None:
        # Anti-join against the OVERSIZED buckets: that set is tiny (it's
        # the skew tail) and broadcastable at any corpus size, unlike its
        # complement.
        hot = (
            banded.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band_key")
        )
        banded = banded.join(F.broadcast(hot), "band_key", "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    arrays = fused.select("doc_id", "sh")
    cand = (
        cand.join(arrays.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a")), "a_id")
        .join(arrays.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    jac = common.cast("double") / union
    out = (
        cand.withColumn("jaccard", q6(jac))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    # The verified pair relation is a small fraction of the corpus: re-bucket
    # it into a few right-sized partitions before caching, so each downstream
    # consumer (drop list, apply, clustering, curation) pays per-task overhead
    # proportional to the relation, not to the mining job's shuffle width
    # (measured 5× on consumer queries). Mining stages above keep full
    # parallelism; only the (tiny) result crosses this one extra exchange.
    n_cache = max(4, documents.sparkSession.sparkContext.defaultParallelism // 8)
    return memo_persist("lsh_pairs", out.repartition(n_cache))


def minhash_lsh_pairs_sql(threshold: float = 0.05) -> str:
    h = md5_int_sql("shingle", 8)
    sigs = ", ".join(
        f"MIN(({a} * h32 + {b}) % {MERSENNE32}) AS m{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{bi}:' || m{2 * bi} || ':' || m{2 * bi + 1} AS band_key FROM sig"
        for bi in range(N_BANDS)
    )
    return f"""
WITH {shingle_cte()},
h AS (SELECT doc_id, {h} AS h32 FROM shingles),
sig AS (SELECT doc_id, {sigs} FROM h GROUP BY doc_id),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
common AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.a_id
  JOIN shingles sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT c.a_id, c.b_id,
       floor((common / (na.n + nb.n - common)) * 1000000.0) / 1000000.0 AS jaccard
FROM common c
JOIN sizes na ON c.a_id = na.doc_id
JOIN sizes nb ON c.b_id = nb.doc_id
WHERE floor((common / (na.n + nb.n - common)) * 1000000.0) / 1000000.0 >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash (32-bit, md5-derived bit votes) — per-row, no shuffle.

SIMHASH_BITS = 32


def simhash(documents: DataFrame) -> DataFrame:
    """One explode + one groupBy: 32 codegen'd conditional-sum aggregates
    (bit votes), then the signature is assembled from the vote columns.
    Memo-persisted: simhash_pairs re-consumes the signature relation."""
    rows = _shingle_rows(documents, distinct=True)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h32"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = rows.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"v{b}") >= 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0))
    return memo_persist("simhash", g.select("doc_id", sig.alias("simhash32")))


def simhash_sql() -> str:
    h = md5_int_sql("shingle", 8)
    votes = ", ".join(
        f"SUM(CASE WHEN (h32 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{b} >= 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH {shingle_cte()},
h AS (SELECT doc_id, {h} AS h32 FROM shingles),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash32 FROM votes
"""


# ---------------------------------------------------------------------------
# Dedup decision: which docs to DROP (keep-first policy over near-dup pairs).


def neardup_drop_list(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Keep-first near-dup removal: a document is dropped iff it is the
    larger id of any LSH-verified near-dup pair. One projection over the
    pair relation — the decision stage a 100 TB dedup job applies as an
    anti-join against the corpus."""
    return (
        minhash_lsh_pairs(documents, threshold)
        .select(F.col("b_id").alias("doc_id"))
        .dropDuplicates(["doc_id"])
    )


def neardup_drop_list_sql(threshold: float = 0.05) -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)})
SELECT DISTINCT b_id AS doc_id FROM pairs
"""


def dedup_apply(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    """The dedup pipeline's OUTPUT: the kept corpus — documents anti-joined
    against the near-dup drop list. One broadcast-able anti-join at any
    scale (the drop list is a small fraction of the corpus by
    construction)."""
    drops = neardup_drop_list(documents, threshold)
    return documents.join(drops, on="doc_id", how="left_anti").select("doc_id", "lang")


def dedup_apply_sql(threshold: float = 0.05) -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
drops AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
SELECT d.doc_id, d.lang FROM documents d
ANTI JOIN drops USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components of the pair graph.


def neardup_clusters(documents: DataFrame, threshold: float = 0.05, max_iter: int = 30) -> DataFrame:
    """Connected components over the LSH near-dup pair graph: every doc in a
    component gets the component's smallest doc_id as cluster id — the
    cluster-level dedup decision (keep one representative per component,
    not merely per pair, so transitive near-dups collapse too).

    Pregel-style min-label propagation with pointer jumping: each round is
    one distributed join+groupBy (labels flow along edges) followed by a
    label := label(label) shortcut join, so convergence takes
    ~log2(diameter) rounds instead of diameter (measured 10 → 6 on the
    sf0.1 pair graph). The jump is safe because label(v) <= v always
    (labels are mins over node ids in the component), and a
    propagation-stable labeling is already constant per component, so the
    no-change stopping rule is exact. The driver only checks convergence;
    at extreme scale the same loop shape admits the alternating
    large-star/small-star contraction. Deterministic: min over a component
    is order-independent.
    """
    pairs = minhash_lsh_pairs(documents, threshold).select("a_id", "b_id")
    edges = pairs.unionByName(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).localCheckpoint(eager=True)
    # The edge relation holds only docs that appear in some near-dup pair —
    # orders of magnitude smaller than the corpus. Iterating at the session's
    # corpus-sized shuffle width just buys per-stage task overhead (32 tasks
    # of ~1k rows × ~4 stages × ~6 rounds); size the loop's shuffles to the
    # graph instead and restore the conf after. On a cluster the same logic
    # picks a width proportional to the measured edge count.
    spark = documents.sparkSession
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    width = max(8, min(int(prev_width), edges.count() // 50_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        labels = _label_propagation_loop(edges, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _label_propagation_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    # Self-loop edges make "keep your own label" part of the same
    # neighbor-min aggregation — no separate merge join per round. Labels
    # only ever decrease, so SUM(label) is strictly monotone until the
    # fixpoint: convergence = unchanged sum (a 1-column agg on materialized
    # data, replacing a changed-flag join + filter + count).
    # r14: no distinct() for the self-loops — duplicate (v, v) rows are
    # absorbed by the MIN aggregation, and dropping the distinct removes a
    # whole shuffle from the loop's setup (guide §2.4).
    edges_self = edges.unionByName(
        edges.select(F.col("a_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).localCheckpoint(eager=True)
    # Initialize with round 1 already applied: with identity labels, the
    # first propagation is just min(neighbor ids ∪ self) — computable
    # directly from the edge list, one whole round cheaper.
    labels = (
        edges_self.groupBy(F.col("b_id").alias("node"))
        .agg(F.min("a_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for it in range(max_iter):
        propagated = (
            edges_self.join(labels, edges_self["a_id"] == labels["node"])
            .groupBy(F.col("b_id").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        lk = propagated.select(F.col("node").alias("ln"), F.col("label").alias("ll"))
        new_labels = (
            propagated.join(lk, propagated["label"] == lk["ln"], "left")
            .select("node", F.coalesce(F.col("ll"), F.col("label")).alias("label"))
        )
        # r14 loop restructure (guide §1.2 — fewer actions): each round is
        # now TWO jobs instead of three. persist + the convergence SUM is
        # one job that doubles as the cache materialization (the agg reads
        # every partition, filling the cache), and the localCheckpoint
        # reads back from that cache — the same eager_checkpoint contract
        # (the LogicalRDD inherits REAL cache-measured stats, keeping the
        # next round's self-join broadcastable; see ckpt.py). On the
        # convergence round the unchanged SUM proves new_labels == labels
        # row-for-row (labels only decrease), so the checkpoint is skipped
        # entirely and the previous round's relation is returned.
        cached = new_labels.persist()
        cur_sum = cached.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            cached.unpersist(blocking=False)
            break
        labels = cached.localCheckpoint(eager=True)
        cached.unpersist(blocking=False)
        prev_sum = cur_sum
    return labels


def neardup_clusters_sql(threshold: float = 0.05) -> str:
    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_pairs_sql(threshold)}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: hamming-ball search via byte-band bucketing.

HAMMING_MAX = 3
N_SIM_BANDS = 4  # 4 bytes of the 32-bit signature


def simhash_pairs(documents: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """Pairs whose SimHash signatures differ in ≤ ``max_hamming`` bits.

    Pigeonhole banding: with 4 byte-bands and max_hamming ≤ 3, any
    qualifying pair agrees exactly on ≥ 1 band → bucket-join on (band idx,
    band byte) generates every candidate (no recall loss), then the exact
    popcount(xor) check keeps true pairs. Candidate volume is the classic
    LSH trade: ×4 row fan-out, bucket-local joins, no all-pairs scan."""
    sigs = simhash(documents)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("simhash32"), 8 * bi).bitwiseAND(F.lit(255)).alias("byte"),
            )
            for bi in range(N_SIM_BANDS)
        ]
    )
    banded = sigs.select("doc_id", "simhash32", F.explode(bands).alias("b")).select(
        "doc_id", "simhash32", F.col("b.band").alias("band"), F.col("b.byte").alias("byte")
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash32").bitwiseXOR(F.col("b.simhash32"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_pairs_sql(max_hamming: int = HAMMING_MAX) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash32, {bi} AS band, (simhash32 >> {8 * bi}) & 255 AS byte FROM sigs"
        for bi in range(N_SIM_BANDS)
    )
    return f"""
WITH sigs AS ({simhash_sql()}),
banded AS ({bands})
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.simhash32, b.simhash32)) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Train/eval contamination check: the decontamination stage every LLM data
# pipeline runs before a benchmark split ships. A held-out doc is
# contaminated when a high fraction of its word shingles also occur
# anywhere in the training split. Shingles are joined as 60-bit md5-prefix
# int64s (portable across engines, ~5x cheaper to shuffle/compare than the
# strings; collision odds ~V²/2⁶¹): one distinct pass per side, one
# hash-join on the shingle key, one per-doc rollup. At 100 TB the train
# shingle set is bucketed/bloom-filtered, not broadcast.


def contamination_check(
    documents: DataFrame, eval_source: str = "src0", min_ratio: float = 0.2
) -> DataFrame:
    h = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    test_sh = _word_shingle_rows(
        documents.filter(F.col("source") == eval_source), distinct=True
    ).select("doc_id", h.alias("h"))
    train_sh = (
        _word_shingle_rows(documents.filter(F.col("source") != eval_source))
        .select(h.alias("h"))
        .distinct()
    )
    # One pass over the eval shingles: a left join against the (distinct)
    # train set carries an indicator, and a single groupBy produces both
    # the shingle count and the overlap count — vs the obvious two-agg
    # formulation this halves the eval-side shuffles (train_sh is unique
    # on h, so the left join cannot multiply rows).
    from flink_streaming_etl_spark.functions import q6

    marked = test_sh.join(
        train_sh.withColumn("_hit", F.lit(1)), "h", "left"
    )
    counts = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap"),
    )
    ratio = q6(F.col("n_overlap") / F.col("n_shingles"))
    return counts.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        ratio.alias("contamination"),
        (ratio >= min_ratio).alias("is_contaminated"),
    )


def contamination_check_sql(eval_source: str = "src0", min_ratio: float = 0.2) -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    shingle_expr = "concat_ws(' ', w[i], w[i+1])"
    ratio = q6_sql("COALESCE(o.n_overlap, 0) / t.n_shingles")
    return rf"""
WITH words AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         ('0x' || substr(md5({shingle_expr}), 1, 15))::BIGINT AS h
  FROM words, UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)
),
test_sh AS (SELECT doc_id, h FROM sh WHERE source = '{eval_source}'),
train_sh AS (SELECT DISTINCT h FROM sh WHERE source <> '{eval_source}'),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test_sh GROUP BY doc_id),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM test_sh WHERE h IN (SELECT h FROM train_sh)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       {ratio} AS contamination,
       {ratio} >= {min_ratio} AS is_contaminated
FROM per_doc t LEFT JOIN overlap o ON t.doc_id = o.doc_id
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup: the "new batch vs existing corpus"
# shape every production ingestion pipeline runs (the ops above dedup a
# corpus against itself). Corpus = even doc_ids, incoming = odd doc_ids
# (a deterministic stand-in for "yesterday's lake vs today's batch").
#
# Key = prefix fingerprint (first PREFIX_TOKENS whitespace tokens,
# normalized) — prefix dedup is a standard crawl-pipeline key, and unlike
# full-text md5 it actually collides on this corpus.
#
# Scale design (the whole point of this operator): the naive plan is an
# anti-join of 100 TB incoming against a petabyte corpus — a full shuffle
# of both sides on the fingerprint. Instead we build a Bloom filter OVER
# THE CORPUS as data (explode each corpus key to BLOOM_HASHES bit
# positions, distinct → at most BLOOM_BITS rows — a bounded, narrow-int
# shuffle with map-side partial dedup), broadcast those set bits, and
# semi-join incoming keys against them: rows matching all K positions are
# *candidates* (dups + false positives); everything else is kept with NO
# wide shuffle. Only candidates — |dups| + ~|incoming|·(1-e^{-Kn/m})^K —
# pay the exact verification anti-join, whose shuffle is now tiny. No
# false negatives, so kept = exact anti-join result, verified by oracle.
# (Spark's own runtime row-filter does this inside one query; here the
# corpus bloom would be *persisted* across daily runs — build once,
# reuse per batch.)

PREFIX_TOKENS = 8
BLOOM_BITS = 1 << 17
BLOOM_HASHES = 4


def _prefix_fp(text: Column) -> Column:
    return F.concat_ws(" ", F.slice(F.split(F.trim(text), r"\s+"), 1, PREFIX_TOKENS))


_PREFIX_FP_SQL = (
    "array_to_string((string_split_regex(trim(text), '\\s+'))"
    f"[1:{PREFIX_TOKENS}], ' ')"
)


def bloom_incremental_dedup(documents: DataFrame) -> DataFrame:
    """Kept incoming doc_ids: odd-id docs whose prefix fingerprint does not
    appear among even-id (corpus) docs. Bloom prefilter + exact verify."""
    fp = documents.select("doc_id", _prefix_fp(F.col("text")).alias("fp"))
    corpus = fp.filter(F.col("doc_id") % 2 == 0)
    incoming = fp.filter(F.col("doc_id") % 2 == 1)

    positions = F.array(
        *[
            F.pmod(md5_int(F.col("fp"), salt=f"bloom{i}"), F.lit(BLOOM_BITS))
            for i in range(BLOOM_HASHES)
        ]
    )
    bits = corpus.select(F.explode(positions).alias("pos")).distinct()

    hits = (
        incoming.select("doc_id", "fp", F.explode(positions).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == BLOOM_HASHES)  # all K bits set → candidate
        .select("doc_id", "fp")
    )
    clean = incoming.join(hits, "doc_id", "left_anti")  # bloom says new
    false_pos = hits.join(corpus.select("fp"), "fp", "left_anti").select("doc_id")
    return clean.select("doc_id").unionByName(false_pos)


def bloom_incremental_dedup_sql() -> str:
    return f"""
WITH fp AS (SELECT doc_id, {_PREFIX_FP_SQL} AS f FROM documents)
SELECT d.doc_id
FROM fp d
WHERE d.doc_id % 2 = 1
  AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id % 2 = 0 AND c.f = d.f)
"""


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each document is text the corpus has already
# seen in EARLIER documents (doc_id order = ingestion order)? The dedup
# decision's softer sibling — a pretraining mixer keeps high-novelty docs
# and down-weights near-boilerplate. Scale shape: one shuffle of distinct
# (shingle, doc_id) rows keyed on shingle for the min-owner aggregation;
# the ownership join reuses that partitioning (AQE); final per-doc rollup
# shuffles doc-keyed rows once. Cost ~ corpus shingle count — no pairwise
# term at any scale.


def ngram_novelty(documents: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    return novelty_from_shingles(_word_shingle_rows(documents, k, distinct=True))


def novelty_from_shingles(sh: DataFrame) -> DataFrame:
    """Novelty rollup over a prebuilt distinct (doc_id, shingle) relation —
    the shareable half of ``ngram_novelty``."""
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    owned = sh.join(first, "shingle")
    seen_before = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        owned.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            seen_before.alias("n_seen_before"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_seen_before",
            q6(F.lit(1.0) - F.col("n_seen_before") / F.col("n_shingles")).alias("novelty"),
        )
    )


def ngram_novelty_sql(k: int = SHINGLE_K) -> str:
    nov = q6_sql("(1.0 - n_seen_before / n_shingles::DOUBLE)")
    return f"""
WITH {shingle_cte(k)},
first_owner AS (SELECT shingle, MIN(doc_id) AS first_doc FROM shingles GROUP BY 1),
owned AS (
  SELECT s.doc_id, CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END AS seen
  FROM shingles s JOIN first_owner f ON s.shingle = f.shingle
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles, SUM(seen) AS n_seen_before
  FROM owned GROUP BY 1
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_seen_before AS BIGINT) AS n_seen_before,
       {nov} AS novelty
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Cluster-level dedup decision keeping the BEST document per near-dup
# cluster — what a curation pipeline actually ships (keep-first keeps
# whichever doc has the smallest id; keep-best keeps the highest quality
# one). Scale shape: the cluster relation covers only docs that appear in
# some near-dup pair (orders of magnitude smaller than the corpus); the
# winner window runs over that small relation; the corpus-sized work is a
# single anti join against the clustered-doc list.


def neardup_keep_best(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    from pyspark.sql.window import Window

    from flink_streaming_etl_spark.operators.text import quality_score

    clusters = neardup_clusters(documents, threshold)
    quality = quality_score(documents).select("doc_id", "quality")
    scored = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    winners = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    unclustered = documents.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    return (
        unclustered.unionByName(winners)
        .join(quality, "doc_id")
        .join(documents.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", "quality")
    )


def neardup_keep_best_sql(threshold: float = 0.05) -> str:
    from flink_streaming_etl_spark.operators.text import quality_score_sql

    return f"""
WITH clusters AS ({neardup_clusters_sql(threshold)}),
quality AS ({quality_score_sql()}),
winners AS (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality DESC, c.doc_id) AS rn
    FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
  ) WHERE rn = 1
),
kept AS (
  SELECT d.doc_id FROM documents d
  ANTI JOIN clusters c ON d.doc_id = c.doc_id
  UNION ALL
  SELECT doc_id FROM winners
)
SELECT k.doc_id, d.lang, d.source, q.quality
FROM kept k
JOIN quality q ON k.doc_id = q.doc_id
JOIN documents d ON k.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# MinHash estimator-quality gauge (the text-side sibling of
# similarity.ann_recall_report): for every verified LSH pair, the
# signature-estimated Jaccard (matching permutations / N_PERMS) next to
# the exact set Jaccard, with the per-pair absolute error. Both values
# are ratios of integers, so the report is engine-exact — the dial a
# dedup pipeline watches when tuning N_PERMS/N_BANDS against its recall
# target. Scale: joins run over the (small) verified pair relation and
# the signature relation; per-pair work is N_PERMS integer compares.


def minhash_error_report(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    pairs = minhash_lsh_pairs(documents, threshold).select("a_id", "b_id", "jaccard")
    sigs = minhash_signatures(documents)
    a = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"m{i}").alias(f"_a{i}") for i in range(N_PERMS)],
    )
    b = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"m{i}").alias(f"_b{i}") for i in range(N_PERMS)],
    )
    matches = sum(
        [
            F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
            for i in range(N_PERMS)
        ],
        F.lit(0),
    )
    est = matches.cast("double") / F.lit(float(N_PERMS))
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            "jaccard",
            q6(est).alias("est_jaccard"),
            q6(F.abs(est - F.col("jaccard"))).alias("abs_err"),
        )
    )


def minhash_error_report_sql(threshold: float = 0.05) -> str:
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(N_PERMS)
    )
    est = f"(({matches}) / {float(N_PERMS)})"
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
sig AS ({minhash_signatures_sql()})
SELECT p.a_id, p.b_id, p.jaccard,
       {q6_sql(est)} AS est_jaccard,
       {q6_sql(f"abs({est} - p.jaccard)")} AS abs_err
FROM pairs p
JOIN sig a ON p.a_id = a.doc_id
JOIN sig b ON p.b_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# Cross-source duplication matrix — which source pairs share near-duplicate
# documents. The curation question behind source blending: heavy cross-
# source duplication means two "sources" are really one distribution (and
# their mixture weights double-count it). Consumes the memoized verified
# LSH pair relation (tiny by construction), joins the corpus only to
# project doc_id → source (linear, key-partitioned), and aggregates to a
# source²-bounded matrix.


def cross_source_dup_matrix(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    """(src_a ≤ src_b, n_pairs, mean_jaccard). Jaccard means are folded in
    exact integer micro-units (the pair relation's jaccard is already
    q6-quantized), so the mean is order-independent across engines."""
    pairs = minhash_lsh_pairs(documents, threshold)
    src = documents.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "src_1"), "a_id")
        .join(src.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "src_2"), "b_id")
        .select(
            F.least("src_1", "src_2").alias("src_a"),
            F.greatest("src_1", "src_2").alias("src_b"),
            F.round(F.col("jaccard") * 1000000).cast("long").alias("j_micro"),
        )
    )
    return labeled.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            (F.sum("j_micro").cast("double") / F.lit(1000000.0))
            / F.count(F.lit(1))
        ).alias("mean_jaccard"),
    )


def cross_source_dup_matrix_sql(threshold: float = 0.05) -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
labeled AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b,
         CAST(round(p.jaccard * 1000000) AS BIGINT) AS j_micro
  FROM pairs p
  JOIN documents da ON p.a_id = da.doc_id
  JOIN documents db ON p.b_id = db.doc_id
)
SELECT src_a, src_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       (CAST(SUM(j_micro) AS DOUBLE) / 1000000.0) / COUNT(*) AS mean_jaccard
FROM labeled GROUP BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Containment scoring — |A∩B| / |A| per verified near-dup pair, both
# directions. Jaccard misses the "short document embedded inside a long
# one" case (the intersection is small relative to the UNION); containment
# is the standard fix (Broder's containment coefficient — the quantity
# behind suffix-style subset dedup in web-corpus pipelines). Consumes the
# memoized LSH pair relation and the persisted per-doc hash sets: only
# candidate pairs pay the set intersection.


def containment_pairs(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    """(a_id, b_id, jaccard, containment_a, containment_b, is_subset):
    containment_a = |A∩B|/|A| (how much of A lives inside B); is_subset
    flags pairs where either side is ≥90% contained in the other."""
    pairs = minhash_lsh_pairs(documents, threshold)
    arrays = _hash_array_rel(documents).withColumnRenamed("hashes", "sh")
    scored = (
        pairs.join(
            arrays.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a")),
            "a_id",
        )
        .join(
            arrays.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b")),
            "b_id",
        )
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    ca = q6(common.cast("double") / F.size("sh_a"))
    cb = q6(common.cast("double") / F.size("sh_b"))
    return scored.select(
        "a_id",
        "b_id",
        "jaccard",
        ca.alias("containment_a"),
        cb.alias("containment_b"),
        ((ca >= 0.9) | (cb >= 0.9)).cast("int").alias("is_subset"),
    )


def containment_pairs_sql(threshold: float = 0.05) -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
{shingle_cte()},
sets AS (SELECT doc_id, COUNT(DISTINCT shingle) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT p.a_id, p.b_id, p.jaccard, COUNT(DISTINCT sa.shingle) AS c
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.a_id
  JOIN shingles sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
  GROUP BY p.a_id, p.b_id, p.jaccard
)
SELECT c.a_id, c.b_id, c.jaccard,
       floor((c.c::DOUBLE / na.n) * 1000000.0) / 1000000.0 AS containment_a,
       floor((c.c::DOUBLE / nb.n) * 1000000.0) / 1000000.0 AS containment_b,
       CAST(CASE WHEN floor((c.c::DOUBLE / na.n) * 1000000.0) / 1000000.0 >= 0.9
                   OR floor((c.c::DOUBLE / nb.n) * 1000000.0) / 1000000.0 >= 0.9
            THEN 1 ELSE 0 END AS INT) AS is_subset
FROM common c
JOIN sets na ON c.a_id = na.doc_id
JOIN sets nb ON c.b_id = nb.doc_id
"""


# ---------------------------------------------------------------------------
# Corpus dedup dashboard — the one-row report a curation run opens with:
# corpus size, exact-dup mass, near-dup pair/drop counts, survivor count
# and rate. Composes the already-memoized relations (exact groups, LSH
# pairs, drop list) — nothing here re-mines; every input is persisted by
# its producer, so the dashboard costs three small aggregations.


def dedup_stats_report(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    n_docs = documents.count()
    exact_extra = (
        dedup_exact(documents)
        .select((F.col("n_copies") - 1).alias("extra"))
        .agg(F.sum("extra"))
        .collect()[0][0]
        or 0
    )
    pairs = minhash_lsh_pairs(documents, threshold)
    n_pairs = pairs.count()
    drops = neardup_drop_list(documents, threshold).count()
    survivors = n_docs - drops
    spark = documents.sparkSession
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                int(exact_extra),
                int(n_pairs),
                int(drops),
                int(survivors),
                float(
                    __import__("math").floor(survivors / n_docs * 1e6) / 1e6
                    if n_docs
                    else 0.0
                ),
            )
        ],
        "n_docs long, n_exact_extra_copies long, n_neardup_pairs long, "
        "n_dropped long, n_survivors long, survivor_rate double",
    )


def dedup_stats_report_sql(threshold: float = 0.05) -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
drops AS (SELECT DISTINCT b_id FROM pairs),
exact AS (
  SELECT COUNT(*) - COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS extra
  FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT CAST(n.n_docs AS BIGINT) AS n_docs,
       CAST(exact.extra AS BIGINT) AS n_exact_extra_copies,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_neardup_pairs,
       CAST((SELECT COUNT(*) FROM drops) AS BIGINT) AS n_dropped,
       CAST(n.n_docs - (SELECT COUNT(*) FROM drops) AS BIGINT) AS n_survivors,
       floor((n.n_docs - (SELECT COUNT(*) FROM drops))::DOUBLE / n.n_docs * 1000000.0) / 1000000.0 AS survivor_rate
FROM n, exact
"""


# ---------------------------------------------------------------------------
# LSH band-tuning S-curve — p(candidate | jaccard s) = 1 − (1 − s^r)^b
# for every (bands, rows) factorization of the signature budget: the
# table a dedup operator reads to pick the banding for a target
# similarity threshold (pair with minhash_error_report for the measured
# side). Pure configuration arithmetic over b·r = N_PERMS — the
# crossJoin is a 4×9 literal grid, nothing touches the corpus.


def minhash_band_tuning_report(spark) -> DataFrame:
    from flink_streaming_etl_spark.functions import q6

    configs = [(b, N_PERMS // b) for b in (8, 4, 2, 1)]
    cfg = spark.createDataFrame(configs, "bands int, rows_per_band int")
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("jaccard"))
    s = F.col("jaccard")
    p = 1 - F.pow(1 - F.pow(s, F.col("rows_per_band")), F.col("bands"))
    return cfg.crossJoin(th).select(
        "bands",
        "rows_per_band",
        s.alias("jaccard"),
        q6(p).alias("p_candidate"),
    )


def minhash_band_tuning_report_sql() -> str:
    values = ", ".join(f"({b}, {N_PERMS // b})" for b in (8, 4, 2, 1))
    return f"""
WITH cfg(bands, rows_per_band) AS (VALUES {values}),
th AS (SELECT i / 10.0 AS jaccard FROM range(1, 10) t(i))
SELECT cfg.bands, cfg.rows_per_band, th.jaccard,
       floor((1 - pow(1 - pow(th.jaccard, cfg.rows_per_band), cfg.bands)) * 1000000.0)
         / 1000000.0 AS p_candidate
FROM cfg, th
"""


# ---------------------------------------------------------------------------
# Near-dup cluster size histogram — how big do the connected components
# get: the audit that catches boilerplate explosions (one giant cluster =
# stop-text leaking through the shingle filter) before a keep-one-per-
# cluster pass silently deletes half the corpus. Rides the memoized pair
# relation through neardup_clusters; two tiny aggregations over the
# cluster relation (graph-sized, not corpus-sized).


def dedup_cluster_size_histogram(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    clusters = neardup_clusters(documents, threshold)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )


def dedup_cluster_size_histogram_sql(threshold: float = 0.05) -> str:
    return f"""
WITH clusters AS ({neardup_clusters_sql(threshold)}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


# ---------------------------------------------------------------------------
# Nearest near-dup neighbor — per-document best match from the LSH pair
# relation: the curation-audit view ("show me each doc's closest
# near-duplicate and how close it is") reviewers ask for before setting
# a drop threshold. Symmetrizes the a<b pair relation, picks the argmax
# jaccard per doc with the engine-exact arithmetic max_by encoding
# (jaccard is q6 floor-quantized → exact 1e-6 integers; ties broken by
# smaller neighbor id). Cost: the memoized pair relation + one
# doc-keyed aggregation — output-denominated like every pair consumer.


def nearest_neighbor_report(
    documents: DataFrame, threshold: float = 0.05
) -> DataFrame:
    pairs = minhash_lsh_pairs(documents, threshold)
    sym = pairs.select(
        F.col("a_id").alias("doc_id"),
        F.col("b_id").alias("nbr"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("b_id").alias("doc_id"),
            F.col("a_id").alias("nbr"),
            "jaccard",
        )
    )
    # argmax(jaccard, tie -> min nbr) in ONE exact integer fold:
    # key = j_e6 * 2^40 + (2^40 - 1 - nbr); decode back after max().
    m = 1 << 40
    key = (
        F.round(F.col("jaccard") * 1000000).cast("long") * m
        + (F.lit(m - 1) - F.col("nbr"))
    )
    agg = sym.groupBy("doc_id").agg(
        F.max(key).alias("_k"), F.count(F.lit(1)).cast("long").alias("n_nbrs")
    )
    return agg.select(
        "doc_id",
        (F.lit(m - 1) - F.col("_k") % m).cast("long").alias("best_match_id"),
        (F.shiftright(F.col("_k"), 40).cast("double") / 1000000.0).alias(
            "best_jaccard"
        ),
        "n_nbrs",
    )


def nearest_neighbor_report_sql(threshold: float = 0.05) -> str:
    m = 1 << 40
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold)}),
sym AS (
  SELECT a_id AS doc_id, b_id AS nbr, jaccard FROM pairs
  UNION ALL
  SELECT b_id AS doc_id, a_id AS nbr, jaccard FROM pairs
),
agg AS (
  SELECT doc_id,
         MAX(CAST(round(jaccard * 1000000) AS BIGINT) * {m}
             + ({m - 1} - nbr)) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs
  FROM sym GROUP BY doc_id
)
SELECT doc_id,
       CAST({m - 1} - k % {m} AS BIGINT) AS best_match_id,
       CAST(k >> 40 AS DOUBLE) / 1000000.0 AS best_jaccard,
       n_nbrs
FROM agg
"""


# ---------------------------------------------------------------------------
# Decontamination APPLY stage (round 9): the inverse orientation of
# contamination_check — that operator flags EVAL docs already leaked into
# training; this one cleans the TRAINING split so a benchmark stays valid
# going forward (the direction production pipelines actually apply: GPT-3
# appendix C / PaLM-style "remove training documents overlapping the
# benchmark"). A train doc is dropped when >= min_ratio of its distinct
# word shingles occur anywhere in the eval split. Scale shape: the eval
# shingle set is benchmark-sized (tiny at 100 TB) and distinct — at real
# scale it BROADCASTS, so the corpus-side pass is one scan + one per-doc
# rollup; here the same plan runs as a hash left join. The left join
# cannot multiply rows (eval side unique on h), so one groupBy yields both
# the shingle count and the overlap count, exactly as in the check stage.


def decontaminate_apply(
    documents: DataFrame, eval_source: str = "src0", min_ratio: float = 0.2
) -> DataFrame:
    from flink_streaming_etl_spark.functions import q6

    h = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    train_docs = documents.filter(F.col("source") != eval_source)
    train_sh = _word_shingle_rows(train_docs, distinct=True).select(
        "doc_id", h.alias("h")
    )
    eval_sh = (
        _word_shingle_rows(documents.filter(F.col("source") == eval_source))
        .select(h.alias("h"))
        .distinct()
    )
    marked = train_sh.join(eval_sh.withColumn("_hit", F.lit(1)), "h", "left")
    counts = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap"),
    )
    dropped = counts.filter(
        q6(F.col("n_overlap") / F.col("n_shingles")) >= min_ratio
    ).select("doc_id")
    return train_docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source"
    )


def decontaminate_apply_sql(
    eval_source: str = "src0", min_ratio: float = 0.2
) -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    shingle_expr = "concat_ws(' ', w[i], w[i+1])"
    ratio = q6_sql("COALESCE(o.n_overlap, 0) / t.n_shingles")
    return rf"""
WITH words AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         ('0x' || substr(md5({shingle_expr}), 1, 15))::BIGINT AS h
  FROM words, UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)
),
train_sh AS (SELECT doc_id, h FROM sh WHERE source <> '{eval_source}'),
eval_sh AS (SELECT DISTINCT h FROM sh WHERE source = '{eval_source}'),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc_id),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM train_sh WHERE h IN (SELECT h FROM eval_sh)
  GROUP BY doc_id
),
dropped AS (
  SELECT t.doc_id
  FROM per_doc t LEFT JOIN overlap o ON t.doc_id = o.doc_id
  WHERE {ratio} >= {min_ratio}
)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.source <> '{eval_source}'
  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


# ---------------------------------------------------------------------------
# Fuzzy prefix pairs (round 9): the typo-level dedup tier. MinHash /
# winnowing / chunk hashing all key on EXACT token or byte content, so a
# one-character typo in a short identifying prefix defeats every tier
# above. This is the SymSpell / FastSS deletion-neighborhood trick
# (Schulz & Mihov 2002, public): two strings are within edit distance 1
# iff they share a member of each other's 1-deletion neighborhood, so
# emitting prefix + its L one-char-deletions (L+1 bounded variants per
# doc) turns the fuzzy match into an EXACT equi-join on the variant key.
# (Window caveat: an edit EARLY in the text shifts every later character
# of a fixed-length prefix, so the two PREFIXES can sit at distance 2
# even when the full texts differ by one edit — the tier is exact about
# prefix distance, which is the blocking key production fuzzy dedup
# actually uses; raising prefix_chars trades recall for variant volume.)
# Candidates are then verified with the engines' levenshtein() (identical
# integer DP in Spark and DuckDB). Scale shape: variant volume is
# (L+1)·docs — linear; a hot-variant owner cap excises boilerplate
# prefixes exactly like hot LSH buckets / hot chunks; pair volume is
# output-denominated past the cap.

FUZZY_PREFIX_CHARS = 16
FUZZY_MAX_DIST = 1
FUZZY_OWNER_CAP = 50


def _norm_prefix(text: Column, n: int = FUZZY_PREFIX_CHARS) -> Column:
    return F.substring(
        F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), 1, n
    )


def fuzzy_prefix_pairs(
    documents: DataFrame,
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    owner_cap: int = FUZZY_OWNER_CAP,
) -> DataFrame:
    """(a_id, b_id, dist): doc pairs whose normalized ``prefix_chars``-char
    prefixes are within levenshtein distance ``max_dist`` (=1: deletion
    blocking is exact for distance 1; the verify keeps it honest)."""
    p = documents.select("doc_id", _norm_prefix(F.col("text"), prefix_chars).alias("p"))
    # variant 0 = the prefix itself; variant i = prefix with char i deleted
    variants = p.select(
        "doc_id",
        "p",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("p")),
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.length("p"), F.lit(1))),
                        lambda i: F.concat(
                            F.substring(F.col("p"), 1, (i - 1).cast("int")),
                            F.col("p").substr(i + 1, F.lit(prefix_chars)),
                        ),
                    ),
                )
            )
        ).alias("v"),
    )
    hot = (
        variants.groupBy("v")
        .agg(F.count(F.lit(1)).alias("_own"))
        .filter((F.col("_own") >= 2) & (F.col("_own") <= owner_cap))
        .select("v")
    )
    keyed = variants.join(hot, "v", "left_semi")
    a = keyed.select(F.col("doc_id").alias("a_id"), F.col("p").alias("pa"), "v")
    b = keyed.select(F.col("doc_id").alias("b_id"), F.col("p").alias("pb"), "v")
    return (
        a.join(b, "v")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.levenshtein("pa", "pb").alias("dist"))
        .filter(F.col("dist") <= max_dist)
        .dropDuplicates(["a_id", "b_id"])
    )


def fuzzy_prefix_pairs_sql(
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    owner_cap: int = FUZZY_OWNER_CAP,
) -> str:
    return rf"""
WITH p AS (
  SELECT doc_id,
         substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, {prefix_chars}) AS p
  FROM documents
),
variants AS (
  SELECT DISTINCT doc_id, p,
         CASE WHEN i = 0 THEN p
              ELSE substring(p, 1, i - 1) || substring(p, i + 1, {prefix_chars})
         END AS v
  FROM p, UNNEST(range(0, greatest(length(p), 1) + 1)) AS t(i)
),
hot AS (
  SELECT v FROM variants GROUP BY v HAVING COUNT(*) BETWEEN 2 AND {owner_cap}
),
keyed AS (SELECT x.doc_id, x.p, x.v FROM variants x SEMI JOIN hot h ON x.v = h.v)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.p, b.p) AS dist
FROM keyed a JOIN keyed b ON a.v = b.v AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= {max_dist}
"""


# ---------------------------------------------------------------------------
# Dedup-tier agreement audit (round 10) — when a pipeline runs several
# near-dup tiers (shingle MinHash-LSH, bit-level SimHash), the operator
# question is whether they FIND THE SAME PAIRS: high agreement means the
# cheaper tier can gate the expensive one; low agreement means the tiers
# see different duplication classes and both must run. One-row census of
# the two candidate-pair relations plus their set-Jaccard. Scale shape:
# both inputs are the already-capped banded tiers (candidate-bounded,
# never all-pairs); the audit join keys on the (a_id, b_id) pair itself
# and its output is one row — pure pair-relation-sized work.


def dedup_tier_agreement_report(
    documents: DataFrame,
    threshold: float = 0.05,
    max_hamming: int = HAMMING_MAX,
) -> DataFrame:
    from flink_streaming_etl_spark.functions import q6

    lsh = minhash_lsh_pairs(documents, threshold).select(
        "a_id", "b_id", F.lit(1).alias("_l")
    )
    sh = simhash_pairs(documents, max_hamming).select(
        "a_id", "b_id", F.lit(1).alias("_s")
    )
    u = lsh.join(sh, ["a_id", "b_id"], "full_outer")
    return u.agg(
        F.sum(F.coalesce("_l", F.lit(0))).cast("long").alias("n_lsh_pairs"),
        F.sum(F.coalesce("_s", F.lit(0))).cast("long").alias("n_simhash_pairs"),
        F.sum(
            F.when(F.col("_l").isNotNull() & F.col("_s").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    ).select(
        "n_lsh_pairs",
        "n_simhash_pairs",
        "n_both",
        "n_union",
        F.when(
            F.col("n_union") > 0,
            q6(F.col("n_both").cast("double") / F.col("n_union")),
        ).alias("tier_jaccard"),
    )


def dedup_tier_agreement_report_sql(
    threshold: float = 0.05, max_hamming: int = HAMMING_MAX
) -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    tj = q6_sql("CAST(n_both AS DOUBLE) / n_union")
    return f"""
WITH lsh AS ({minhash_lsh_pairs_sql(threshold)}),
sh AS ({simhash_pairs_sql(max_hamming)}),
u AS (
  SELECT COALESCE(l.a_id, s.a_id) AS a_id,
         COALESCE(l.b_id, s.b_id) AS b_id,
         (l.a_id IS NOT NULL)::INT AS in_l,
         (s.a_id IS NOT NULL)::INT AS in_s
  FROM lsh l FULL OUTER JOIN sh s ON l.a_id = s.a_id AND l.b_id = s.b_id
),
tot AS (
  SELECT CAST(SUM(in_l) AS BIGINT) AS n_lsh_pairs,
         CAST(SUM(in_s) AS BIGINT) AS n_simhash_pairs,
         CAST(SUM(in_l * in_s) AS BIGINT) AS n_both,
         CAST(COUNT(*) AS BIGINT) AS n_union
  FROM u
)
SELECT n_lsh_pairs, n_simhash_pairs, n_both, n_union,
       CASE WHEN n_union > 0 THEN {tj} END AS tier_jaccard
FROM tot
"""


# ---------------------------------------------------------------------------
# SoftDeDup — down-WEIGHT near-duplicates instead of dropping them (He
# et al. 2024 "SoftDedup"; the D4/semantic-dedup line keeps one doc per
# cluster, but modern mixes often prefer reweighting: every member of an
# n-doc near-dup component trains with weight 1/n, so the component as a
# whole contributes one document's worth of gradient and no information
# is discarded). Rides the SAME connected-component relation as
# neardup_clusters — the pair graph is orders of magnitude smaller than
# the corpus, and the join back to the corpus is doc_id-keyed; docs
# outside every component keep weight 1. Weight is a single exact
# division 1/n (one float op, engine-identical); cluster sizes and ids
# are exact integers.


def softdedup_weights(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Per-document sampling weight 1/|near-dup component|.

    Returns (doc_id, cluster_id, cluster_size, weight); singletons (docs
    in no near-dup pair) carry cluster_id = doc_id, size 1, weight 1.0.
    """
    clusters = neardup_clusters(documents, threshold)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    withc = clusters.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return (
        documents.select("doc_id")
        .join(withc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        )
        .withColumn("weight", F.lit(1.0) / F.col("cluster_size"))
    )


def softdedup_weights_sql(threshold: float = 0.05) -> str:
    return f"""
WITH clusters AS ({neardup_clusters_sql(threshold)}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT d.doc_id,
       COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size,
       CAST(1.0 AS DOUBLE) / COALESCE(s.cluster_size, 1) AS weight
FROM (SELECT doc_id FROM documents) d
LEFT JOIN clusters cl ON cl.doc_id = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = cl.cluster_id
"""
