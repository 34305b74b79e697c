"""Text-analysis operators over the ``documents`` table: language ID,
quality scoring, token counting, fingerprinting.

Everything is built-in-function arithmetic (no UDFs): marker-substring
counts use the replace-length trick (identical in Spark and DuckDB), token
counts use regex splits with identical semantics, and fingerprints are md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_streaming_etl_spark.functions import q6, q6_sql

# language → marker substrings (padded with spaces: whole-word matches)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and "],
    "de": [" der ", " und "],
    "fr": [" le ", " et "],
    "es": [" el ", " y "],
    "zh": [" zh ", " de "],
}


def _count_sub(text: Column, sub: str) -> Column:
    """Occurrences of ``sub`` via length difference after replace —
    deterministic and identical across engines (non-overlapping count)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit("")))) / F.lit(len(sub))


def _count_sub_sql(expr: str, sub: str) -> str:
    return f"(length({expr}) - length(replace({expr}, '{sub}', ''))) / {len(sub)}"


def lang_id(documents: DataFrame) -> DataFrame:
    """n-gram-heuristic language ID: argmax of marker-word counts with a
    fixed precedence order (en→de→fr→es→zh, then 'und' when no marker)."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {
        lang: sum([_count_sub(padded, m) for m in markers], F.lit(0).cast("double"))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return documents.select(
        "doc_id",
        pred.alias("predicted_lang"),
        F.col("lang").alias("actual_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


def lang_id_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    scores = {
        lang: "(" + " + ".join(_count_sub_sql(padded, m) for m in markers) + ")"
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[lang]} = best AND best > 0 THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
WITH scored AS (SELECT doc_id, lang, {best} AS best, text FROM documents)
SELECT doc_id,
       CASE {whens} ELSE 'und' END AS predicted_lang,
       lang AS actual_lang,
       (CASE {whens} ELSE 'und' END) = lang AS is_match
FROM scored
"""


#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation — the
#: classic subword-segmenter front end, expressed as one regex both Java
#: (Spark codegen) and RE2-style (DuckDB) engines interpret identically.
BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokenization + two BPE-ish proxies: a 4-chars≈1-token
    estimate and an exact count of subword-segmenter pre-tokens
    (``BPE_PAT`` matches — letter runs / digit runs / punctuation). All
    codegen'd per-row expressions: zero shuffle at any scale."""
    toks = F.size(F.split(F.trim("text"), r"\s+"))
    return documents.select(
        "doc_id",
        toks.alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("n_tokens_bpe_est"),
        F.regexp_count("text", F.lit(BPE_PAT)).cast("long").alias("n_tokens_bpe_regex"),
        q6(F.length("text") / toks.cast("double")).alias("chars_per_token"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_text,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe_regex,
       floor((length(text) / len(string_split_regex(trim(text), '\s+'))::DOUBLE) * 1000000.0) / 1000000.0 AS chars_per_token
FROM documents
"""


#: keep iff quality >= this (quality_score and filter_stack share it)
QUALITY_KEEP_MIN = 0.5


def _quality_struct(text: Column, ntok: Column) -> Column:
    """(avg_word_len, stop_hits, score) struct — the single definition of
    the heuristic-quality formulas, shared by :func:`quality_score` and
    :func:`filter_stack` so the composition can never drift from the
    standalone operator. ``ntok`` is the double-cast structural token
    count."""
    avg_word_len = F.length(F.replace(text, F.lit(" "), F.lit(""))) / ntok
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stop_hits = sum(
        [_count_sub(padded, m) for ms in LANG_MARKERS.values() for m in ms],
        F.lit(0).cast("double"),
    )
    len_score = F.least(F.lit(1.0), ntok / F.lit(64.0))
    shape_score = F.least(F.lit(1.0), avg_word_len / F.lit(6.0))
    stop_score = F.least(F.lit(1.0), stop_hits / ntok * F.lit(10.0))
    return F.struct(
        q6(avg_word_len).alias("avg_word_len"),
        stop_hits.cast("long").alias("stop_hits"),
        q6(len_score * 0.5 + shape_score * 0.3 + stop_score * 0.2).alias("score"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality: length score + word-shape score + stopword ratio
    (the classic Gopher/C4-style cheap filters, arithmetic only)."""
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    staged = documents.select(
        "doc_id",
        toks.cast("long").alias("n_tokens"),
        _quality_struct(F.col("text"), toks).alias("_q"),
    )
    score = F.col("_q")["score"]
    return staged.select(
        "doc_id",
        "n_tokens",
        F.col("_q")["avg_word_len"].alias("avg_word_len"),
        F.col("_q")["stop_hits"].alias("stopword_hits"),
        score.alias("quality"),
        (score >= QUALITY_KEEP_MIN).alias("keep"),
    )


def quality_score_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    toks = r"len(string_split_regex(trim(text), '\s+'))::DOUBLE"
    avg_word_len = f"(length(replace(text, ' ', '')) / {toks})"
    stop_hits = "(" + " + ".join(
        _count_sub_sql(padded, m) for ms in LANG_MARKERS.values() for m in ms
    ) + ")"
    score = q6_sql(
        f"least(1.0, {toks} / 64.0) * 0.5 + least(1.0, {avg_word_len} / 6.0) * 0.3 "
        f"+ least(1.0, {stop_hits} / {toks} * 10.0) * 0.2"
    )
    q6_awl = q6_sql(avg_word_len)
    return f"""
SELECT doc_id,
       CAST({toks} AS BIGINT) AS n_tokens,
       {q6_awl} AS avg_word_len,
       CAST({stop_hits} AS BIGINT) AS stopword_hits,
       {score} AS quality,
       {score} >= 0.5 AS keep
FROM documents
"""


#: Rolling-hash parameters: base/modulus sized so acc*B + h stays well
#: inside int64 (acc < 2^31, B ≈ 2^20, h < 2^28 → < 2^52).
RH_BASE = 1000003
RH_MOD = 2147483647


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of whitespace-normalized lowercase text, a
    token-order-sensitive polynomial ROLLING hash (Rabin-Karp style:
    acc = acc*B + h(token) mod M, per-token h from md5 — exact integer
    arithmetic, identical in any engine), a 16-bit shard bucket (the
    partitioning key a 100 TB dedup job would shuffle on), and a coarse
    length class. All per-row expressions — zero shuffle."""
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    fp = F.md5(norm)
    rolling = F.aggregate(
        F.transform(
            F.split(F.trim("text"), r"\s+"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(RH_BASE) + h) % F.lit(RH_MOD),
    )
    return documents.select(
        "doc_id",
        fp.alias("fingerprint"),
        rolling.alias("rolling_hash"),
        F.conv(F.substring(fp, 1, 4), 16, 10).cast("long").alias("shard_bucket"),
        F.floor(F.log2(F.length("text").cast("double"))).cast("long").alias("len_class"),
    )


DOC_FINGERPRINT_SQL = rf"""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       list_reduce(
         list_prepend(0::BIGINT,
           [('0x' || substr(md5(t), 1, 7))::BIGINT FOR t IN string_split_regex(trim(text), '\s+')]),
         (acc, h) -> (acc * {RH_BASE} + h) % {RH_MOD}
       ) AS rolling_hash,
       ('0x' || substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 4))::BIGINT AS shard_bucket,
       CAST(floor(log2(length(text))) AS BIGINT) AS len_class
FROM documents
"""


# ---------------------------------------------------------------------------
# Deterministic sampling + per-group curation — the selection stages of a
# training-data pipeline (sample for eval/ablation, keep best-k per slice).


def doc_sample_hash(documents: DataFrame, pct: int = 10) -> DataFrame:
    """Deterministic hash sampling: keep ``pct``% of docs by a salted md5 of
    the doc id. Reproducible across engines and runs (unlike RAND-based
    sampling), stable under re-partitioning, and composable — disjoint
    salts give disjoint samples. One narrow filter, no shuffle; the
    predicate stays in whole-stage codegen at any scale."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 8),
        16, 10,
    ).cast("long") % 100
    return documents.select("doc_id", bucket.alias("sample_bucket")).filter(
        F.col("sample_bucket") < pct
    )


def doc_sample_hash_sql(pct: int = 10) -> str:
    bucket = "('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
    return f"""
SELECT doc_id, {bucket} AS sample_bucket
FROM documents WHERE {bucket} < {pct}
"""


def top_quality_per_lang(documents: DataFrame, k: int = 5) -> DataFrame:
    """Best-k documents per language by the quality score — the per-slice
    curation pattern (one shuffle on lang, per-partition top-k)."""
    from pyspark.sql.window import Window

    scored = quality_score(documents).select("doc_id", "quality")
    ranked = documents.select("doc_id", "lang").join(scored, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", F.col("rank").cast("long").alias("rank"), "doc_id", "quality")
    )


def top_quality_per_lang_sql(k: int = 5) -> str:
    return f"""
WITH scored AS ({quality_score_sql()})
SELECT lang, rank, doc_id, quality FROM (
  SELECT d.lang, s.doc_id, s.quality,
         row_number() OVER (PARTITION BY d.lang ORDER BY s.quality DESC, s.doc_id) AS rank
  FROM documents d JOIN scored s ON d.doc_id = s.doc_id
) WHERE rank <= {k}
"""


def vocab_top_tokens(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary extraction: global top-k tokens by frequency
    (tokenizer-training / stopword-mining stage). Map-side explode feeds a
    partial+final count aggregation — the shuffle carries one row per
    distinct token, not per occurrence; the final top-k ranks the (small)
    aggregated vocabulary."""
    from pyspark.sql.window import Window

    toks = documents.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # Top-k WITHOUT a global window over the vocabulary: orderBy+limit plans
    # as TakeOrderedAndProject (per-partition k-heap, merge at the driver) —
    # the distinct-token relation at web scale is billions of rows, so a
    # row_number over it would single-partition the whole vocab. The rank
    # window then runs over only k rows.
    top = counts.orderBy(F.col("n").desc(), "token").limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(F.col("rank").cast("long").alias("rank"), "token", "n")
    )


def vocab_top_tokens_sql(k: int = 100) -> str:
    return rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1)
SELECT rank, token, n FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts
) WHERE rank <= {k}
"""


def length_percentiles(documents: DataFrame) -> DataFrame:
    """Exact per-language token-length percentiles (p50/p90/max) via rank
    arithmetic — nearest-rank percentiles are deterministic across engines,
    unlike interpolating percentile functions. One shuffle on lang; the
    per-group sort is the same work an exact percentile always costs."""
    from pyspark.sql.window import Window

    toks = documents.select(
        "doc_id", "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    ranked = toks.withColumn("rank", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("lang"))
    )
    at = lambda p: F.max(  # noqa: E731 — nearest-rank: value at ceil(p*n)
        F.when(F.col("rank") == F.ceil(F.col("n") * p), F.col("n_tokens"))
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        at(0.5).alias("p50_tokens"),
        at(0.9).alias("p90_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


LENGTH_PERCENTILES_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang, len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT lang, n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rank,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM toks
)
SELECT lang,
       COUNT(*) AS n_docs,
       MAX(CASE WHEN rank = CAST(ceil(n * 0.5) AS BIGINT) THEN n_tokens END) AS p50_tokens,
       MAX(CASE WHEN rank = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tokens END) AS p90_tokens,
       MAX(n_tokens) AS max_tokens
FROM ranked GROUP BY lang
"""


def source_mix_report(documents: DataFrame) -> DataFrame:
    """Corpus-composition report: per (source, lang) document counts, char
    volume, and share of total chars — the mixing-weights input of a
    training-data pipeline. One partial+final aggregation; the global total
    rides in on a broadcast of the 1-row aggregate."""
    per = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = documents.agg(F.sum("n_chars").alias("_grand"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        q6(F.col("total_chars") / F.col("_grand")).alias("char_share"),
    )


SOURCE_MIX_REPORT_SQL = """
WITH per AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1, 2
),
total AS (SELECT SUM(n_chars) AS grand FROM documents)
SELECT source, lang, n_docs, total_chars,
       floor((total_chars / grand::DOUBLE) * 1000000.0) / 1000000.0 AS char_share
FROM per, total
"""


STRAT_MOD = 10000  # hash-bucket resolution for stratified rates


def _strat_bucket() -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % STRAT_MOD
    )


_STRAT_BUCKET_SQL = (
    f"('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {STRAT_MOD}"
)


def stratified_sample(documents: DataFrame, per_stratum: int = 2000) -> DataFrame:
    """Balanced corpus sampling: keep ~``per_stratum`` documents per
    language via a deterministic hash rate (bucket*n < per_stratum*MOD is
    pure integer arithmetic — exact in every engine, no float rate). The
    per-stratum counts are a broadcast of a tiny aggregate; the keep
    decision is a codegen'd filter on the scan — no data shuffle at any
    scale, so this is how a 100 TB corpus is rebalanced in one pass."""
    counts = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    return (
        documents.select("doc_id", "lang", _strat_bucket().alias("strat_bucket"))
        .join(F.broadcast(counts), "lang")
        .filter(F.col("strat_bucket") * F.col("_n") < F.lit(per_stratum * STRAT_MOD))
        .select("doc_id", "lang", "strat_bucket")
    )


def stratified_sample_sql(per_stratum: int = 2000) -> str:
    return f"""
WITH b AS (
  SELECT doc_id, lang, {_STRAT_BUCKET_SQL} AS strat_bucket FROM documents
),
counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1)
SELECT b.doc_id, b.lang, b.strat_bucket
FROM b JOIN counts c ON b.lang = c.lang
WHERE b.strat_bucket * c.n < {per_stratum * STRAT_MOD}
"""


def curated_corpus(
    documents: DataFrame, threshold: float = 0.05, per_stratum: int = 2000
) -> DataFrame:
    """The full curation composition a training-data pipeline runs: quality
    filter → near-dup removal (anti-join against the materialized LSH drop
    list) → per-language stratified rebalance, with the stratum rates
    computed over the ELIGIBLE (post-filter, post-dedup) population. Each
    stage reuses the corpus-level relations the individual operators
    already materialize (quality is a scan-local projection; the pair
    relation is cached once per corpus), so composing them adds one
    broadcast join over the ~#langs count table and nothing else."""
    from flink_streaming_etl_spark.operators import dedup

    scored = quality_score(documents).filter("keep").select("doc_id", "quality")
    drops = dedup.neardup_drop_list(documents, threshold)
    eligible = (
        documents.select("doc_id", "lang")
        .join(scored, "doc_id")
        .join(drops, "doc_id", "left_anti")
    )
    counts = eligible.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    return (
        eligible.withColumn("strat_bucket", _strat_bucket())
        .join(F.broadcast(counts), "lang")
        .filter(F.col("strat_bucket") * F.col("_n") < F.lit(per_stratum * STRAT_MOD))
        .select("doc_id", "lang", "quality")
    )


def curated_corpus_sql(threshold: float = 0.05, per_stratum: int = 2000) -> str:
    from flink_streaming_etl_spark.operators.dedup import minhash_lsh_pairs_sql

    return f"""
WITH scored AS ({quality_score_sql()}),
pairs AS ({minhash_lsh_pairs_sql(threshold)}),
drops AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
eligible AS (
  SELECT d.doc_id, d.lang, s.quality
  FROM documents d
  JOIN scored s ON d.doc_id = s.doc_id AND s.keep
  ANTI JOIN drops ON d.doc_id = drops.doc_id
),
counts AS (SELECT lang, COUNT(*) AS n FROM eligible GROUP BY 1),
b AS (SELECT *, {_STRAT_BUCKET_SQL} AS strat_bucket FROM eligible)
SELECT b.doc_id, b.lang, b.quality
FROM b JOIN counts c ON b.lang = c.lang
WHERE b.strat_bucket * c.n < {per_stratum * STRAT_MOD}
"""


# ---------------------------------------------------------------------------
# Training-window chunking: fixed-size token chunks with overlap — the stage
# that turns a document corpus into model-ready sequences. Pure codegen:
# split once into a projected array column, starts via explode(sequence)
# (NOT a HOF lambda over the split — those re-evaluate the split per
# element, the measured 10x trap), chunk text via slice+concat_ws. One
# narrow explode, no shuffle at all: chunking parallelizes embarrassingly
# at any scale.

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap


def chunk_documents(
    documents: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    return chunks_from_tokens(
        documents.select("doc_id", F.split(F.trim("text"), r"\s+").alias("_w")),
        chunk,
        stride,
    )


def chunks_from_tokens(
    tokenized: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """``chunk_documents`` over a relation already carrying the token array
    as ``_w`` — lets a multi-stage composition tokenize the corpus once."""
    toks = tokenized.select(
        "doc_id", F.col("_w").alias("w"), F.size("_w").alias("n")
    )
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))).alias("start"),
    )
    piece = F.slice("w", F.col("start") + 1, F.lit(chunk))
    return starts.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_idx"),
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def chunk_documents_sql(chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), starts AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {stride})) AS start FROM toks
)
SELECT doc_id,
       CAST(start / {stride} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, start + 1, start + {chunk})) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, start + 1, start + {chunk}), ' ') AS chunk_text
FROM starts
"""


# ---------------------------------------------------------------------------
# PII redaction: email/phone scrubbing before a corpus ships to training.
# Both patterns are RE2-safe (no backrefs/lookaround) so Spark (Java regex)
# and DuckDB (RE2) agree; redaction is a per-row map — no shuffle, pushes
# down column pruning to (doc_id, text).

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def redact_pii(documents: DataFrame) -> DataFrame:
    n_emails = F.regexp_count("text", F.lit(EMAIL_RE))
    once = F.regexp_replace("text", EMAIL_RE, "[EMAIL]")
    return documents.select(
        "doc_id",
        F.regexp_replace(once, PHONE_RE, "[PHONE]").alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        F.regexp_count(once, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
    )


def redact_pii_sql() -> str:
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'), '{PHONE_RE}', '[PHONE]', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'), '{PHONE_RE}')) AS BIGINT) AS n_phones
FROM documents
"""


# ---------------------------------------------------------------------------
# The assembled training-data pipeline: quality gate -> near-dup removal ->
# PII redaction -> token-window chunking, one composed relation. This is
# the flagship "reference user switches to this engine" artifact for LLM
# corpus prep: every stage is the already-tested operator, composed the
# way a 100 TB job would run them — cheap row-local filters (quality,
# redaction) BEFORE the shuffle-bearing dedup decision, chunking last so
# dropped docs never tokenize. Anti-join against the (tiny) drop list
# broadcasts; chunking is zero-shuffle codegen.


def training_corpus_chunks(documents: DataFrame, threshold: float = 0.05) -> DataFrame:
    from flink_streaming_etl_spark.operators.dedup import neardup_drop_list

    kept = (
        documents.join(
            quality_score(documents).filter(F.col("keep")).select("doc_id"),
            "doc_id",
        )
        .join(neardup_drop_list(documents, threshold), "doc_id", "left_anti")
    )
    clean = redact_pii(kept).select("doc_id", F.col("clean_text").alias("text"))
    return chunk_documents(clean)


def training_corpus_chunks_sql(threshold: float = 0.05) -> str:
    from flink_streaming_etl_spark.operators.dedup import minhash_lsh_pairs_sql

    chunk, stride = CHUNK_TOKENS, CHUNK_STRIDE
    redact = (
        f"regexp_replace(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'), "
        f"'{PHONE_RE}', '[PHONE]', 'g')"
    )
    return rf"""
WITH scored AS ({quality_score_sql()}),
pairs AS ({minhash_lsh_pairs_sql(threshold)}),
drops AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
kept AS (
  SELECT d.doc_id, {redact} AS text
  FROM documents d
  JOIN scored s ON d.doc_id = s.doc_id AND s.keep
  ANTI JOIN drops ON d.doc_id = drops.doc_id
),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM kept
), starts AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {stride})) AS start FROM toks
)
SELECT doc_id,
       CAST(start / {stride} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, start + 1, start + {chunk})) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, start + 1, start + {chunk}), ' ') AS chunk_text
FROM starts
"""


# ---------------------------------------------------------------------------
# Quality-weighted sampling: keep a document with probability proportional
# to its quality score — deterministic (hash-Bernoulli on doc_id, the same
# portable md5-unit trick as stratified_sample) so reruns, retries, and the
# DuckDB oracle all agree. Zero shuffle beyond quality_score's row-local
# arithmetic: the decision is per-row.


def weighted_sample(documents: DataFrame) -> DataFrame:
    q = quality_score(documents).select("doc_id", "quality")
    unit = _strat_bucket() / float(STRAT_MOD)  # uniform [0,1) per doc_id
    return (
        documents.select("doc_id", "lang", "source")
        .join(q, "doc_id")
        .withColumn("_u", unit)
        .filter(F.col("_u") < F.col("quality"))
        .select("doc_id", "lang", "source", "quality")
    )


def weighted_sample_sql() -> str:
    return f"""
WITH q AS ({quality_score_sql()})
SELECT d.doc_id, d.lang, d.source, q.quality
FROM documents d JOIN q ON d.doc_id = q.doc_id
WHERE ({_STRAT_BUCKET_SQL.replace("doc_id", "d.doc_id")}) / {STRAT_MOD}.0 < q.quality
"""


# ---------------------------------------------------------------------------
# Domain mixture sampling: hit target source shares (the data-mixing /
# domain-reweighting stage). Per-source rate = min(1, target_share * N /
# n_source): over-represented sources downsample by deterministic hash,
# under-represented ones pass through (upsampling is a repeat-epoch
# decision, not a sampling one). Counts are a broadcast-joined aggregate —
# the corpus itself never shuffles.

MIX_TARGET_SHARE = 0.03  # below the uniform share (1/20): over-represented
#: sources actually downsample on the driver corpus


def mixture_sample(documents: DataFrame, target_share: float = MIX_TARGET_SHARE) -> DataFrame:
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    total = documents.count()
    rate = F.least(F.lit(1.0), F.lit(target_share) * total / F.col("_n"))
    unit = _strat_bucket() / float(STRAT_MOD)
    return (
        documents.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .withColumn("_rate", rate)
        .filter(unit < F.col("_rate"))
        .select("doc_id", "source", q6(F.col("_rate")).alias("sample_rate"))
    )


def mixture_sample_sql(target_share: float = MIX_TARGET_SHARE) -> str:
    rate = f"least(1.0, {target_share} * (SELECT COUNT(*) FROM documents) / c._n)"
    return f"""
WITH c AS (SELECT source, COUNT(*) AS _n FROM documents GROUP BY source)
SELECT d.doc_id, d.source, {q6_sql(rate)} AS sample_rate
FROM documents d JOIN c ON d.source = c.source
WHERE ({_STRAT_BUCKET_SQL.replace("doc_id", "d.doc_id")}) / {STRAT_MOD}.0 < {rate}
"""


# ---------------------------------------------------------------------------
# Repetition scoring (the Gopher/C4 "repetitious text" filters): share of
# the document owned by its single most frequent unigram and bigram, plus
# the duplicate-token mass (1 - distinct/total). Degenerate, crawl-loop,
# and template text score high and get filtered before training. One
# explode + two-level aggregation; shuffle rows = distinct (doc, gram).


def repetition_score(
    documents: DataFrame, top_share_max: float = 0.2, dup_mass_max: float = 0.7
) -> DataFrame:
    toks = documents.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("g")
    )
    uni = toks.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = uni.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_unigram"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    # Projected array + explode(sequence) + slice: the codegen bigram shape
    # (a transform() lambda referencing the split re-runs the regex per
    # element — the measured 10x HOF trap; see operators/dedup.py).
    big = (
        documents.select("doc_id", F.split(F.trim("text"), r"\s+").alias("_w"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("_w") - 1, F.lit(1)))
            ).alias("_i"),
            "_w",
        )
        .select("doc_id", F.concat_ws(" ", F.slice("_w", F.col("_i"), 2)).alias("g"))
    )
    bigc = big.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    big_doc = bigc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    uni_share = q6(F.col("top_unigram") / F.col("n_tokens"))
    big_share = q6(F.col("top_bigram") / F.col("n_bigrams"))
    dup_mass = q6(F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens"))
    return (
        per_doc.join(big_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            uni_share.alias("top_unigram_share"),
            big_share.alias("top_bigram_share"),
            dup_mass.alias("dup_token_mass"),
            (
                (uni_share <= top_share_max) & (dup_mass <= dup_mass_max)
            ).alias("keep_repetition"),
        )
    )


def repetition_score_sql(top_share_max: float = 0.2, dup_mass_max: float = 0.7) -> str:
    uni_share = q6_sql("top_unigram / n_tokens::DOUBLE")
    big_share = q6_sql("top_bigram / n_bigrams::DOUBLE")
    dup_mass = q6_sql("1.0 - n_distinct / n_tokens::DOUBLE")
    return rf"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS g FROM documents
),
uni AS (SELECT doc_id, g, COUNT(*) AS c FROM toks GROUP BY doc_id, g),
per_doc AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_unigram, COUNT(*) AS n_distinct
  FROM uni GROUP BY doc_id
),
words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
big AS (
  SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS g
  FROM words, UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)
),
bigc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g),
big_doc AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram FROM bigc GROUP BY doc_id)
SELECT p.doc_id,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       {uni_share} AS top_unigram_share,
       {big_share} AS top_bigram_share,
       {dup_mass} AS dup_token_mass,
       ({uni_share} <= {top_share_max} AND {dup_mass} <= {dup_mass_max}) AS keep_repetition
FROM per_doc p JOIN big_doc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Quality-decile token budget: how many documents/tokens live in each
# quality tier — the report that decides where to set the filtering
# threshold for a token-budgeted training run. NTILE over a totally
# ordered (quality, doc_id) ranking is deterministic and identical across
# engines; one window shuffle + one tier rollup. The global ORDER BY makes
# the window single-partition — fine for a tiers-row report, but at 100 TB
# compute tier boundaries from approx quantiles on a sample and assign by
# range comparison instead (same output contract, no global sort).


def quality_tier_report(documents: DataFrame, tiers: int = 10) -> DataFrame:
    from pyspark.sql.window import Window

    scored = quality_score(documents).select("doc_id", "quality", "n_tokens")
    w = Window.orderBy("quality", "doc_id")
    tiered = scored.withColumn("tier", F.ntile(tiers).over(w))
    return tiered.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def quality_tier_report_sql(tiers: int = 10) -> str:
    return f"""
WITH scored AS ({quality_score_sql()}),
tiered AS (
  SELECT doc_id, quality, n_tokens,
         NTILE({tiers}) OVER (ORDER BY quality, doc_id) AS tier
  FROM scored
)
SELECT tier, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(quality) AS min_quality, MAX(quality) AS max_quality
FROM tiered GROUP BY tier
"""


# ---------------------------------------------------------------------------
# Text normalization — the canonical first stage of every curation pipeline
# (lowercase, collapse runs of whitespace, trim). Pure codegen'd string
# expressions: zero shuffle, zero UDF — at 100 TB this runs at parquet scan
# speed and is exactly the kind of op that must NOT be a Python UDF.
# Unicode NFC is intentionally out: neither engine exposes a portable
# normalizer as a built-in, and the corpus is ASCII; a mapInPandas
# `unicodedata.normalize` stage slots in front when real data needs it.


def normalize_text(documents: DataFrame) -> DataFrame:
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return documents.select(
        "doc_id",
        norm.alias("text_norm"),
        F.length(norm).alias("n_chars_norm"),
        (F.length(norm) < F.col("n_chars")).alias("was_dirty"),
    )


NORMALIZE_TEXT_SQL = r"""
SELECT doc_id,
       lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS text_norm,
       length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS n_chars_norm,
       length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) < n_chars AS was_dirty
FROM documents
"""


# ---------------------------------------------------------------------------
# Sequence packing — the training-dataloader op: concatenate documents in a
# deterministic order and slice the token stream into fixed-size training
# sequences. Each doc gets (bin_id, offset) = where its tokens land in the
# packed stream; a doc whose span crosses a boundary spills into the next
# bin (the standard concat-and-chunk packing; no padding waste accounting
# here — that's `1 - sum(n_tokens)/(n_bins*seq_len)` on the result).
#
# Scale: the running offset is a window cumsum. A GLOBAL ordering would
# serialize 100 TB through one partition, so packing is per (lang) stream —
# the natural unit (training mixtures pack per-source/per-lang anyway);
# within a partition the cumsum is a linear scan. For a single gigantic
# stream, segment the cumsum: per-partition sums → broadcast prefix offsets
# → per-row local cumsum (two jobs, no global sort).

PACK_SEQ_LEN = 256


def pack_sequences(documents: DataFrame, seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """(doc_id, lang, n_tokens, start_offset, bin_id, bin_end) per doc:
    whitespace-token stream packed per-lang into ``seq_len``-token bins."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    start = (F.sum(toks).over(w) - toks).alias("start_offset")
    return documents.select("doc_id", "lang", toks.alias("n_tokens"), start).select(
        "doc_id",
        "lang",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).cast("long").alias("bin_id"),
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / seq_len)
        .cast("long")
        .alias("bin_end"),
    )


def pack_sequences_sql(seq_len: int = PACK_SEQ_LEN) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens AS BIGINT) AS start_offset
  FROM toks
)
SELECT doc_id, lang, n_tokens, start_offset,
       CAST(FLOOR(start_offset / {seq_len}.0) AS BIGINT) AS bin_id,
       CAST(FLOOR((start_offset + n_tokens - 1) / {seq_len}.0) AS BIGINT) AS bin_end
FROM packed
"""


# ---------------------------------------------------------------------------
# Gopher-style quality rule battery (Rae et al. 2021 §A1.1, public paper):
# the cheap structural filters a pretraining pipeline applies before any
# model-based scoring. EVERY metric — including the two distinct-token ones
# — is a per-row projection with ZERO shuffle: sort the row's own token
# array (O(n log n) per document) and fold it once with a higher-order
# aggregate; equal tokens are contiguous after the sort, so the longest
# equal run IS the top token count and the number of run starts IS the
# distinct count. The earlier explode + two doc-keyed groupBys exchanged
# the full token stream twice for what is a function of one row — at
# 100 TB that is two avoidable full-corpus shuffles on the hottest input.


def _sorted_run_stats(tokens: Column) -> Column:
    """Fold a SORTED token array into (max_run, n_distinct) in one pass.

    max_run = max multiplicity of any token (runs are maximal after sort);
    n_distinct = number of run starts. Tokens are never null (regex split),
    so a null ``prev`` seed marks "before first element" via eqNullSafe.
    """
    run_of = lambda acc, x: (
        F.when(x.eqNullSafe(acc["prev"]), acc["run"] + F.lit(1).cast("long"))
        .otherwise(F.lit(1).cast("long"))
    )
    return F.aggregate(
        tokens,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("max_run"),
            F.lit(0).cast("long").alias("n_distinct"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_of(acc, x).alias("run"),
            F.greatest(acc["max_run"], run_of(acc, x)).alias("max_run"),
            (
                acc["n_distinct"]
                + F.when(x.eqNullSafe(acc["prev"]), F.lit(0).cast("long")).otherwise(
                    F.lit(1).cast("long")
                )
            ).alias("n_distinct"),
        ),
    )


#: Gopher-rule thresholds (Rae et al. 2021 §A1.1 ballpark) — module
#: constants so gopher_quality and filter_stack share one definition.
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_TOP_TOKEN_FRAC = 0.20


def _mean_word_len_q6(text: Column, ntok: Column) -> Column:
    """q6 mean word length (non-space chars / token count) — shared by
    gopher_metrics and filter_stack."""
    return q6(F.length(F.regexp_replace(text, r"\s+", "")) / ntok)


def _symbol_ratio_q6(text: Column) -> Column:
    """q6 non-alphanumeric-char ratio — shared by gopher_metrics and
    filter_stack."""
    return q6(F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")) / F.length(text))


def gopher_metrics(
    documents: DataFrame,
    min_tokens: int = GOPHER_MIN_TOKENS,
    max_tokens: int = GOPHER_MAX_TOKENS,
    min_word_len: float = GOPHER_MIN_WORD_LEN,
    max_word_len: float = GOPHER_MAX_WORD_LEN,
    max_symbol_ratio: float = GOPHER_MAX_SYMBOL_RATIO,
    max_top_token_frac: float = GOPHER_MAX_TOP_TOKEN_FRAC,
    tokens_col: str | None = None,
) -> DataFrame:
    """All input columns + the Gopher metric/keep columns appended — the
    inlinable form: a consumer (e.g. ``curated_corpus_v2``) filters on
    ``keep`` directly on its own scan instead of paying a doc_id join
    against a second scan. Pass ``tokens_col`` to reuse an already-split
    token array instead of re-running the regex split."""
    text = F.col("text")
    w = F.col(tokens_col) if tokens_col else F.split(F.trim("text"), r"\s+")
    ntok = F.size(w).cast("double")
    # materialize the fold ONCE in its own projection; extracting both
    # fields directly would embed two copies of the aggregate expression
    # (CollapseProject keeps non-cheap expressions single-evaluation).
    staged = documents.select(
        "*",
        ntok.cast("long").alias("n_tokens"),
        _mean_word_len_q6(text, ntok).alias("mean_word_len"),
        _symbol_ratio_q6(text).alias("symbol_ratio"),
        _sorted_run_stats(F.array_sort(w)).alias("_rs"),
    )
    per_row = staged.select(
        *documents.columns,
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        F.col("_rs")["n_distinct"].alias("n_distinct_tokens"),
        F.col("_rs")["max_run"].alias("top_token_n"),
    )
    top_frac = q6(F.col("top_token_n") / F.col("n_tokens"))
    keep = (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & F.col("mean_word_len").between(min_word_len, max_word_len)
        & (F.col("symbol_ratio") < max_symbol_ratio)
        & (top_frac < max_top_token_frac)
    )
    return per_row.select(
        *documents.columns,
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "n_distinct_tokens",
        top_frac.alias("top_token_frac"),
        keep.alias("keep"),
    )


def gopher_quality(
    documents: DataFrame,
    min_tokens: int = GOPHER_MIN_TOKENS,
    max_tokens: int = GOPHER_MAX_TOKENS,
    min_word_len: float = GOPHER_MIN_WORD_LEN,
    max_word_len: float = GOPHER_MAX_WORD_LEN,
    max_symbol_ratio: float = GOPHER_MAX_SYMBOL_RATIO,
    max_top_token_frac: float = GOPHER_MAX_TOP_TOKEN_FRAC,
) -> DataFrame:
    return gopher_metrics(
        documents,
        min_tokens,
        max_tokens,
        min_word_len,
        max_word_len,
        max_symbol_ratio,
        max_top_token_frac,
    ).select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "n_distinct_tokens",
        "top_token_frac",
        "keep",
    )


def gopher_quality_sql(
    min_tokens: int = GOPHER_MIN_TOKENS,
    max_tokens: int = GOPHER_MAX_TOKENS,
    min_word_len: float = GOPHER_MIN_WORD_LEN,
    max_word_len: float = GOPHER_MAX_WORD_LEN,
    max_symbol_ratio: float = GOPHER_MAX_SYMBOL_RATIO,
    max_top_token_frac: float = GOPHER_MAX_TOP_TOKEN_FRAC,
) -> str:
    ntok = r"len(string_split_regex(trim(text), '\s+'))::DOUBLE"
    mwl = q6_sql(rf"(length(regexp_replace(text, '\s+', '', 'g')) / {ntok})")
    sym = q6_sql(r"(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text))")
    tf = q6_sql("(t.top_token_n / p.n_tokens)")
    return rf"""
WITH per_row AS (
  SELECT doc_id,
         CAST({ntok} AS BIGINT) AS n_tokens,
         {mwl} AS mean_word_len,
         {sym} AS symbol_ratio
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
tok_stats AS (
  SELECT doc_id, COUNT(*) AS n_distinct_tokens, MAX(c) AS top_token_n
  FROM counts GROUP BY 1
)
SELECT p.doc_id, p.n_tokens, p.mean_word_len, p.symbol_ratio,
       CAST(t.n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
       {tf} AS top_token_frac,
       (p.n_tokens BETWEEN {min_tokens} AND {max_tokens}
        AND p.mean_word_len BETWEEN {min_word_len} AND {max_word_len}
        AND p.symbol_ratio < {max_symbol_ratio}
        AND {tf} < {max_top_token_frac}) AS keep
FROM per_row p JOIN tok_stats t ON p.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# C4-style boilerplate span removal: any fixed-width token span whose
# normalized content appears in >= min_docs DISTINCT documents is corpus
# boilerplate (navigation chrome, license headers, templated text); rebuild
# each document from its surviving spans. Scale shape: span rows shuffle
# once on the span key for the distinct-doc count, the filter join reuses
# that partitioning, and reassembly is one groupBy(doc_id) with an ordered
# collect — cost ~ corpus token count, no quadratic term. The span relation
# with counts is NOT broadcast (at web scale it rivals the corpus); the
# shuffle join is the honest plan.


SPAN_TOKENS = 4
SPAN_MIN_DOCS = 2


def span_rebuilt(spans: DataFrame, min_docs: int = SPAN_MIN_DOCS) -> DataFrame:
    """(doc_id, clean_text, n_spans_kept) for docs with >=1 surviving span —
    the shareable half of ``span_dedup`` (a composition supplies its own
    span relation, e.g. from a cached tokenization)."""
    # Pre-partition the span relation on the join/agg key: the groupBy
    # below needs no further shuffle (partitioning already satisfied).
    spans = spans.repartition("chunk_text")
    if min_docs == 2:
        # "appears in >= 2 distinct docs" == min(doc_id) != max(doc_id):
        # a single-phase min/max aggregate with map-side partials instead
        # of the two-phase distinct expand countDistinct plans.
        shared = (
            spans.groupBy("chunk_text")
            .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("chunk_text")
        )
    else:
        shared = (
            spans.groupBy("chunk_text")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("chunk_text")
        )
    kept = spans.join(shared, "chunk_text", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_spans_kept"),
    )


def n_spans_col(tokens: Column, span_tokens: int = SPAN_TOKENS) -> Column:
    """Span count as a closed-form function of the row's own token count
    (chunk starts = sequence(0, n-1, stride), n >= 1 always): a pure
    projection instead of an explode + doc_id-keyed shuffle."""
    n = F.size(tokens)
    return (F.floor((n - F.lit(1)) / F.lit(span_tokens)) + F.lit(1)).cast("long")


def span_dedup(
    documents: DataFrame, span_tokens: int = SPAN_TOKENS, min_docs: int = SPAN_MIN_DOCS
) -> DataFrame:
    spans = chunk_documents(documents, chunk=span_tokens, stride=span_tokens).select(
        "doc_id", "chunk_idx", "chunk_text"
    )
    rebuilt = span_rebuilt(spans, min_docs)
    totals = documents.select(
        "doc_id",
        n_spans_col(F.split(F.trim("text"), r"\s+"), span_tokens).alias("n_spans"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
            (F.col("n_spans") - F.coalesce("n_spans_kept", F.lit(0))).alias("n_spans_dropped"),
        )
    )


def span_dedup_sql(span_tokens: int = 4, min_docs: int = 2) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), starts AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {span_tokens})) AS start FROM toks
), spans AS (
  SELECT doc_id,
         CAST(start / {span_tokens} AS BIGINT) AS chunk_idx,
         array_to_string(list_slice(w, start + 1, start + {span_tokens}), ' ') AS chunk_text
  FROM starts
),
shared AS (
  SELECT chunk_text FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {min_docs}
),
kept AS (
  SELECT s.* FROM spans s ANTI JOIN shared sh ON s.chunk_text = sh.chunk_text
),
rebuilt AS (
  SELECT doc_id,
         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text,
         COUNT(*) AS n_spans_kept
  FROM kept GROUP BY 1
),
totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_spans_kept, 0) AS BIGINT) AS n_spans_kept,
       CAST(t.n_spans - COALESCE(r.n_spans_kept, 0) AS BIGINT) AS n_spans_dropped
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def _shared_token_relation(documents: DataFrame) -> DataFrame:
    """The per-session memoized tokenized-corpus relation behind
    ``curated_corpus_v2`` and ``filter_stack``: (doc_id, lang, source,
    text, _w structural token array, _lm lowercase a-z LM token array),
    persisted MEMORY_AND_DISK (spills, never evicts at scale).

    Both tokenizations every downstream text operator needs hang off ONE
    cached text scan: ``_w`` is the ``\\s+`` structural split (Gopher /
    repetition / span machinery), ``_lm`` is the ``[^a-z]+`` lowercase
    split (unigram/bigram LM fluency, BM25, DSIR). Memoization + LRU
    discipline live in :mod:`._cache` (one CacheManager entry per
    distinct input plan per session, oldest-evicted at 4)."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    return memo_persist(
        "shared_tokens",
        documents.select(
            "doc_id",
            "lang",
            "source",
            "text",
            F.split(F.trim("text"), r"\s+").alias("_w"),
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "").alias(
                "_lm"
            ),
        ),
    )


def curated_corpus_v2(documents: DataFrame) -> DataFrame:
    """Round-4 curation composition — the shape a real pretraining job runs
    as ONE Spark job: Gopher structural filters decide keep/drop, span-level
    boilerplate removal rewrites the text, and n-gram novelty rides along as
    a mixing weight (no arbitrary threshold — the sampler downstream owns
    that decision). All three stages share the documents scan; Catalyst
    reuses the span/shingle shuffles where possible, and each piece is
    independently oracle-checked, so this entry pins the COMPOSITION
    (joins on doc_id, column provenance) against one SQL statement.

    Scan economy (round 5): the corpus is TOKENIZED ONCE into a persisted
    doc-level relation (doc_id, lang, source, text, token array — same
    order of size as the input, MEMORY_AND_DISK so executors spill rather
    than evict at scale); the Gopher keep-filter and the span-count total
    are pure projections on it, and the span and shingle relations both
    derive from the cached array, so the regex tokenization and the
    parquet scan run once instead of five times. Joins: the former
    documents⋈gopher join is gone (filter inlined), leaving one left join
    against surviving spans and one join against novelty.

    Cache discipline (round 6): the persisted token relation is memoized
    per (session, input plan) in :func:`_shared_token_relation` — repeat
    invocations in a long-lived session (bench + gate loops) reuse ONE
    CacheManager entry instead of pinning a new corpus copy per call."""
    from flink_streaming_etl_spark.operators.dedup import (
        novelty_from_shingles,
        shingle_rows_from_tokens,
    )

    toks = _shared_token_relation(documents)

    base = (
        gopher_metrics(toks, tokens_col="_w")
        .filter(F.col("keep"))
        .select("doc_id", "lang", "source", n_spans_col(F.col("_w")).alias("n_spans"))
    )
    rebuilt = span_rebuilt(
        chunks_from_tokens(toks, chunk=SPAN_TOKENS, stride=SPAN_TOKENS).select(
            "doc_id", "chunk_idx", "chunk_text"
        )
    )
    weight = novelty_from_shingles(
        shingle_rows_from_tokens(toks, distinct=True)
    ).select("doc_id", "novelty")
    clean = F.coalesce("clean_text", F.lit(""))
    return (
        base.join(rebuilt, "doc_id", "left")
        .join(weight, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            clean.alias("text"),
            F.size(F.split(F.trim(clean), r"\s+")).cast("long").alias("n_tokens"),
            (F.col("n_spans") - F.coalesce("n_spans_kept", F.lit(0)))
            .cast("long")
            .alias("n_spans_dropped"),
            F.col("novelty").alias("mix_weight"),
        )
    )


def curated_corpus_v2_sql() -> str:
    from flink_streaming_etl_spark.operators.dedup import ngram_novelty_sql

    return rf"""
WITH g AS ({gopher_quality_sql()}),
sd AS ({span_dedup_sql()}),
nov AS ({ngram_novelty_sql()})
SELECT d.doc_id, d.lang, d.source,
       sd.clean_text AS text,
       CAST(len(string_split_regex(trim(sd.clean_text), '\s+')) AS BIGINT) AS n_tokens,
       sd.n_spans_dropped,
       nov.novelty AS mix_weight
FROM documents d
JOIN g ON d.doc_id = g.doc_id AND g.keep
JOIN sd ON d.doc_id = sd.doc_id
JOIN nov ON d.doc_id = nov.doc_id
"""


HEAVY_HITTER_K = 50


def heavy_hitter_tokens(documents: DataFrame, k: int = HEAVY_HITTER_K) -> DataFrame:
    """Tokens with corpus frequency > total/k — found WITHOUT shuffling the
    token stream. Misra-Gries theorem: per-partition summaries of capacity
    k, merged, form an MG summary of the whole stream with undercount
    ≤ n/k, so every token with true count > n/k SURVIVES in some summary.
    Stage 1 runs the MG counter pass inside each scan task (Arrow batches,
    candidates ≤ k·partitions rows total); stage 2 exact-counts the
    candidates AND the grand total in ONE aggregation: after a broadcast
    left join against the candidate set, rows group on
    ``when(is_candidate, token)`` — every non-candidate occurrence falls
    into the single NULL group, which the map-side partial aggregation
    collapses to one row per partition, so the shuffle still carries only
    candidate rows (+1 per partition). ``n_total`` is then the sum over
    that tiny grouped relation, and the threshold ``n·k > total`` is exact
    integer arithmetic. The output is therefore EXACTLY the SQL answer —
    sketch for pruning, never for the result — the same philosophy as the
    LSH→exact-Jaccard dedup path.

    Fully lazy: building this DataFrame triggers no job (the former eager
    ``toks.count()`` third pass is gone); executing it scans the corpus
    exactly twice (MG pass, counting pass).

    At 100 TB: the naive plan shuffles one row per token occurrence; this
    plan's shuffle is ≤ (k+1)·partitions rows.
    """
    cap = int(k)

    def mg_partition(it):
        # Batch-merged Misra-Gries (Agarwal et al., mergeable summaries):
        # exact-count each Arrow batch with a C-speed Counter, add into the
        # summary, and when it exceeds capacity subtract the (cap+1)-th
        # largest count from everything and drop the non-positives — each
        # reduction charges its decrement against > cap occurrences, so the
        # total undercount stays ≤ n/(cap+1), preserving the MG guarantee.
        from collections import Counter

        import pandas as pd

        counters: Counter = Counter()
        for pdf in it:
            counters.update(pdf["token"].tolist())
            if len(counters) > cap:
                sub = sorted(counters.values(), reverse=True)[cap]
                counters = Counter(
                    {t: c - sub for t, c in counters.items() if c - sub > 0}
                )
        yield pd.DataFrame({"token": list(counters.keys())})

    toks = documents.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    candidates = (
        toks.mapInPandas(mg_partition, "token string").dropDuplicates(["token"])
    )
    tagged = toks.join(
        F.broadcast(candidates.withColumn("_is_cand", F.lit(True))), "token", "left"
    )
    grouped = tagged.groupBy(
        F.when(F.col("_is_cand"), F.col("token")).alias("token")
    ).agg(F.count(F.lit(1)).alias("n"))
    # grouped is ≤ k·partitions + 1 rows — a single-partition window over it
    # is a driver-sized reduction, not a data-scale one.
    from pyspark.sql.window import Window

    total = F.sum("n").over(Window.partitionBy()).cast("long")
    return (
        grouped.withColumn("n_total", total)
        .filter(F.col("token").isNotNull() & (F.col("n") * k > F.col("n_total")))
        .select("token", "n", "n_total")
    )


def heavy_hitter_tokens_sql(k: int = HEAVY_HITTER_K) -> str:
    return rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents
),
tot AS (SELECT COUNT(*) AS n_total FROM toks),
counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1)
SELECT c.token, c.n, CAST(t.n_total AS BIGINT) AS n_total
FROM counts c, tot t
WHERE c.n * {k} > t.n_total
"""


# ---------------------------------------------------------------------------
# Gopher repetition battery (Rae et al. 2021 §A1.1, the repetition signals
# that complement the structural gopher_quality filters): top-2-gram and
# top-3-gram token fractions plus the duplicated-span fraction. ZERO
# shuffle, like gopher_quality since round 5: each signal folds one of the
# row's own sorted n-gram/span arrays (longest equal run = top count, run
# starts = distinct count). At 100 TB these are scan-local projections on
# the hottest input — no exchange anywhere.

REP_TOP2_MAX = 0.20
REP_TOP3_MAX = 0.18
REP_DUP_SPAN_MAX = 0.30


def _ngram_array(w: Column, k: int) -> Column:
    """Sliding word-k-gram array mirroring the shingle construction
    (>= 1 element even for short docs, same as shingle_rows_from_tokens)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )


def _span_array(w: Column, span_tokens: int = SPAN_TOKENS) -> Column:
    """Non-overlapping span array (same spans as chunk_documents with
    chunk == stride == span_tokens)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(w) - 1, F.lit(span_tokens)),
        lambda s: F.concat_ws(" ", F.slice(w, s + 1, span_tokens)),
    )


def _rep_fracs(
    r2: Column, r3: Column, rs: Column, n_tokens: Column, n_spans: Column
) -> tuple[Column, Column, Column]:
    """(top_bigram_frac, top_trigram_frac, dup_span_frac) from the three
    run-stat structs — shared by repetition_battery and filter_stack."""
    top2 = q6(r2["max_run"] * 2 / n_tokens)
    top3 = q6(r3["max_run"] * 3 / n_tokens)
    dup_span = q6(F.lit(1.0) - rs["n_distinct"] / n_spans)
    return top2, top3, dup_span


def repetition_battery(
    documents: DataFrame,
    top2_max: float = REP_TOP2_MAX,
    top3_max: float = REP_TOP3_MAX,
    dup_span_max: float = REP_DUP_SPAN_MAX,
) -> DataFrame:
    w = F.split(F.trim("text"), r"\s+")
    staged = documents.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        _sorted_run_stats(F.array_sort(_ngram_array(w, 2))).alias("_r2"),
        _sorted_run_stats(F.array_sort(_ngram_array(w, 3))).alias("_r3"),
        _sorted_run_stats(F.array_sort(_span_array(w))).alias("_rs"),
        n_spans_col(w).alias("n_spans"),
    )
    top2, top3, dup_span = _rep_fracs(
        F.col("_r2"), F.col("_r3"), F.col("_rs"), F.col("n_tokens"), F.col("n_spans")
    )
    keep = (top2 < top2_max) & (top3 < top3_max) & (dup_span < dup_span_max)
    return staged.select(
        "doc_id",
        "n_tokens",
        top2.alias("top_bigram_frac"),
        top3.alias("top_trigram_frac"),
        dup_span.alias("dup_span_frac"),
        keep.alias("keep"),
    )


def repetition_battery_sql(
    top2_max: float = REP_TOP2_MAX,
    top3_max: float = REP_TOP3_MAX,
    dup_span_max: float = REP_DUP_SPAN_MAX,
    span_tokens: int = SPAN_TOKENS,
) -> str:
    top2 = q6_sql("(g2.top_n * 2 / t.n_tokens::DOUBLE)")
    top3 = q6_sql("(g3.top_n * 3 / t.n_tokens::DOUBLE)")
    dup = q6_sql("(1.0 - s.n_distinct / s.n_spans::DOUBLE)")
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks),
g2 AS (
  SELECT doc_id, MAX(c) AS top_n FROM (
    SELECT doc_id, gram, COUNT(*) AS c FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                                   i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS gram
      FROM toks) GROUP BY 1, 2) GROUP BY 1
),
g3 AS (
  SELECT doc_id, MAX(c) AS top_n FROM (
    SELECT doc_id, gram, COUNT(*) AS c FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS gram
      FROM toks) GROUP BY 1, 2) GROUP BY 1
),
s AS (
  SELECT doc_id, COUNT(*) AS n_spans, COUNT(DISTINCT span) AS n_distinct FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(w), {span_tokens}),
                                 st -> array_to_string(list_slice(w, st + 1, st + {span_tokens}), ' '))) AS span
    FROM toks) GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       {top2} AS top_bigram_frac,
       {top3} AS top_trigram_frac,
       {dup} AS dup_span_frac,
       ({top2} < {top2_max} AND {top3} < {top3_max} AND {dup} < {dup_span_max}) AS keep
FROM t JOIN g2 ON t.doc_id = g2.doc_id
       JOIN g3 ON t.doc_id = g3.doc_id
       JOIN s ON t.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (the alpha-sampling rule public
# multilingual/pretraining recipes use, e.g. the XLM-R / GPT data-mixing
# formulation): p_s proportional to (n_s/N)^alpha flattens the natural
# source distribution; weight_s = p_s / nat_s is the per-source
# up/down-sampling factor a sampler applies. One tiny source-keyed
# aggregate (map-side partials) + two single-partition windows over the
# handful of source rows — nothing here scales with the corpus.

MIX_ALPHA = 0.7


def source_mixture_weights(documents: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    from pyspark.sql.window import Window

    ntok = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    per_source = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_tokens"),
    )
    everything = Window.partitionBy()
    nat = F.col("n_tokens") / F.sum("n_tokens").over(everything)
    scored = per_source.withColumn("_nat", nat).withColumn(
        "_p", F.pow(F.col("_nat"), F.lit(alpha))
    )
    p_norm = F.col("_p") / F.sum("_p").over(everything)
    return scored.select(
        "source",
        "n_docs",
        "n_tokens",
        q6(F.col("_nat")).alias("nat_frac"),
        q6(p_norm).alias("alpha_frac"),
        q6(p_norm / F.col("_nat")).alias("weight"),
    )


def source_mixture_weights_sql(alpha: float = MIX_ALPHA) -> str:
    return rf"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
nat AS (
  SELECT *, n_tokens / SUM(n_tokens) OVER () AS nat_raw FROM per_source
),
p AS (
  SELECT *, power(nat_raw, {alpha}) / SUM(power(nat_raw, {alpha})) OVER () AS p_norm
  FROM nat
)
SELECT source, n_docs, n_tokens,
       {q6_sql('nat_raw')} AS nat_frac,
       {q6_sql('p_norm')} AS alpha_frac,
       {q6_sql('(p_norm / nat_raw)')} AS weight
FROM p
"""


def packing_efficiency(documents: DataFrame, seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """Per-language packing health report over :func:`pack_sequences`: how
    many fixed-length training sequences the language's token stream fills,
    how many documents straddle a bin boundary (cross-document attention
    leakage candidates), and the fill ratio of the allocated bins. The
    numbers a pretraining-data engineer checks before shipping a packed
    shard: a low fill ratio means the tail bin is mostly padding; a high
    straddler share means sequence-boundary curation (or retokenization at
    a different seq_len) is warranted.

    One token-count projection + one per-lang aggregate — no extra scan
    beyond pack_sequences' own shape, and the output is lang-cardinality
    rows of scalars."""
    from flink_streaming_etl_spark.functions import q6

    packed = pack_sequences(documents, seq_len)
    per_lang = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("bin_end") + 1).alias("n_bins"),
        F.sum((F.col("bin_id") != F.col("bin_end")).cast("long")).alias("n_straddlers"),
    )
    capacity = F.col("n_bins") * seq_len
    return per_lang.select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_bins",
        "n_straddlers",
        (capacity - F.col("total_tokens")).cast("long").alias("pad_tokens"),
        q6(F.col("total_tokens") / capacity.cast("double")).alias("fill_ratio"),
        q6(F.col("n_straddlers") / F.col("n_docs").cast("double")).alias("straddle_share"),
    )


def packing_efficiency_sql(seq_len: int = PACK_SEQ_LEN) -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    fill = q6_sql(f"total_tokens / CAST(n_bins * {seq_len} AS DOUBLE)")
    straddle = q6_sql("n_straddlers / CAST(n_docs AS DOUBLE)")
    return f"""
WITH packed AS ({pack_sequences_sql(seq_len)}),
per_lang AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(MAX(bin_end) + 1 AS BIGINT) AS n_bins,
         CAST(SUM(CASE WHEN bin_id <> bin_end THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
  FROM packed GROUP BY 1
)
SELECT lang, n_docs, total_tokens, n_bins, n_straddlers,
       CAST(n_bins * {seq_len} - total_tokens AS BIGINT) AS pad_tokens,
       {fill} AS fill_ratio,
       {straddle} AS straddle_share
FROM per_lang
"""


# ---------------------------------------------------------------------------
# Unigram-LM fluency score — the CCNet-style (Wenzek et al. 2020, public)
# language-model quality filter, with the KenLM 5-gram model replaced by the
# corpus's own unigram MLE (the container has no LM; the pipeline shape is
# identical: score every document by mean token log-probability, filter on a
# pinned threshold). Scale shape: tokens collapse to (doc, term, tf) with
# map-side combine; the vocab relation is term-keyed; the tf⋈vocab join is
# the same tfidf-shaped shuffle already measured linear in SCALE.md. At
# 100 TB the model side would be a pinned top-V broadcast table + one OOV
# mass bucket instead of a full-vocab join — the per-doc rollup is
# unchanged. Cross-engine: ln() runs on identical double quotients on both
# engines (≤1 ulp apart), the per-doc mean is round-half-even at 1e-4 (the
# standardize_by_label_stats precedent), and the fluency flag compares the
# ROUNDED mean so both engines flag identically.

UNIGRAM_FLUENT_MIN = -5.0


def lm_tf_relation(tokens: DataFrame) -> DataFrame:
    """(doc_id, term, tf) term-frequency rollup over an exploded
    (doc_id, term) relation — the shared substrate of unigram-LM fluency
    and BM25. Feeds the vocab rollup, the grand-total action AND the
    scoring join, so it is persisted; memoization + LRU eviction live in
    :mod:`._cache` (family ``lm_tf``) — semantically identical token
    plans from different operators share ONE cached relation, and a
    long session is bounded instead of accumulating one pinned
    vocabulary-sized relation per operator call (r6 verdict #4)."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    return memo_persist(
        "lm_tf",
        tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
    )


def _lm_tokens(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("term"),
    )


def unigram_logprob_score(
    documents: DataFrame, tokens: DataFrame | None = None
) -> DataFrame:
    """Pass ``tokens`` (doc_id, term) to score an already-tokenized
    relation (``filter_stack`` feeds the shared cached ``_lm`` array so
    the corpus is scanned and tokenized once across all five signals)."""
    if tokens is None:
        tokens = _lm_tokens(documents)
    tf = lm_tf_relation(tokens)
    counts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    # the grand total is a collected scalar literal: a cross-joined
    # single-row aggregate was measured slower and plans a nested-loop
    # join (empty corpus → 1 keeps the division valid; no rows score)
    total = float(counts.agg(F.sum("cnt")).first()[0] or 1)
    lp = F.log(F.col("cnt").cast("double") / F.lit(total))
    # counts is vocabulary-bounded — pin it broadcast so the corpus-sized
    # tf relation never shuffles for scoring (r7 verdict #4)
    scored = tf.join(F.broadcast(counts), "term").select(
        "doc_id", "tf", (F.col("tf") * lp).alias("wlp")
    )
    doc = scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_scored_tokens"),
        F.bround(F.sum("wlp") / F.sum("tf"), 4).alias("avg_logprob"),
    )
    return doc.select(
        "doc_id",
        "n_scored_tokens",
        "avg_logprob",
        (F.col("avg_logprob") >= F.lit(UNIGRAM_FLUENT_MIN))
        .cast("int")
        .alias("is_fluent"),
    )


def unigram_logprob_score_sql(fluent_min: float = UNIGRAM_FLUENT_MIN) -> str:
    return f"""
WITH tokens AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
), counts AS (
  SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term
), tt AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM counts),
doc AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.tf) AS BIGINT) AS n_scored_tokens,
         round_even(SUM(tf.tf * ln(counts.cnt::DOUBLE / tt.t)) / SUM(tf.tf), 4)
           AS avg_logprob
  FROM tf JOIN counts USING (term), tt
  GROUP BY tf.doc_id
)
SELECT doc_id, n_scored_tokens, avg_logprob,
       CAST(CASE WHEN avg_logprob >= {fluent_min} THEN 1 ELSE 0 END AS INT)
         AS is_fluent
FROM doc
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility report — tokens-per-word and chars-per-token by
# language, the multilingual budgeting gauge (fertility decides how many
# training tokens a language's documents actually cost; XLM-R/BLOOM token
# audits are the public precedent). Pure per-row codegen projections into
# one tiny lang-keyed agg — zero data-scale state, exact-integer sums, q6
# on ratios of exact ints (engine-identical).


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    per = documents.select(
        "lang",
        toks.alias("ws"),
        F.regexp_count("text", F.lit(BPE_PAT)).cast("long").alias("bpe"),
        F.length("text").cast("long").alias("ch"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        q6(F.sum("bpe").cast("double") / F.sum("ws")).alias("fertility"),
        q6(F.sum("ch").cast("double") / F.sum("bpe")).alias("chars_per_bpe_token"),
    )


TOKENIZER_FERTILITY_SQL = rf"""
WITH per AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\s+')) AS ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe,
         length(text) AS ch
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       {q6_sql("SUM(bpe)::DOUBLE / SUM(ws)")} AS fertility,
       {q6_sql("SUM(ch)::DOUBLE / SUM(bpe)")} AS chars_per_bpe_token
FROM per GROUP BY lang
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weights — hashed-unigram importance resampling for
# domain-targeted data selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling": fit bag-of-hashed-ngrams
# models on a target and a raw distribution, weight each raw document by
# the likelihood ratio). Two passes over the corpus: one 2·B-group
# aggregation (map-side combine collapses it to bucket granularity before
# the exchange), then a ZERO-SHUFFLE projection that scores every document
# against the broadcast-as-literal log-ratio table. Nothing data-scale ever
# crosses an exchange or visits the driver — the collected relation is
# exactly B buckets.

DSIR_BUCKETS = 64
DSIR_TARGET_SOURCE = "src0"


def _dsir_bucket(tok: Column) -> Column:
    """Deterministic engine-portable token bucket: a two-term integer hash
    (first-char code and length) — pure arithmetic, identical in Spark and
    DuckDB, no reliance on engine hash functions."""
    return (F.ascii(F.substring(tok, 1, 1)) * 31 + F.length(tok)) % DSIR_BUCKETS


def _dsir_bucket_sql(expr: str) -> str:
    return f"(ascii(substr({expr}, 1, 1)) * 31 + length({expr})) % {DSIR_BUCKETS}"


def _lower_tokens() -> Column:
    return F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")


def dsir_importance_weights(
    documents: DataFrame, target_source: str = DSIR_TARGET_SOURCE
) -> DataFrame:
    """Per-document average log importance ratio ln(p_target/p_raw) over
    hashed unigram buckets, Laplace-smoothed. Positive → the document looks
    like the target domain; the downstream move is weighted resampling by
    exp(score), which this report parameterizes.

    Scale shape: pass 1 aggregates token buckets to 2·B rows (B=64) and
    collects ONLY that; pass 2 embeds the B-entry log-ratio table as a map
    literal and scores each row with a per-row array fold — zero shuffle,
    zero join, whole corpus never leaves the scan stage."""
    import math

    is_t = F.col("source") == F.lit(target_source)
    buckets = documents.select(
        is_t.alias("is_t"), F.explode(F.transform(_lower_tokens(), _dsir_bucket)).alias("b")
    )
    cnt = {
        (r["b"], r["is_t"]): r["n"]
        for r in buckets.groupBy("b", "is_t").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tot_t = sum(n for (b, t), n in cnt.items() if t)
    tot_r = sum(n for (b, t), n in cnt.items() if not t)
    B = DSIR_BUCKETS
    ratio = {
        b: math.log(
            ((cnt.get((b, True), 0) + 1.0) / (tot_t + B))
            / ((cnt.get((b, False), 0) + 1.0) / (tot_r + B))
        )
        for b in range(B)
    }
    lookup = F.create_map(*[F.lit(x) for b in range(B) for x in (b, ratio[b])])
    toks = _lower_tokens()
    n = F.size(toks)
    s = F.aggregate(
        F.transform(toks, lambda t: F.element_at(lookup, _dsir_bucket(t))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    avg = F.bround(s / n, 4)
    return documents.filter(n > 0).select(
        "doc_id",
        n.cast("long").alias("n_scored_tokens"),
        avg.alias("avg_log_ratio"),
        (avg > 0).cast("int").alias("is_target_like"),
    )


def dsir_importance_weights_sql(target_source: str = DSIR_TARGET_SOURCE) -> str:
    b = _dsir_bucket_sql("t.term")
    return f"""
WITH tok AS (
  SELECT doc_id, source = '{target_source}' AS is_t, {b} AS b
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), cnt AS (
  SELECT b,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
  FROM tok GROUP BY b
), tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
ratio AS (
  SELECT b, ln(((ct + 1.0) / (tt + {DSIR_BUCKETS})) / ((cr + 1.0) / (tr + {DSIR_BUCKETS}))) AS lr
  FROM cnt, tot
), doc AS (
  SELECT tok.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_scored_tokens,
         round_even(SUM(ratio.lr) / COUNT(*), 4) AS avg_log_ratio
  FROM tok JOIN ratio USING (b)
  GROUP BY tok.doc_id
)
SELECT doc_id, n_scored_tokens, avg_log_ratio,
       CAST(CASE WHEN avg_log_ratio > 0 THEN 1 ELSE 0 END AS INT) AS is_target_like
FROM doc
"""


# ---------------------------------------------------------------------------
# Per-source vocabulary drift — KL(source ‖ corpus) over exact unigram
# counts. The standard pretraining-mix gauge for "which source is
# distributionally far from the blend" (domain reweighting / DoReMi-style
# diagnostics use exactly this quantity). All counts are exact integers;
# the only floats are the final p·ln(p/q) terms, folded per source and
# round-half-even at 1e-4 (the repo's cross-engine float rule).


def source_kl_report(documents: DataFrame) -> DataFrame:
    """One linear shuffle keyed (source, term) with map-side combine, one
    term-keyed re-aggregation for the corpus marginal, a term-keyed join
    (linear, AQE-handled), and a source-keyed final fold — every relation
    is token-vocabulary-sized or smaller, never corpus-text-sized."""
    # st feeds the corpus marginal, the per-source totals AND the scoring
    # join — the memoized (vocabulary × sources)-sized relation shared
    # with heaps_law_report (family source_term): the tokenize+explode
    # pass runs once and repeat calls share one bounded CacheManager entry.
    st = _source_term_counts(documents)
    t = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    # corpus grand total as a collected scalar literal (exact integer
    # sum → double), never a cross-joined single-row aggregate
    total = float(t.agg(F.sum("c_t")).first()[0] or 1)
    joined = st.join(t, "term")
    # per-source totals via a window-free second agg
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    scored = joined.join(s_tot, "source").select(
        "source",
        "c_st",
        (
            (F.col("c_st") / F.col("t_s"))
            * F.log((F.col("c_st") / F.col("t_s")) / (F.col("c_t") / F.lit(total)))
        ).alias("term_kl"),
    )
    return scored.groupBy("source").agg(
        F.sum("c_st").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.bround(F.sum("term_kl"), 4).alias("kl_divergence"),
    )


def source_kl_report_sql() -> str:
    return """
WITH tok AS (
  SELECT doc_id, source, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), st AS (
  SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY source, term
), t AS (SELECT term, SUM(c_st) AS c_t FROM st GROUP BY term),
tot AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS total FROM t),
s_tot AS (SELECT source, SUM(c_st) AS t_s FROM st GROUP BY source)
SELECT st.source,
       CAST(SUM(st.c_st) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       round_even(SUM((st.c_st / s_tot.t_s) * ln((st.c_st / s_tot.t_s) / (t.c_t / tot.total))), 4)
         AS kl_divergence
FROM st JOIN t USING (term) JOIN s_tot USING (source), tot
GROUP BY st.source
"""


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing — split each language's documents into
# head/middle/tail terciles by language-model fit (Wenzek et al. 2020,
# "CCNet": bucket web text by LM perplexity, keep the head). The LM here is
# the corpus-fit unigram model (unigram_logprob_score); the cuts are exact
# nearest-rank terciles computed over a per-(lang, score) HISTOGRAM — the
# cumulative window runs over histogram rows (bounded by distinct
# 4-decimal scores per language), never over the corpus.


def _scored_lang_relation(documents: DataFrame) -> DataFrame:
    """Memoized persisted (doc_id, lang, avg_logprob) relation — LRU
    discipline in :mod:`._cache` (family ``scored_lang``)."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    return memo_persist(
        "scored_lang",
        unigram_logprob_score(documents)
        .join(documents.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "avg_logprob"),
    )


def perplexity_tagged(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, avg_logprob, bucket) — the per-document CCNet
    tercile tag: the shared substrate of :func:`perplexity_buckets` (the
    report) and :func:`ccnet_pipeline` (the curation decision). Cuts are
    exact nearest-rank terciles over the per-(lang, score) HISTOGRAM —
    the cumulative window runs over histogram rows, never the corpus."""
    from pyspark.sql.window import Window

    scored = _scored_lang_relation(documents)
    hist = scored.groupBy("lang", "avg_logprob").agg(
        F.count(F.lit(1)).alias("freq")
    )
    wl = Window.partitionBy("lang")
    cum = (
        hist.withColumn(
            "cumfreq",
            F.sum("freq").over(
                wl.orderBy("avg_logprob").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("n", F.sum("freq").over(wl))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cumfreq") >= F.ceil(F.col("n") / 3), F.col("avg_logprob"))
        ).alias("p33"),
        F.min(
            F.when(
                F.col("cumfreq") >= F.ceil(F.col("n") * 2 / 3), F.col("avg_logprob")
            )
        ).alias("p67"),
    )
    bucket = (
        F.when(F.col("avg_logprob") <= F.col("p33"), F.lit("tail"))
        .when(F.col("avg_logprob") <= F.col("p67"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
    )


def perplexity_tagged_sql() -> str:
    """(doc_id, lang, avg_logprob, bucket) — the SQL twin of
    :func:`perplexity_tagged`, factored out (round 10) so every consumer
    (quality_calibration_report, quality_ensemble_report) embeds ONE
    definition of the per-language nearest-rank tercile chain instead of
    drifting copies (the same single-definition discipline as
    _lm_bigram_tf2)."""
    return f"""
WITH scored0 AS ({unigram_logprob_score_sql()}),
scored AS (
  SELECT s.doc_id, d.lang, s.avg_logprob
  FROM scored0 s JOIN documents d ON s.doc_id = d.doc_id
),
hist AS (
  SELECT lang, avg_logprob, COUNT(*) AS freq FROM scored GROUP BY lang, avg_logprob
),
cum AS (
  SELECT lang, avg_logprob,
         SUM(freq) OVER (PARTITION BY lang ORDER BY avg_logprob
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumfreq,
         SUM(freq) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         MIN(CASE WHEN cumfreq >= CEIL(n / 3.0) THEN avg_logprob END) AS p33,
         MIN(CASE WHEN cumfreq >= CEIL(n * 2.0 / 3.0) THEN avg_logprob END) AS p67
  FROM cum GROUP BY lang
)
SELECT s.doc_id, s.lang, s.avg_logprob,
       CASE WHEN s.avg_logprob <= c.p33 THEN 'tail'
            WHEN s.avg_logprob <= c.p67 THEN 'middle'
            ELSE 'head' END AS bucket
FROM scored s JOIN cuts c ON s.lang = c.lang
"""


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """(lang, bucket, n_docs, share, mean_logprob). Mean folds exact
    integer ten-thousandths (scores are bround-4), so it is
    order-independent across engines.

    The per-doc scored relation (3 narrow columns) is persisted before
    branching: both the tercile-cut branch and the tagging branch consume
    it, and without the persist each branch re-evaluates the whole
    unigram-LM chain (tokenize → tf → vocab join) — measured 5.4 s →
    3.8 s at sf0.1. MEMORY_AND_DISK (spills, never recomputes), memoized
    per (session, input plan) with the same tiny-LRU discipline as
    ``_shared_token_relation`` so repeat calls in a bench/gate loop reuse
    one cache entry instead of stacking new ones."""
    lp_e4 = F.round(F.col("avg_logprob") * 10000).cast("long")
    tagged = perplexity_tagged(documents).select(
        "lang", "bucket", lp_e4.alias("lp_e4")
    )
    out = tagged.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("lp_e4").alias("s_e4"),
    )
    totals = out.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return out.join(F.broadcast(totals), "lang").select(
        "lang",
        "bucket",
        "n_docs",
        q6(F.col("n_docs").cast("double") / F.col("n_lang")).alias("share"),
        q6(
            (F.col("s_e4").cast("double") / F.lit(10000.0)) / F.col("n_docs")
        ).alias("mean_logprob"),
    )


def perplexity_buckets_sql() -> str:
    return f"""
WITH scored0 AS ({unigram_logprob_score_sql()}),
scored AS (
  SELECT s.doc_id, d.lang, s.avg_logprob
  FROM scored0 s JOIN documents d ON s.doc_id = d.doc_id
),
hist AS (
  SELECT lang, avg_logprob, COUNT(*) AS freq FROM scored GROUP BY lang, avg_logprob
),
cum AS (
  SELECT lang, avg_logprob,
         SUM(freq) OVER (PARTITION BY lang ORDER BY avg_logprob
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumfreq,
         SUM(freq) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         MIN(CASE WHEN cumfreq >= CEIL(n / 3.0) THEN avg_logprob END) AS p33,
         MIN(CASE WHEN cumfreq >= CEIL(n * 2.0 / 3.0) THEN avg_logprob END) AS p67
  FROM cum GROUP BY lang
),
tagged AS (
  SELECT s.lang,
         CASE WHEN s.avg_logprob <= c.p33 THEN 'tail'
              WHEN s.avg_logprob <= c.p67 THEN 'middle'
              ELSE 'head' END AS bucket,
         CAST(round(s.avg_logprob * 10000) AS BIGINT) AS lp_e4
  FROM scored s JOIN cuts c ON s.lang = c.lang
),
agg AS (
  SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, SUM(lp_e4) AS s_e4
  FROM tagged GROUP BY lang, bucket
),
totals AS (SELECT lang, SUM(n_docs) AS n_lang FROM agg GROUP BY lang)
SELECT a.lang, a.bucket, a.n_docs,
       {q6_sql("CAST(a.n_docs AS DOUBLE) / t.n_lang")} AS share,
       {q6_sql("(CAST(a.s_e4 AS DOUBLE) / 10000.0) / a.n_docs")} AS mean_logprob
FROM agg a JOIN totals t ON a.lang = t.lang
"""


# ---------------------------------------------------------------------------
# Character-entropy filter — Shannon entropy of the document's character
# distribution, the cheap gibberish/boilerplate detector (low entropy =
# repeated chars/compression artifacts; the C4/RefinedWeb-family filters
# use exactly this signal alongside length and symbol ratios). One
# (doc_id, char)-keyed aggregation with map-side combine — the fan-out is
# corpus characters, collapsed to ≤ alphabet-size rows per doc before the
# exchange.

ENTROPY_LOW_BITS = 2.0


def _char_run_entropy_sum(chars: Column) -> Column:
    """Fold a SORTED char array into Σ c·log2(c) over its run lengths
    (runs of a sorted array are exactly the per-char counts) — the
    Shannon-identity numerator as a single per-row pass, no shuffle.
    The run==0 guard keeps the initial flush out of 0·log2(0) = NaN."""
    flush = lambda run: (  # noqa: E731
        F.when(run > 0, run.cast("double") * F.log2(run)).otherwise(F.lit(0.0))
    )
    return F.aggregate(
        chars,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(x.eqNullSafe(acc["prev"]), acc["s"])
            .otherwise(acc["s"] + flush(acc["run"]))
            .alias("s"),
        ),
        lambda acc: acc["s"] + flush(acc["run"]),
    )


def _scored_chars() -> Column:
    """Sorted array of the non-space characters of lower(text)."""
    return F.array_sort(
        F.filter(F.split(F.lower("text"), ""), lambda c: (c != "") & (c != " "))
    )


def entropy_filter(documents: DataFrame) -> DataFrame:
    """(doc_id, n_chars_scored, char_entropy, is_low_entropy). Entropy in
    bits via the count identity H = log2(n) − (Σ c·log2 c)/n, both terms
    from ONE per-row fold over the sorted char array (round lengths are
    the char counts): a ZERO-shuffle codegen projection — the former
    (doc, char)-keyed aggregation exploded every character of the corpus
    through a shuffle, which at 100 TB is a corpus-sized shuffle for a
    per-document statistic. Exact integer counts, round-half-even at
    1e-4 on the final transcendental (the cross-engine float rule; the
    fold sums runs in sorted order, DuckDB in its own — bround-4 absorbs
    the float reorder exactly as it did for the aggregation form). Docs
    with no scored chars produce no row (same contract as before)."""
    staged = documents.select("doc_id", _scored_chars().alias("_ch"))
    folded = staged.select(
        "doc_id",
        F.size("_ch").cast("long").alias("_n"),
        _char_run_entropy_sum(F.col("_ch")).alias("_s"),
    )
    ent = F.bround(F.log2("_n") - F.col("_s") / F.col("_n"), 4)
    return folded.filter(F.col("_n") > 0).select(
        "doc_id",
        F.col("_n").alias("n_chars_scored"),
        ent.alias("char_entropy"),
        (ent < F.lit(ENTROPY_LOW_BITS)).cast("int").alias("is_low_entropy"),
    )


def entropy_filter_sql(low_bits: float = ENTROPY_LOW_BITS) -> str:
    return f"""
WITH chars AS (
  SELECT doc_id, c.ch
  FROM documents,
       LATERAL (SELECT UNNEST(string_split(lower(text), \'\')) AS ch) c
  WHERE c.ch <> \'\' AND c.ch <> \' \'
), cc AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars_scored,
       round_even(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS char_entropy,
       CAST(CASE WHEN round_even(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) < {low_bits}
            THEN 1 ELSE 0 END AS INT) AS is_low_entropy
FROM cc GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# First-fit-decreasing sequence packing — the padding-minimizing packer
# (Krell et al. 2021, "Efficient Sequence Packing without Cross-
# contamination": length-sorted greedy bin assignment recovers most of the
# padding that concat-and-chunk wastes, without splitting documents across
# bins). FFD is inherently sequential, so it runs as an Arrow-batched
# ``applyInPandas`` over (lang, shard) groups — shard = doc_id mod
# PACK_FFD_SHARDS bounds every group to a constant fraction of its
# language (each group's doc list fits one Arrow batch by construction),
# and the greedy order inside a group is (n_tokens DESC, doc_id ASC), so
# the assignment is deterministic under any partitioning. Docs longer
# than seq_len get a bin of their own (truncation is the trainer's
# decision, not the packer's). Not SQL-expressible (stateful greedy loop)
# → rows-only registry entry; correctness is property-tested
# (capacity, determinism, no-worse-than-chunk padding).

PACK_FFD_SHARDS = 8
#: target documents per FFD applyInPandas group — the constant the shard
#: dial holds as the corpus grows (one group = one Arrow batch + one
#: O(rows·bins) Python loop; ~4k rows keeps both bounded).
PACK_FFD_TARGET_GROUP_ROWS = 4096


def shards_for_corpus(
    n_docs: int, target_group_rows: int = PACK_FFD_TARGET_GROUP_ROWS
) -> int:
    """The FFD corpus-growth dial (same class as ``centroids_for_corpus``
    in operators/similarity.py and ``planes_for_corpus``): shards =
    ceil(n_docs / target_group_rows), floored at PACK_FFD_SHARDS, keeps
    the per-(lang, shard) group size ~CONSTANT as the corpus grows — the
    per-group Python FFD loop is O(rows·bins), so a fixed shard count
    turns linear corpus growth into quadratic group cost (the r6 probe
    measured 2.2× at 10× data with shards=8 fixed)."""
    import math

    if n_docs <= 0:
        return PACK_FFD_SHARDS
    return max(PACK_FFD_SHARDS, math.ceil(n_docs / target_group_rows))


def pack_sequences_ffd(
    documents: DataFrame, seq_len: int = PACK_SEQ_LEN, shards: int | None = None
) -> DataFrame:
    """(doc_id, lang, shard, bin_id, n_tokens, bin_fill): FFD bin
    assignment per (lang, shard) group; bin_fill is the bin's final token
    count (same value on every member row)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("shard", LongType()),
            StructField("bin_id", LongType()),
            StructField("n_tokens", LongType()),
            StructField("bin_fill", LongType()),
        ]
    )
    cap = int(seq_len)
    if shards is None:
        # one cheap count action sizes the dial; callers that know their
        # corpus (or tests pinning determinism) pass shards explicitly.
        shards = shards_for_corpus(documents.count())

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        assign: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            placed = False
            for b, f in enumerate(fills):
                if f + n <= cap:
                    fills[b] = f + n
                    assign.append(b)
                    placed = True
                    break
            if not placed:
                fills.append(n)
                assign.append(len(fills) - 1)
        pdf["bin_id"] = pd.Series(assign, dtype="int64")
        pdf["bin_fill"] = pdf["bin_id"].map(lambda b: fills[b]).astype("int64")
        return pdf[["doc_id", "lang", "shard", "bin_id", "n_tokens", "bin_fill"]]

    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    base = documents.select(
        "doc_id",
        "lang",
        F.pmod(F.col("doc_id"), F.lit(shards)).cast("long").alias("shard"),
        toks.alias("n_tokens"),
    )
    return base.groupBy("lang", "shard").applyInPandas(pack, out_schema)


def pack_sequences_ffd_stats(
    documents: DataFrame, seq_len: int = PACK_SEQ_LEN, shards: int = PACK_FFD_SHARDS
) -> DataFrame:
    """SQL-checkable scalar twin of :func:`pack_sequences_ffd` (r10
    verdict #7): per (lang, shard) group — ``bins_used``, ``max_fill``
    and ``total_waste`` = bins·cap − Σtokens (negative exactly when an
    oversized doc got a bin of its own). The packing itself is the
    applyInPandas greedy loop; the scalars are deterministic under the
    pinned FFD order, so the DuckDB oracle replays the SAME greedy as a
    recursive CTE over the identically ordered doc list (the
    pca_power_pinned discipline: sequential fold vs recursive CTE,
    value-equal). ``shards`` is pinned (no auto-dial) so both engines
    group identically."""
    packed = pack_sequences_ffd(documents, seq_len=seq_len, shards=shards)
    per_bin = packed.groupBy("lang", "shard", "bin_id").agg(
        F.max("bin_fill").alias("fill")
    )
    return per_bin.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("bins_used"),
        F.max("fill").cast("long").alias("max_fill"),
        (F.count(F.lit(1)) * F.lit(int(seq_len)) - F.sum("fill"))
        .cast("long")
        .alias("total_waste"),
    )


def pack_sequences_ffd_stats_sql(
    seq_len: int = PACK_SEQ_LEN, shards: int = PACK_FFD_SHARDS
) -> str:
    # The FFD loop replayed as a recursive CTE: state = the bin-fill list,
    # one recursion step per doc in the pinned (n_tokens DESC, doc_id)
    # order; first-fit index via an index-lambda min over the fills.
    return rf"""
WITH RECURSIVE base AS (
  SELECT doc_id, lang, doc_id % {shards} AS shard,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
docs AS (
  SELECT lang, shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY lang, shard
                            ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base
),
ffd AS (
  SELECT lang, shard, 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS fills
  FROM (SELECT DISTINCT lang, shard FROM docs)
  UNION ALL
  SELECT f.lang, f.shard, d.rn,
    CASE WHEN l.idx IS NULL THEN list_append(f.fills, d.n_tokens)
         ELSE list_transform(f.fills,
                (x, i) -> CASE WHEN i = l.idx THEN x + d.n_tokens ELSE x END)
    END
  FROM ffd f
  JOIN docs d ON d.lang = f.lang AND d.shard = f.shard AND d.rn = f.rn + 1,
  LATERAL (SELECT list_aggregate(
             list_transform(f.fills,
               (x, i) -> CASE WHEN x + d.n_tokens <= {seq_len} THEN i ELSE NULL END),
             'min') AS idx) l
)
SELECT lang, shard,
       CAST(len(fills) AS BIGINT) AS bins_used,
       CAST(list_aggregate(fills, 'max') AS BIGINT) AS max_fill,
       CAST(len(fills) * {seq_len} - list_aggregate(fills, 'sum') AS BIGINT)
         AS total_waste
FROM (SELECT *, row_number() OVER (PARTITION BY lang, shard
                                   ORDER BY rn DESC) AS rk FROM ffd)
WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# The full quality-filter stack as ONE job — the composition every
# pretraining pipeline actually runs: structural quality (length / word
# shape / stopwords), the Gopher battery, the repetition battery,
# character entropy, and unigram-LM fluency, joined per document with a
# per-filter verdict and the survivor flag. Each signal keeps its own
# oracle; this entry pins the COMPOSITION (doc_id joins, flag provenance)
# against one SQL statement. Scale: four of the five signals are
# zero-shuffle projections; unigram adds its vocab-keyed aggs; all joins
# ride doc_id (AQE-handled, same key).


def filter_stack(documents: DataFrame) -> DataFrame:
    """Scan economy (round 7): all five signals hang off the ONE memoized
    tokenized relation (:func:`_shared_token_relation`, carrying both the
    ``\\s+`` structural and ``[^a-z]+`` LM token arrays). The four per-row
    signals — quality, Gopher, repetition, entropy — are computed in a
    single zero-shuffle projection over it (sharing the exact expression
    builders the standalone operators use: :func:`_quality_struct`,
    :func:`_mean_word_len_q6` / :func:`_symbol_ratio_q6`,
    :func:`_rep_fracs`, :func:`_char_run_entropy_sum`), and the unigram-LM
    fluency signal explodes the cached ``_lm`` array — so the corpus is
    scanned and tokenized ONCE instead of five times (r6 verdict #1).

    Totality (r7, ADVICE): every doc_id appears exactly once. A document
    that produces no a-z tokens (unigram) or no non-space chars (entropy)
    gets an explicit failed verdict (0) instead of silently vanishing
    through an inner join; per-row flags null out only on degenerate
    division (empty text) and coalesce to failed."""
    toks = _shared_token_relation(documents)
    text = F.col("text")
    w = F.col("_w")
    ntok_d = F.size(w).cast("double")
    staged = toks.select(
        "doc_id",
        F.size(w).cast("long").alias("_nt"),
        _quality_struct(text, ntok_d).alias("_q"),
        _mean_word_len_q6(text, ntok_d).alias("_mwl"),
        _symbol_ratio_q6(text).alias("_sym"),
        _sorted_run_stats(F.array_sort(w)).alias("_grs"),
        _sorted_run_stats(F.array_sort(_ngram_array(w, 2))).alias("_r2"),
        _sorted_run_stats(F.array_sort(_ngram_array(w, 3))).alias("_r3"),
        _sorted_run_stats(F.array_sort(_span_array(w))).alias("_rsp"),
        n_spans_col(w).alias("_nsp"),
        _scored_chars().alias("_ch"),
    )
    folded = staged.select(
        "doc_id",
        "_nt",
        "_q",
        "_mwl",
        "_sym",
        "_grs",
        "_r2",
        "_r3",
        "_rsp",
        "_nsp",
        F.size("_ch").cast("long").alias("_chn"),
        _char_run_entropy_sum(F.col("_ch")).alias("_chs"),
    )
    flag = lambda cond: F.when(cond, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    top2, top3, dup_span = _rep_fracs(
        F.col("_r2"), F.col("_r3"), F.col("_rsp"), F.col("_nt"), F.col("_nsp")
    )
    ent = F.bround(F.log2("_chn") - F.col("_chs") / F.col("_chn"), 4)
    perrow = folded.select(
        "doc_id",
        flag(F.col("_q")["score"] >= QUALITY_KEEP_MIN).alias("quality_ok"),
        flag(
            F.col("_nt").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
            & F.col("_mwl").between(GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN)
            & (F.col("_sym") < GOPHER_MAX_SYMBOL_RATIO)
            & (q6(F.col("_grs")["max_run"] / F.col("_nt")) < GOPHER_MAX_TOP_TOKEN_FRAC)
        ).alias("gopher_ok"),
        flag(
            (top2 < REP_TOP2_MAX)
            & (top3 < REP_TOP3_MAX)
            & (dup_span < REP_DUP_SPAN_MAX)
        ).alias("repetition_ok"),
        flag((F.col("_chn") > 0) & (ent >= ENTROPY_LOW_BITS)).alias("entropy_ok"),
    )
    ug = unigram_logprob_score(
        documents, tokens=toks.select("doc_id", F.explode("_lm").alias("term"))
    ).select("doc_id", F.col("is_fluent").alias("_fl"))
    out = perrow.join(ug, "doc_id", "left")
    fluent = F.coalesce(F.col("_fl"), F.lit(0))
    n_failed = (
        F.lit(5)
        - F.col("quality_ok")
        - F.col("gopher_ok")
        - F.col("repetition_ok")
        - F.col("entropy_ok")
        - fluent
    )
    return out.select(
        "doc_id",
        "quality_ok",
        "gopher_ok",
        "repetition_ok",
        "entropy_ok",
        fluent.alias("fluent_ok"),
        n_failed.cast("int").alias("n_filters_failed"),
        (n_failed == 0).cast("int").alias("keep_all"),
    )


def filter_stack_sql() -> str:
    # LEFT joins from documents + COALESCE-to-failed: every doc_id appears
    # exactly once, with explicit 0 verdicts for signals the doc can't
    # produce (no a-z tokens → unigram; no non-space chars → entropy) and
    # for NULL keeps from degenerate division (empty text). Mirrors the
    # Spark side's totality contract.
    return f"""
WITH qs0 AS ({quality_score_sql()}),
qs AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS quality_ok FROM qs0),
gq0 AS ({gopher_quality_sql()}),
gq AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS gopher_ok FROM gq0),
rb0 AS ({repetition_battery_sql()}),
rb AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS repetition_ok FROM rb0),
ef0 AS ({entropy_filter_sql()}),
ef AS (SELECT doc_id, 1 - is_low_entropy AS entropy_ok FROM ef0),
ug0 AS ({unigram_logprob_score_sql()}),
ug AS (SELECT doc_id, is_fluent AS fluent_ok FROM ug0),
j AS (
  SELECT d.doc_id,
         COALESCE(qs.quality_ok, 0) AS quality_ok,
         COALESCE(gq.gopher_ok, 0) AS gopher_ok,
         COALESCE(rb.repetition_ok, 0) AS repetition_ok,
         COALESCE(ef.entropy_ok, 0) AS entropy_ok,
         COALESCE(ug.fluent_ok, 0) AS fluent_ok
  FROM documents d
  LEFT JOIN qs USING (doc_id) LEFT JOIN gq USING (doc_id)
  LEFT JOIN rb USING (doc_id) LEFT JOIN ef USING (doc_id)
  LEFT JOIN ug USING (doc_id)
)
SELECT doc_id, quality_ok, gopher_ok, repetition_ok, entropy_ok, fluent_ok,
       CAST(5 - quality_ok - gopher_ok - repetition_ok - entropy_ok - fluent_ok AS INT)
         AS n_filters_failed,
       CAST(CASE WHEN quality_ok + gopher_ok + repetition_ok + entropy_ok + fluent_ok = 5
            THEN 1 ELSE 0 END AS INT) AS keep_all
FROM j
"""


# ---------------------------------------------------------------------------
# Bigram-LM fluency — conditional log-probability under the corpus-fit
# bigram model: avg over positions of ln p(w_i | w_{i-1}) with
# p(w2|w1) = c(w1,w2)/c(w1·) from exact corpus counts. The next step up
# from unigram fluency (word-order sensitivity: scrambled text scores low
# even when its unigrams are common). Vocabulary²-bounded relations only;
# both count rollups get map-side combine.


def _lm_bigram_tf2(documents):
    """The SHARED memoized (doc_id, w1, w2, tf) bigram relation behind
    bigram_logprob_score / jm_fluency / kneser_ney_fluency: ONE
    definition so the three scorers build byte-identical plans and land
    on the same memo_persist('lm_tf2') cache entry — a drifted copy
    would silently degrade to three separate corpus-sized persisted
    relations (code-review r8)."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    # r14 optimization (guide §2.3/§4.1): the previous zip_with(slice, slice)
    # generator referenced the tokenization subtree FOUR times inside one
    # Generate expression — and lambda-bearing expressions are excluded from
    # codegen subexpression elimination, so every row paid 4 interpreted
    # regex splits + filters. Materialize the token array ONCE behind the
    # Generate boundary (the `_word_shingle_rows` pattern), explode
    # positions, and read bigrams with two cheap element_at lookups.
    # Identical rows (verified exceptAll both ways + oracle hash), ~20%
    # faster substrate at sf0.1, and 1 regex pass instead of 4 at any scale.
    w = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    toks = documents.select("doc_id", w.alias("_lm")).filter(F.size("_lm") >= 2)
    grams = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("_lm") - 1)).alias("_i"),
        "_lm",
    ).select(
        "doc_id",
        F.element_at("_lm", F.col("_i")).alias("w1"),
        F.element_at("_lm", F.col("_i") + 1).alias("w2"),
    )
    return memo_persist(
        "lm_tf2",
        grams.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf")),
    )


def _lm_c2(documents) -> DataFrame:
    """The SHARED memoized bigram-TYPE count relation (w1, w2, c12) over
    :func:`_lm_bigram_tf2`. r14 (guide §5 — cache when reuse beats
    recompute): the three bigram scorers each referenced the c2 rollup in
    several branches (c1, nl, the type-count action, the enriched join),
    and every reference re-aggregated the corpus-sized cached tf2 relation
    (measured: 3 redundant 256 K-row InMemoryTableScan + HashAggregate +
    Exchange chains inside one jm_fluency write at sf0.1 — 7.6 s → 5.0 s
    end-to-end once c2 is persisted). c2 is vocabulary-bounded, so the
    cache is small at any corpus scale while the avoided recomputes grow
    with the corpus."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    tf2 = _lm_bigram_tf2(documents)
    return memo_persist(
        "lm_c2", tf2.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    )


#: r9 verdict #3 — escape hatch for the LM-family pinned broadcasts: the
#: enriched bigram-TYPE relation saturates in the low millions for natural
#: single-language text (where broadcasting is exactly right and the r8
#: contract pins it), but a raw web-scale multilingual corpus can reach
#: 1e8-1e9 bigram types — hundreds of MB to GB, which an unconditional
#: F.broadcast() would ship to the driver and every executor instead of
#: falling back. Above this row cap the scorers leave the join un-hinted,
#: so it degrades to a vocab-KEYED shuffle join (both sides hash-partition
#: on (w1, w2); tf2 pays one extra shuffle but nothing collects anywhere).
VOCAB_BROADCAST_MAX_ROWS = 2_000_000


def _pin_vocab_build(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-pin a vocabulary-bounded build side only while it fits.

    ``n_rows`` is the caller's (conservative) row bound for the relation —
    the scorers pass the bigram-TYPE count, which upper-bounds every
    vocab relation they join (unigram vocab <= bigram vocab)."""
    if n_rows <= VOCAB_BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


def bigram_logprob_score(documents: DataFrame) -> DataFrame:
    tf2 = _lm_bigram_tf2(documents)
    c2 = _lm_c2(documents)
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = F.log(F.col("c12").cast("double") / F.col("c1"))
    # Enrich vocab-side FIRST (c1 into c2 — both vocabulary-bounded), then
    # ONE pinned-broadcast join against the corpus-sized tf2: at 100x the
    # corpus a planner fallback to shuffling tf2 per count-join would be
    # silent (r7 verdict #4) — the hint makes the vocab relations the
    # build side by contract, and tf2 never shuffles for scoring at all.
    # The type-count action rides the memoized tf2 relation and sizes the
    # guard (r9 verdict #3): past VOCAB_BROADCAST_MAX_ROWS the hint is
    # withheld and the scoring join shuffles on the vocab key instead.
    n_types = c2.count() or 1
    enriched = c2.join(_pin_vocab_build(c1, n_types), "w1").select(
        "w1", "w2", lp.alias("lp")
    )
    scored = tf2.join(_pin_vocab_build(enriched, n_types), ["w1", "w2"]).select(
        "doc_id", "tf", (F.col("tf") * F.col("lp")).alias("wlp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.bround(F.sum("wlp") / F.sum("tf"), 4).alias("avg_bigram_logprob"),
    )


def bigram_logprob_score_sql() -> str:
    return """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) r
), tf2 AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM grams GROUP BY doc_id, w1, w2
), c2 AS (SELECT w1, w2, SUM(tf) AS c12 FROM tf2 GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c2 GROUP BY w1)
SELECT tf2.doc_id,
       CAST(SUM(tf2.tf) AS BIGINT) AS n_bigrams,
       round_even(SUM(tf2.tf * ln(c2.c12::DOUBLE / c1.c1)) / SUM(tf2.tf), 4)
         AS avg_bigram_logprob
FROM tf2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY tf2.doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — the reproducible hash split every
# training pipeline needs: assignment from the md5 of doc_id (engine-
# portable integer arithmetic, no RNG, stable under reruns/retries/
# repartitioning), with a per-(lang, split) count report so mixture
# drift between splits is visible. The assignment itself is a zero-
# shuffle projection; the report is a tiny keyed agg.

SPLIT_VAL_PCT = 10
SPLIT_TEST_PCT = 10


def train_val_test_split(
    documents: DataFrame,
    val_pct: int = SPLIT_VAL_PCT,
    test_pct: int = SPLIT_TEST_PCT,
) -> DataFrame:
    """(lang, split, n_docs, n_tokens): per-language split report. The
    per-doc assignment: u = md5(doc_id) mod 100; test < test_pct ≤ val <
    test+val ≤ train."""
    from flink_streaming_etl_spark.functions import md5_int

    u = md5_int(F.col("doc_id").cast("string"), 8) % 100
    split = (
        F.when(u < test_pct, F.lit("test"))
        .when(u < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    return (
        documents.select("lang", split.alias("split"), toks.alias("t"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
        )
    )


def train_val_test_split_sql(
    val_pct: int = SPLIT_VAL_PCT, test_pct: int = SPLIT_TEST_PCT
) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    u = f"({md5_int_sql('CAST(doc_id AS VARCHAR)', 8)}) % 100"
    return rf"""
WITH tagged AS (
  SELECT lang,
         CASE WHEN {u} < {test_pct} THEN 'test'
              WHEN {u} < {test_pct} + {val_pct} THEN 'val'
              ELSE 'train' END AS split,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS t
  FROM documents
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS n_tokens
FROM tagged GROUP BY lang, split
"""


# ---------------------------------------------------------------------------
# Jelinek-Mercer interpolated LM fluency — avg ln(λ·p(w2|w1) +
# (1−λ)·p_uni(w2)) over bigram positions: the standard smoothing fix for
# the raw bigram score's brittleness on unseen-ish transitions (any
# observed bigram still interpolates toward the unigram marginal).
# Same vocabulary(²)-keyed relation shapes as bigram_logprob_score (all
# count rollups get map-side combine); the corpus token total is one
# collected scalar.

JM_LAMBDA = 0.7


def jm_fluency(documents: DataFrame, lam: float = JM_LAMBDA) -> DataFrame:
    w = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    tf2 = _lm_bigram_tf2(documents)
    c2 = _lm_c2(documents)
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # Unigram marginal WITHOUT a second corpus tokenization: every token
    # occurrence is either a w1 position of some bigram (counted by c1)
    # or its document's LAST token — so cu(w) = c1(w) + last_count(w),
    # where last_count is a cheap per-row element_at(-1) projection into
    # a vocabulary-keyed agg (single-token docs land here too). Exactly
    # the model the independent tokenize-and-count would fit.
    # try_element_at (r15, ADVICE): under Spark 4's ANSI default a plain
    # element_at(w, -1) THROWS for a document whose a-z token array is
    # empty (numeric/punctuation/non-Latin text); try_ returns NULL,
    # which the isNotNull filter below already handles.
    lasts = (
        documents.select(F.try_element_at(w, F.lit(-1)).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    uni = (
        c1.select(F.col("w1").alias("term"), F.col("c1").alias("cnt"))
        .unionByName(lasts.select("term", F.col("lc").alias("cnt")))
        .groupBy("term")
        .agg(F.sum("cnt").alias("cu"))
    )
    # ONE scalar action for both driver constants (r14, guide §1.2/§5):
    # the unigram grand total and the bigram-type count previously ran as
    # two separate jobs; a cross-joined pair of single-row aggregates
    # computes both in one job over the (already cached) tf2 relation.
    stats = (
        uni.agg(F.sum("cu").alias("_tot"))
        .crossJoin(c2.agg(F.count(F.lit(1)).alias("_nt")))
        .collect()[0]
    )
    total = stats["_tot"] or 1
    p_big = F.col("c12").cast("double") / F.col("c1")
    p_uni = F.col("cu").cast("double") / F.lit(float(total))
    lp = F.log(F.lit(float(lam)) * p_big + F.lit(1.0 - float(lam)) * p_uni)
    # Enrich vocab-side FIRST (c1 + uni into c2 — all vocabulary-bounded
    # joins), then ONE pinned-broadcast join against the corpus-sized tf2:
    # the r7 plan shuffled tf2 through three count-joins whenever AQE
    # declined to broadcast — at production scale that's three silent
    # corpus shuffles (r7 verdict #4). Same arithmetic, plan-pinned —
    # size-guarded past VOCAB_BROADCAST_MAX_ROWS bigram types (r9 #3).
    n_types = stats["_nt"] or 1
    enriched = (
        c2.join(_pin_vocab_build(c1, n_types), "w1")
        .join(_pin_vocab_build(uni, n_types), F.col("w2") == F.col("term"))
        .select("w1", "w2", lp.alias("lp"))
    )
    scored = tf2.join(_pin_vocab_build(enriched, n_types), ["w1", "w2"]).select(
        "doc_id", "tf", (F.col("tf") * F.col("lp")).alias("wlp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.bround(F.sum("wlp") / F.sum("tf"), 4).alias("avg_jm_logprob"),
    )


def jm_fluency_sql(lam: float = JM_LAMBDA) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) r
), tf2 AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM grams GROUP BY doc_id, w1, w2
), c2 AS (SELECT w1, w2, SUM(tf) AS c12 FROM tf2 GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c2 GROUP BY w1),
uni AS (
  SELECT t.term, COUNT(*) AS cu
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY t.term
), tt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni)
SELECT tf2.doc_id,
       CAST(SUM(tf2.tf) AS BIGINT) AS n_bigrams,
       round_even(SUM(tf2.tf * ln({lam} * (c2.c12::DOUBLE / c1.c1)
                                  + {1.0 - lam} * (uni.cu::DOUBLE / tt.t))) / SUM(tf2.tf), 4)
         AS avg_jm_logprob
FROM tf2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         JOIN uni ON tf2.w2 = uni.term, tt
GROUP BY tf2.doc_id
"""


# ---------------------------------------------------------------------------
# Kneser-Ney fluency (Kneser & Ney 1995; Chen & Goodman 1999's
# interpolated form) — the standard "best n-gram smoother" upgrade over
# Jelinek-Mercer: absolute-discount the bigram MLE and back off to the
# CONTINUATION probability (how many distinct contexts a word follows —
# "francisco" is frequent but only ever follows "san", so its
# continuation mass is tiny). For observed-position scoring:
#   p(w2|w1) = (c12 − D)/c1 + (D · Nr(w1)/c1) · (Nl(w2)/T)
# with Nr = distinct followers of w1, Nl = distinct predecessors of w2,
# T = distinct bigram types, D = 0.75 (the textbook discount). Every
# input is an exact integer from the SAME memoized tf2 relation the
# JM/bigram scores ride (no extra corpus pass); the scoring join follows
# the r8 broadcast contract (enrich vocab-side first, one pinned
# broadcast join against tf2).

KN_DISCOUNT = 0.75


def kneser_ney_fluency(
    documents: DataFrame, discount: float = KN_DISCOUNT
) -> DataFrame:
    tf2 = _lm_bigram_tf2(documents)
    c2 = _lm_c2(documents)
    c1 = c2.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nr")
    )
    nl = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nl"))
    t_types = c2.count() or 1  # scalar: distinct bigram types
    d = float(discount)
    lp = F.log(
        (F.col("c12").cast("double") - F.lit(d)) / F.col("c1")
        + (F.lit(d) * F.col("nr") / F.col("c1"))
        * (F.col("nl") / F.lit(float(t_types)))
    )
    # The t_types scalar doubles as the broadcast size guard (r9 #3):
    # it upper-bounds every vocab relation joined below.
    enriched = (
        c2.join(_pin_vocab_build(c1, t_types), "w1")
        .join(_pin_vocab_build(nl, t_types), "w2")
        .select("w1", "w2", lp.alias("lp"))
    )
    scored = tf2.join(_pin_vocab_build(enriched, t_types), ["w1", "w2"]).select(
        "doc_id", "tf", (F.col("tf") * F.col("lp")).alias("wlp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.bround(F.sum("wlp") / F.sum("tf"), 4).alias("avg_kn_logprob"),
    )


def kneser_ney_fluency_sql(discount: float = KN_DISCOUNT) -> str:
    d = float(discount)
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) r
), tf2 AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM grams GROUP BY doc_id, w1, w2
), c2 AS (SELECT w1, w2, SUM(tf) AS c12 FROM tf2 GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nr FROM c2 GROUP BY w1),
nl AS (SELECT w2, COUNT(*) AS nl FROM c2 GROUP BY w2),
tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c2)
SELECT tf2.doc_id,
       CAST(SUM(tf2.tf) AS BIGINT) AS n_bigrams,
       round_even(SUM(tf2.tf * ln((c2.c12::DOUBLE - {d}) / c1.c1
                                  + ({d} * c1.nr / c1.c1) * (nl.nl / tt.t)))
                  / SUM(tf2.tf), 4) AS avg_kn_logprob
FROM tf2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         JOIN nl USING (w2), tt
GROUP BY tf2.doc_id
"""


# ---------------------------------------------------------------------------
# Token-budget planning — given a training-token budget, allocate
# per-source token counts under temperature-flattened mixing (the same
# alpha rule as source_mixture_weights) with an epoch cap (no source
# repeats more than MAX_EPOCHS times, the public data-repetition
# guidance: repeating past a few epochs stops helping). Source-keyed
# arithmetic over a handful of rows — nothing scales with the corpus
# beyond the one token-count aggregation.

BUDGET_TOKENS = 1_000_000
BUDGET_MAX_EPOCHS = 4.0


def token_budget_plan(
    documents: DataFrame,
    budget: int = BUDGET_TOKENS,
    alpha: float = MIX_ALPHA,
    max_epochs: float = BUDGET_MAX_EPOCHS,
) -> DataFrame:
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    src = documents.select("source", toks.alias("_t")).groupBy("source").agg(
        F.sum("_t").alias("n_tokens")
    )
    tot = src.agg(
        F.sum("n_tokens").alias("_tot"),
    )
    powed = src.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("_tot"), F.lit(float(alpha))).alias("_pw"),
    )
    z = powed.agg(F.sum("_pw").alias("_z"))
    p = F.col("_pw") / F.col("_z")
    planned = F.least(
        F.lit(float(budget)) * p, F.lit(float(max_epochs)) * F.col("n_tokens")
    )
    return powed.join(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        q6(p).alias("mix_p"),
        q6(planned).alias("planned_tokens"),
        q6(planned / F.col("n_tokens")).alias("epochs"),
    )


def token_budget_plan_sql(
    budget: int = BUDGET_TOKENS,
    alpha: float = MIX_ALPHA,
    max_epochs: float = BUDGET_MAX_EPOCHS,
) -> str:
    planned = f"least({float(budget)} * (pw / z), {float(max_epochs)} * n_tokens)"
    return rf"""
WITH src AS (
  SELECT source,
         SUM(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS t FROM src),
powed AS (
  SELECT source, n_tokens, pow(n_tokens / tot.t::DOUBLE, {alpha}) AS pw
  FROM src, tot
), zs AS (SELECT SUM(pw) AS z FROM powed)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       {q6_sql("(pw / z)")} AS mix_p,
       {q6_sql(planned)} AS planned_tokens,
       {q6_sql(f"({planned}) / n_tokens")} AS epochs
FROM powed, zs
"""


# ---------------------------------------------------------------------------
# Heaps-law vocabulary report — per-source V = K·N^β diagnostics (token
# count, vocabulary size, implied β = ln V / ln N): the standard check
# that a source's vocabulary growth looks like natural text (β ≈ 0.5-0.6)
# rather than templated boilerplate (β → 0) or ID-noise (β → 1). Derived
# entirely from the memoized (source, term) count relation shared with
# source_kl_report — one vocabulary-sized aggregation, no second
# tokenization pass.


def _source_term_counts(documents: DataFrame) -> DataFrame:
    """(source, term, c_st) — the memoized substrate shared by
    source_kl_report and heaps_law_report (family ``source_term``)."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    tok = documents.select("source", F.explode(_lower_tokens()).alias("term"))
    return memo_persist(
        "source_term",
        tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st")),
    )


def heaps_law_report(documents: DataFrame) -> DataFrame:
    st = _source_term_counts(documents)
    n = F.sum("c_st")
    v = F.count(F.lit(1))
    return st.groupBy("source").agg(
        n.cast("long").alias("n_tokens"),
        v.cast("long").alias("vocab"),
        F.bround(F.log(v) / F.log(n), 4).alias("heaps_beta"),
    )


HEAPS_LAW_REPORT_SQL = """
WITH tok AS (
  SELECT source, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), st AS (
  SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY source, term
)
SELECT source,
       CAST(SUM(c_st) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       round_even(ln(COUNT(*)) / ln(SUM(c_st)), 4) AS heaps_beta
FROM st GROUP BY source
"""


# ---------------------------------------------------------------------------
# Prefix-duplicate drop — documents sharing an identical normalized
# 64-char prefix are near-certain template duplicates (mirrors, reposts
# with trailing edits); the cheapest dedup tier, run before MinHash.
# One shuffle on the prefix key (hashed to keep exchange rows narrow),
# keep-min-doc_id inside the same aggregation, then one equi join back —
# never an all-pairs form.

PREFIX_DUP_CHARS = 64


def prefix_dup_drop(
    documents: DataFrame, prefix_chars: int = PREFIX_DUP_CHARS
) -> DataFrame:
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    pre = documents.select(
        "doc_id", F.substring(norm, 1, prefix_chars).alias("_pfx")
    )
    grp = (
        pre.groupBy("_pfx")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("doc_id").alias("kept_doc_id"))
        .filter(F.col("_c") >= 2)
    )
    return (
        pre.join(grp, "_pfx")
        .filter(F.col("doc_id") != F.col("kept_doc_id"))
        .select("doc_id", "kept_doc_id", F.md5("_pfx").alias("prefix_hash"))
    )


def prefix_dup_drop_sql(prefix_chars: int = PREFIX_DUP_CHARS) -> str:
    norm = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    return f"""
WITH pre AS (
  SELECT doc_id, substring({norm}, 1, {prefix_chars}) AS pfx FROM documents
), grp AS (
  SELECT pfx, MIN(doc_id) AS kept_doc_id
  FROM pre GROUP BY pfx HAVING COUNT(*) >= 2
)
SELECT p.doc_id, g.kept_doc_id, md5(p.pfx) AS prefix_hash
FROM pre p JOIN grp g ON p.pfx = g.pfx
WHERE p.doc_id <> g.kept_doc_id
"""


# ---------------------------------------------------------------------------
# Language-ID confidence — the margin between the best and second-best
# marker scores, normalized: the signal a routing pipeline thresholds to
# decide "trust the cheap lang-ID" vs "escalate to a real classifier".
# Same marker arithmetic as lang_id (shared LANG_MARKERS), with the
# second-best read from a sorted 5-element array — all per-row codegen,
# zero shuffle.


def _lang_marker_scores() -> dict[str, Column]:
    """Per-language marker-score expressions over the ``text`` column —
    shared by :func:`lang_confidence` and the ccnet_pipeline fused scan
    (one definition, byte-identical expressions)."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    return {
        lang: sum([_count_sub(padded, m) for m in markers], F.lit(0).cast("double"))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_confidence(documents: DataFrame) -> DataFrame:
    scores = _lang_marker_scores()
    arr = F.array_sort(F.array(*scores.values()))
    best = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    staged = documents.select(
        "doc_id",
        pred.alias("predicted_lang"),
        best.alias("_b"),
        second.alias("_s"),
    )
    return staged.select(
        "doc_id",
        "predicted_lang",
        F.col("_b").cast("long").alias("top_score"),
        (F.col("_b") - F.col("_s")).cast("long").alias("margin"),
        q6((F.col("_b") - F.col("_s")) / (F.col("_b") + F.lit(1.0))).alias(
            "confidence"
        ),
    )


def lang_confidence_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    scores = {
        lang: "(" + " + ".join(_count_sub_sql(padded, m) for m in markers) + ")"
        for lang, markers in LANG_MARKERS.items()
    }
    arr = "list_sort([" + ", ".join(scores.values()) + "])"
    whens = " ".join(
        f"WHEN {scores[lang]} = arr[-1] AND arr[-1] > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"""
WITH scored AS (SELECT doc_id, text, {arr} AS arr FROM documents)
SELECT doc_id,
       CASE {whens} ELSE 'und' END AS predicted_lang,
       CAST(arr[-1] AS BIGINT) AS top_score,
       CAST(arr[-1] - arr[-2] AS BIGINT) AS margin,
       {q6_sql("(arr[-1] - arr[-2]) / (arr[-1] + 1.0)")} AS confidence
FROM scored
"""


# ---------------------------------------------------------------------------
# CCNet pipeline (Wenzek et al. 2020) — the full web-curation decision as
# ONE job: language-ID confidence gate, per-language LM-perplexity
# tercile (keep head+middle, drop tail), near-duplicate removal. Every
# stage rides a memoized relation (scored-lang for the terciles, the
# verified LSH pair relation for dedup), and the report is TOTAL: every
# doc_id appears with its per-stage verdicts (docs with no a-z tokens get
# bucket 'none' and fail the perplexity gate explicitly).

CCNET_CONF_MIN = 0.1


def ccnet_pipeline(
    documents: DataFrame,
    conf_min: float = CCNET_CONF_MIN,
    threshold: float = 0.05,
) -> DataFrame:
    from flink_streaming_etl_spark.operators.dedup import neardup_drop_list

    tag = perplexity_tagged(documents).select("doc_id", "bucket")
    drops = neardup_drop_list(documents, threshold).select(
        "doc_id", F.lit(1).alias("_dup")
    )
    # r15 (guide §2.4 — remove a join outright): confidence is a per-row
    # zero-shuffle projection of documents, so it is computed ON the base
    # scan instead of materializing lang_confidence as a second corpus-
    # sized relation and joining it back on doc_id. Same expressions
    # (shared _lang_marker_scores builder), identical confidence values;
    # the old inner join was 1:1 against an all-docs relation, so row
    # membership is unchanged.
    scores = _lang_marker_scores()
    arr = F.array_sort(F.array(*scores.values()))
    staged = documents.select(
        "doc_id",
        "lang",
        F.element_at(arr, -1).alias("_b"),
        F.element_at(arr, -2).alias("_s"),
    )
    base = staged.select(
        "doc_id",
        "lang",
        q6((F.col("_b") - F.col("_s")) / (F.col("_b") + F.lit(1.0))).alias(
            "confidence"
        ),
    )
    out = base.join(tag, "doc_id", "left").join(drops, "doc_id", "left")
    bucket = F.coalesce("bucket", F.lit("none"))
    lang_ok = (F.col("confidence") >= conf_min).cast("int")
    ppl_ok = bucket.isin("head", "middle").cast("int")
    is_dup = F.coalesce("_dup", F.lit(0)).cast("int")
    keep = ((lang_ok == 1) & (ppl_ok == 1) & (is_dup == 0)).cast("int")
    return out.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        "confidence",
        lang_ok.alias("lang_ok"),
        ppl_ok.alias("ppl_ok"),
        is_dup.alias("is_dup"),
        keep.alias("keep"),
    )


def ccnet_pipeline_sql(
    conf_min: float = CCNET_CONF_MIN, threshold: float = 0.05
) -> str:
    from flink_streaming_etl_spark.operators.dedup import minhash_lsh_pairs_sql

    return f"""
WITH scored0 AS ({unigram_logprob_score_sql()}),
scored AS (
  SELECT s.doc_id, d.lang, s.avg_logprob
  FROM scored0 s JOIN documents d ON s.doc_id = d.doc_id
),
hist AS (
  SELECT lang, avg_logprob, COUNT(*) AS freq FROM scored GROUP BY lang, avg_logprob
),
cum AS (
  SELECT lang, avg_logprob,
         SUM(freq) OVER (PARTITION BY lang ORDER BY avg_logprob
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumfreq,
         SUM(freq) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         MIN(CASE WHEN cumfreq >= CEIL(n / 3.0) THEN avg_logprob END) AS p33,
         MIN(CASE WHEN cumfreq >= CEIL(n * 2.0 / 3.0) THEN avg_logprob END) AS p67
  FROM cum GROUP BY lang
),
tag AS (
  SELECT s.doc_id,
         CASE WHEN s.avg_logprob <= c.p33 THEN 'tail'
              WHEN s.avg_logprob <= c.p67 THEN 'middle'
              ELSE 'head' END AS bucket
  FROM scored s JOIN cuts c ON s.lang = c.lang
),
conf0 AS ({lang_confidence_sql()}),
pairs AS ({minhash_lsh_pairs_sql(threshold)}),
drops AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
SELECT d.doc_id, d.lang,
       COALESCE(tag.bucket, 'none') AS bucket,
       conf0.confidence,
       CAST(CASE WHEN conf0.confidence >= {conf_min} THEN 1 ELSE 0 END AS INT) AS lang_ok,
       CAST(CASE WHEN COALESCE(tag.bucket, 'none') IN ('head', 'middle')
            THEN 1 ELSE 0 END AS INT) AS ppl_ok,
       CAST(CASE WHEN drops.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
       CAST(CASE WHEN conf0.confidence >= {conf_min}
                  AND COALESCE(tag.bucket, 'none') IN ('head', 'middle')
                  AND drops.doc_id IS NULL
            THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d
LEFT JOIN tag ON d.doc_id = tag.doc_id
JOIN conf0 ON d.doc_id = conf0.doc_id
LEFT JOIN drops ON d.doc_id = drops.doc_id
"""


# ---------------------------------------------------------------------------
# BPE first-iteration merge table — the most frequent adjacent character
# pairs across the corpus vocabulary, weighted by word frequency: exactly
# the statistic the first merge step of byte-pair-encoding training
# computes (Sennrich et al. 2016). Pair counting runs over the VOCABULARY
# (distinct words × their lengths), not the corpus: word frequencies come
# from the memoized tf relation, so the corpus-sized pass is shared.

BPE_TOP_PAIRS = 20


def bpe_first_merges(documents: DataFrame, k: int = BPE_TOP_PAIRS) -> DataFrame:
    from pyspark.sql.window import Window

    wc = (
        lm_tf_relation(_lm_tokens(documents))
        .groupBy("term")
        .agg(F.sum("tf").alias("wcount"))
    )
    chars = F.split(F.col("term"), "")
    pairs = wc.select(
        "wcount",
        F.explode(
            F.zip_with(
                F.slice(chars, 1, F.greatest(F.size(chars) - 1, F.lit(0))),
                F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0))),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("wcount").cast("long").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "pair", "n")
    )


def bpe_first_merges_sql(k: int = BPE_TOP_PAIRS) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), wc AS (SELECT term, SUM(tf) AS wcount FROM tf GROUP BY term),
pairs AS (
  SELECT wcount, term[i] || term[i + 1] AS pair
  FROM wc, LATERAL (SELECT UNNEST(range(1, length(term))) AS i) r
), counted AS (
  SELECT pair, CAST(SUM(wcount) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT rank, pair, n FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rank FROM counted
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Hashed bag-of-words vectors (feature hashing, Weinberger et al. 2009)
# — the text → vector-space bridge: every document becomes a sparse
# D-bucket vector of term frequencies, bucket = md5(term) mod D. Emitted
# SPARSE ((doc_id, bucket, weight) rows — exact integers, driver-
# hashable) so downstream dense assembly is one groupBy(doc_id) away;
# rides the memoized tf relation.

HASHED_BOW_DIM = 64


def hashed_bow_sparse(documents: DataFrame, dim: int = HASHED_BOW_DIM) -> DataFrame:
    from flink_streaming_etl_spark.functions import md5_int

    tf = lm_tf_relation(_lm_tokens(documents))
    bucket = (md5_int(F.col("term"), 8) % dim).cast("int")
    return (
        tf.select("doc_id", bucket.alias("bucket"), "tf")
        .groupBy("doc_id", "bucket")
        .agg(F.sum("tf").cast("long").alias("weight"))
    )


def hashed_bow_sparse_sql(dim: int = HASHED_BOW_DIM) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    bucket = f"CAST(({md5_int_sql('term', 8)}) % {dim} AS INT)"
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
)
SELECT doc_id, {bucket} AS bucket, CAST(SUM(tf) AS BIGINT) AS weight
FROM tf GROUP BY doc_id, {bucket}
"""


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs — pointwise mutual information of word pairs
# within documents, over the top-V vocabulary only (the WAND-class
# restriction that bounds pair volume: per-doc pairs ≤ C(V, 2) whatever
# the corpus size). Document-frequency based (presence, not counts), so
# every statistic is an exact integer and PMI = ln(df12·N/(df1·df2)) is
# a single transcendental on an exact rational, bround-4.

PMI_VOCAB_K = 100
PMI_MIN_PAIR_DF = 5
PMI_TOP_K = 20


def pmi_top_pairs(
    documents: DataFrame,
    vocab_k: int = PMI_VOCAB_K,
    min_pair_df: int = PMI_MIN_PAIR_DF,
    k: int = PMI_TOP_K,
) -> DataFrame:
    from pyspark.sql.window import Window

    tf = lm_tf_relation(_lm_tokens(documents))
    wv = Window.orderBy(F.desc("cnt"), F.asc("term"))
    top = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= vocab_k)
        .select("term")
    )
    docterm = tf.join(F.broadcast(top), "term").select("doc_id", "term")
    dfr = docterm.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # the corpus doc count is a collected scalar literal
    nd = float(documents.count())
    a = docterm.select("doc_id", F.col("term").alias("t1"))
    b = docterm.select("doc_id", F.col("term").alias("t2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("df12"))
        .filter(F.col("df12") >= min_pair_df)
    )
    j = (
        pairs.join(
            F.broadcast(dfr.select(F.col("term").alias("t1"), F.col("df_t").alias("df1"))),
            "t1",
        )
        .join(
            F.broadcast(dfr.select(F.col("term").alias("t2"), F.col("df_t").alias("df2"))),
            "t2",
        )
    )
    pmi = F.bround(
        F.log(
            F.col("df12").cast("double")
            * F.lit(nd)
            / (F.col("df1") * F.col("df2"))
        ),
        4,
    )
    wk = Window.orderBy(F.desc("pmi"), F.asc("t1"), F.asc("t2"))
    return (
        j.select("t1", "t2", F.col("df12").cast("long").alias("df12"), pmi.alias("pmi"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("rank", "t1", "t2", "df12", "pmi")
    )


def pmi_top_pairs_sql(
    vocab_k: int = PMI_VOCAB_K,
    min_pair_df: int = PMI_MIN_PAIR_DF,
    k: int = PMI_TOP_K,
) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), top AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY SUM(tf) DESC, term) AS rn
    FROM tf GROUP BY term
  ) WHERE rn <= {vocab_k}
), docterm AS (
  SELECT tf.doc_id, tf.term FROM tf SEMI JOIN top ON tf.term = top.term
), dfr AS (SELECT term, COUNT(*) AS df_t FROM docterm GROUP BY term),
nd AS (SELECT COUNT(*) AS n FROM documents),
pairs AS (
  SELECT a.term AS t1, b.term AS t2, COUNT(*) AS df12
  FROM docterm a JOIN docterm b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_pair_df}
), scored AS (
  SELECT p.t1, p.t2, CAST(p.df12 AS BIGINT) AS df12,
         round_even(ln(p.df12::DOUBLE * nd.n / (d1.df_t * d2.df_t)), 4) AS pmi
  FROM pairs p
  JOIN dfr d1 ON p.t1 = d1.term
  JOIN dfr d2 ON p.t2 = d2.term, nd
)
SELECT rank, t1, t2, df12, pmi FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, t1, t2) AS rank FROM scored
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Corpus bigram conditional entropy — H(W2|W1) and unigram H(W) in nats:
# the predictability statistic (low conditional entropy = templated /
# repetitive corpus; the gap H(W) − H(W2|W1) is the mutual information a
# bigram model exploits). One-row report from the vocabulary(²)-keyed
# count relations; exact integer counts into the entropy identities
# (H(W2|W1) = (Σ c12·ln(c1/c12))/T over bigram mass), bround-4.


def bigram_entropy_report(documents: DataFrame) -> DataFrame:
    # r14: riding the memoized tf2/c2 relations was measured under the full
    # bench methodology and REJECTED (1.8 s → 2.8 s at sf0.1): this report
    # is a one-shot consumer, so chaining it onto the tf2 → c2 cache pair
    # serializes two materialization barriers where the self-contained plan
    # runs all branches concurrently. Only the 4×-interpreted-tokenization
    # generator is fixed (position explode + element_at — the
    # _lm_bigram_tf2 rewrite, change #1), and the unigram counts derive
    # from c1 + per-doc last tokens instead of a second full-corpus explode.
    w = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    toks = documents.select("doc_id", w.alias("_lm")).filter(F.size("_lm") >= 2)
    grams = toks.select(
        F.explode(F.sequence(F.lit(1), F.size("_lm") - 1)).alias("_i"),
        "_lm",
    ).select(
        F.element_at("_lm", F.col("_i")).alias("w1"),
        F.element_at("_lm", F.col("_i") + 1).alias("w2"),
    )
    c2 = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    cond = (
        c2.join(c1, "w1")
        .agg(
            F.sum("c12").alias("_t"),
            F.sum(F.col("c12") * F.log(F.col("c1") / F.col("c12"))).alias("_h"),
        )
        .select(
            F.col("_t").cast("long").alias("n_bigrams"),
            F.bround(F.col("_h") / F.col("_t"), 4).alias("h_cond_nats"),
        )
    )
    # try_element_at (r15, ADVICE): ANSI-safe on token-less documents —
    # element_at(w, -1) would throw on an empty array; NULL is filtered.
    lasts = (
        documents.select(F.try_element_at(w, F.lit(-1)).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    uni = (
        c1.select(F.col("w1").alias("term"), F.col("c1").alias("cnt"))
        .unionByName(lasts.select("term", F.col("lc").alias("cnt")))
        .groupBy("term")
        .agg(F.sum("cnt").alias("c"))
    )
    hu = uni.agg(
        F.sum("c").alias("_t"),
        F.sum(F.col("c") * F.log("c")).alias("_s"),
    ).select(
        F.col("_t").cast("long").alias("n_tokens"),
        F.bround(F.log(F.col("_t")) - F.col("_s") / F.col("_t"), 4).alias(
            "h_unigram_nats"
        ),
    )
    return cond.crossJoin(hu).select(
        "n_tokens",
        "n_bigrams",
        "h_unigram_nats",
        "h_cond_nats",
        F.bround(F.col("h_unigram_nats") - F.col("h_cond_nats"), 4).alias(
            "mutual_info_nats"
        ),
    )


BIGRAM_ENTROPY_REPORT_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS w
  FROM documents
), grams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) r
), c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c2 GROUP BY w1),
cond AS (
  SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams,
         round_even(SUM(c12 * ln(c1.c1::DOUBLE / c12)) / SUM(c12), 4) AS h_cond_nats
  FROM c2 JOIN c1 USING (w1)
),
uni AS (
  SELECT t.term, COUNT(*) AS c
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY t.term
),
hu AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
         round_even(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS h_unigram_nats
  FROM uni
)
SELECT hu.n_tokens, cond.n_bigrams, hu.h_unigram_nats, cond.h_cond_nats,
       round_even(hu.h_unigram_nats - cond.h_cond_nats, 4) AS mutual_info_nats
FROM cond, hu
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): hash every k-gram of the normalized character stream, then
# keep the RIGHTMOST MINIMAL hash of each sliding window of w consecutive
# hashes. Guarantees every shared substring of length >= w + k - 1
# produces a shared fingerprint, with expected density 2/(w+1) — the
# position-robust complement to fixed-boundary chunk dedup. Engine-exact:
# md5-derived 40-bit integer hashes, tie-break encoded arithmetically
# (combined = h·2^23 + (2^23−1−pos), so min() picks min-hash-then-
# rightmost-pos in one fold). One shuffle on doc_id for the per-doc
# ordered window; fingerprint volume ≈ 2/(w+1) of the character count.

WINNOW_K = 8
WINNOW_W = 4
# 40-bit hash + 23-bit position fills signed int64 EXACTLY:
# (2^40−1)·2^23 + (2^23−1) = 2^63−1. Docs must stay < 2^23 (8.4M)
# normalized chars — ENFORCED with an engine-side error (ADVICE r7: the
# old least(pos, cap) silently saturated, degrading rightmost-min
# tie-breaking to leftmost-among-saturated on huge docs).
_WINNOW_POS_BITS = 23


def winnow_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    from pyspark.sql.window import Window

    from flink_streaming_etl_spark.functions import md5_int

    m = 1 << _WINNOW_POS_BITS
    s = F.regexp_replace(F.lower("text"), "[^a-z]", "")
    base = documents.select("doc_id", s.alias("s")).filter(
        F.length("s") >= k + w - 1
    )
    kgrams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("s") - k + 1)).alias("pos"),
        F.col("s"),
    ).select(
        "doc_id",
        "pos",
        (
            md5_int(F.expr(f"substring(s, pos, {k})"), 10) * m
            + (
                F.lit(m - 1)
                - F.when(F.col("pos") <= m - 1, F.col("pos")).otherwise(
                    F.raise_error(
                        F.lit(
                            f"winnow_fingerprints: doc exceeds 2^{_WINNOW_POS_BITS}"
                            " normalized chars — split or pre-chunk it"
                        )
                    ).cast("int")
                )
            )
        ).alias("combined"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    sel = (
        kgrams.select(
            "doc_id",
            F.min("combined").over(frame).alias("wmin"),
            F.count(F.lit(1)).over(frame).alias("_cnt"),
        )
        .filter(F.col("_cnt") == w)  # full windows only
        .select("doc_id", "wmin")
        .distinct()
    )
    # Decode with EXACT integer ops: `wmin / m` is DOUBLE division in both
    # engines and silently corrupts 63-bit combined values (53-bit double
    # mantissa) — shiftright/`>>` recovers the hash exactly.
    return sel.select(
        "doc_id",
        F.shiftright(F.col("wmin"), _WINNOW_POS_BITS).cast("long").alias("fp"),
        (F.lit(m - 1) - F.col("wmin") % m).cast("long").alias("pos"),
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    m = 1 << _WINNOW_POS_BITS
    h = md5_int_sql(f"substring(s, CAST(pos AS INT), {k})", 10)
    return f"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS s
  FROM documents
), kgrams AS (
  SELECT doc_id, pos,
         {h} * {m} + ({m - 1} - CASE WHEN pos <= {m - 1} THEN pos
           ELSE error('winnow_fingerprints: doc exceeds position cap') END)
           AS combined
  FROM base, LATERAL (SELECT UNNEST(range(1, len(s) - {k} + 2)) AS pos) r
  WHERE len(s) >= {k + w - 1}
), sel AS (
  SELECT DISTINCT doc_id, wmin FROM (
    SELECT doc_id,
           MIN(combined) OVER fr AS wmin,
           COUNT(*) OVER fr AS cnt
    FROM kgrams
    WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
  ) WHERE cnt = {w}
)
SELECT doc_id,
       CAST(wmin >> {_WINNOW_POS_BITS} AS BIGINT) AS fp,
       CAST({m - 1} - wmin % {m} AS BIGINT) AS pos
FROM sel
"""


# ---------------------------------------------------------------------------
# Winnow duplicate pairs — documents sharing >= min_shared winnowing
# fingerprints: the alignment-free near-dup detector (robust to
# insertions/shifts that break fixed-boundary chunking). Same bounded
# shape as media_chunk_dedup: fingerprint equi-join, never all-pairs,
# hot fingerprints (> owner_cap docs — boilerplate) dropped before the
# join so per-key fanout is capped.

WINNOW_OWNER_CAP = 50
WINNOW_MIN_SHARED = 2


def _winnow_fp_set(documents: DataFrame, k: int, w: int) -> DataFrame:
    """Memoized distinct (doc_id, fp) winnow fingerprint set. r14 (guide
    §5): the winnow substrate (per-character-position md5 + sliding-window
    min) is the most expensive text pass; winnow_dup_pairs consumed it
    twice (owner count + pair semi-join) and winnow_containment_pairs
    three times (+ the per-doc fp count), each a full recompute."""
    from flink_streaming_etl_spark.operators._cache import memo_persist

    return memo_persist(
        "winnow_fps",
        winnow_fingerprints(documents, k, w).select("doc_id", "fp").distinct(),
    )


def winnow_dup_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    owner_cap: int = WINNOW_OWNER_CAP,
) -> DataFrame:
    fps = _winnow_fp_set(documents, k, w)
    owners = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_own"))
        .filter((F.col("_own") >= 2) & (F.col("_own") <= owner_cap))
        .select("fp")
    )
    keyed = fps.join(owners, "fp", "left_semi")
    a = keyed.select(F.col("doc_id").alias("a_id"), "fp")
    b = keyed.select(F.col("doc_id").alias("b_id"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnow_dup_pairs_sql(
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    owner_cap: int = WINNOW_OWNER_CAP,
) -> str:
    return f"""
WITH allfp AS ({winnow_fingerprints_sql(k, w)}),
fps AS (SELECT DISTINCT doc_id, fp FROM allfp),
owners AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND {owner_cap}
),
keyed AS (SELECT f.doc_id, f.fp FROM fps f SEMI JOIN owners o ON f.fp = o.fp)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM keyed a JOIN keyed b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine pairs — lexical near-dup scoring in the
# stopword-capped tf-idf space: terms appearing in more than
# df_frac_cap of documents are dropped (they are stopwords — they
# dominate the posting-list join quadratically while carrying ~zero idf
# weight), document vectors live over the surviving vocabulary, and
# pair scores come from a term-keyed posting-list join (never
# all-pairs). The df cap IS the scale bound: per-term pair volume is
# <= (df_frac_cap·N)² only for terms at the cap, and idf-weighting
# makes those terms nearly weightless anyway.

TFIDF_DF_FRAC_CAP = 0.33
TFIDF_COS_THRESHOLD = 0.5


def tfidf_cosine_pairs(
    documents: DataFrame,
    df_frac_cap: float = TFIDF_DF_FRAC_CAP,
    threshold: float = TFIDF_COS_THRESHOLD,
) -> DataFrame:
    n_docs = documents.count()
    cap = int(df_frac_cap * n_docs)
    tf = lm_tf_relation(_lm_tokens(documents))
    dfr = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter((F.col("df_t") >= 2) & (F.col("df_t") <= cap))
    )
    from flink_streaming_etl_spark.operators._cache import memo_persist

    # r14 (guide §5): wvec feeds the norm rollup AND both pair self-join
    # sides — memo-persisted so the tf-idf weighting join runs once, not
    # three times.
    wvec = memo_persist(
        "tfidf_wvec",
        tf.join(dfr, "term").select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t"))).alias("wt"),
        ),
    )
    norms = wvec.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = wvec.select(F.col("doc_id").alias("a_id"), "term", F.col("wt").alias("wa"))
    b = wvec.select(F.col("doc_id").alias("b_id"), "term", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("b_id"), F.col("nrm").alias("nb"))
    cos = F.bround(F.col("dot") / (F.col("na") * F.col("nb")), 4)
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select("a_id", "b_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def tfidf_cosine_pairs_sql(
    df_frac_cap: float = TFIDF_DF_FRAC_CAP,
    threshold: float = TFIDF_COS_THRESHOLD,
) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), nd AS (SELECT COUNT(*) AS n FROM documents),
dfr AS (
  SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
  HAVING COUNT(*) >= 2
     AND COUNT(*) <= (SELECT CAST(FLOOR({df_frac_cap} * n) AS BIGINT) FROM nd)
),
wvec AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((SELECT n FROM nd)::DOUBLE / dfr.df_t) AS wt
  FROM tf JOIN dfr USING (term)
),
norms AS (SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM wvec GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.wt * b.wt) AS dot
  FROM wvec a JOIN wvec b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.a_id, d.b_id,
       round_even(d.dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots d JOIN norms na ON d.a_id = na.doc_id
            JOIN norms nb ON d.b_id = nb.doc_id
WHERE round_even(d.dot / (na.nrm * nb.nrm), 4) >= {threshold}
"""


# ---------------------------------------------------------------------------
# Zipf fit report — OLS of ln(frequency) on ln(rank) over the top-R
# vocabulary: natural corpora fit slope ≈ −1 (Zipf's law); a flat slope
# flags templated/synthetic text, a cliff flags boilerplate domination.
# The companion statistic to heaps_law_report. Vocabulary-sized rollup,
# one R-row window, closed-form OLS in one aggregation — nothing scales
# with the corpus beyond the shared tf relation.

ZIPF_TOP_R = 500


def zipf_fit_report(documents: DataFrame, top_r: int = ZIPF_TOP_R) -> DataFrame:
    from pyspark.sql.window import Window

    tf = lm_tf_relation(_lm_tokens(documents))
    wv = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= top_r)
        .select(
            F.log(F.col("rn").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return agg.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.bround(slope, 4).alias("zipf_slope"),
        F.bround(intercept, 4).alias("zipf_intercept"),
        F.bround(r2, 4).alias("r_squared"),
    )


def zipf_fit_report_sql(top_r: int = ZIPF_TOP_R) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), ranked AS (
  SELECT ln(rn::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM (
    SELECT SUM(tf) AS cnt,
           row_number() OVER (ORDER BY SUM(tf) DESC, term) AS rn
    FROM tf GROUP BY term
  ) WHERE rn <= {top_r}
), agg AS (
  SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round_even((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
       round_even((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS zipf_intercept,
       round_even((n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r_squared
FROM agg
"""


# ---------------------------------------------------------------------------
# Exact doc-length percentiles per source — nearest-rank (no
# interpolation: the value AT row ceil(q·n) of the sorted order, a
# definition every engine computes identically — interpolating
# percentile functions differ across engines and are banned from
# oracle-compared outputs). One shuffle on source; the window runs over
# per-source partitions, never a global sort.


def doclen_percentile_report(documents: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    t = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    base = documents.select("doc_id", "source", t.alias("t"))
    wr = Window.partitionBy("source").orderBy("t", "doc_id")
    wn = Window.partitionBy("source")
    ranked = base.select(
        "source",
        "t",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(q: float) -> F.Column:
        return F.min(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("t"))
        )

    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        at(0.25).alias("p25_tokens"),
        at(0.50).alias("p50_tokens"),
        at(0.75).alias("p75_tokens"),
        at(0.95).alias("p95_tokens"),
        F.bround(F.sum("t") / F.count(F.lit(1)), 4).alias("mean_tokens"),
    )


DOCLEN_PERCENTILE_REPORT_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS t
  FROM documents
), ranked AS (
  SELECT source, t,
         row_number() OVER (PARTITION BY source ORDER BY t, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM base
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       MIN(CASE WHEN rn = CEIL(0.25::DOUBLE * n) THEN t END) AS p25_tokens,
       MIN(CASE WHEN rn = CEIL(0.50::DOUBLE * n) THEN t END) AS p50_tokens,
       MIN(CASE WHEN rn = CEIL(0.75::DOUBLE * n) THEN t END) AS p75_tokens,
       MIN(CASE WHEN rn = CEIL(0.95::DOUBLE * n) THEN t END) AS p95_tokens,
       round_even(SUM(t) / COUNT(*)::DOUBLE, 4) AS mean_tokens
FROM ranked GROUP BY source
"""


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage — for a top-V corpus-frequency
# vocabulary (the stand-in for a trained tokenizer's word list), the
# fraction of token OCCURRENCES it covers per source, and the OOV rate:
# the standard tokenizer-fit diagnostic before committing a vocab to a
# training run. The vocabulary relation is V rows (broadcast); coverage
# is one semi-join-tagged aggregation over the shared tf relation —
# vocabulary-keyed, map-side combinable, no corpus re-scan.

VOCAB_COVERAGE_K = 1000


def tokenizer_vocab_coverage(
    documents: DataFrame, vocab_k: int = VOCAB_COVERAGE_K
) -> DataFrame:
    from pyspark.sql.window import Window

    tf = lm_tf_relation(_lm_tokens(documents))
    wv = Window.orderBy(F.desc("cnt"), F.asc("term"))
    top = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= vocab_k)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    src = documents.select("doc_id", "source")
    tagged = (
        tf.join(F.broadcast(top), "term", "left")
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab") == 1, F.col("tf")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.count_distinct(
                F.when(F.col("_in_vocab").isNull(), F.col("term"))
            ).cast("long").alias("oov_terms"),
        )
    )
    cov = F.col("covered_tokens").cast("double") / F.col("n_tokens")
    return tagged.select(
        "source",
        "n_tokens",
        "covered_tokens",
        "oov_terms",
        F.bround(cov, 4).alias("coverage"),
        F.bround(1.0 - cov, 4).alias("oov_rate"),
    )


def tokenizer_vocab_coverage_sql(vocab_k: int = VOCAB_COVERAGE_K) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), top AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY SUM(tf) DESC, term) AS rn
    FROM tf GROUP BY term
  ) WHERE rn <= {vocab_k}
), tagged AS (
  SELECT d.source, tf.term, tf.tf,
         CASE WHEN top.term IS NOT NULL THEN 1 END AS in_vocab
  FROM tf JOIN documents d ON tf.doc_id = d.doc_id
  LEFT JOIN top ON tf.term = top.term
), agg AS (
  SELECT source,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN in_vocab = 1 THEN tf ELSE 0 END) AS BIGINT)
           AS covered_tokens,
         CAST(COUNT(DISTINCT CASE WHEN in_vocab IS NULL THEN term END) AS BIGINT)
           AS oov_terms
  FROM tagged GROUP BY source
)
SELECT source, n_tokens, covered_tokens, oov_terms,
       round_even(covered_tokens::DOUBLE / n_tokens, 4) AS coverage,
       round_even(1.0 - covered_tokens::DOUBLE / n_tokens, 4) AS oov_rate
FROM agg
"""


# ---------------------------------------------------------------------------
# Full BPE merge-table training (Sennrich et al. 2016) — the iterative
# continuation of bpe_first_merges: greedily merge the most frequent
# adjacent symbol pair, re-count, repeat for n_merges rounds. The
# corpus-sized work (word frequencies) is ONE distributed aggregation
# over the shared tf relation; the training loop then runs driver-side
# over the COLLECTED top-V word-frequency table — vocabulary-bounded
# (the standard practice: BPE trains on a capped word vocabulary, not
# the corpus), so the loop's cost is independent of corpus size.
# Deterministic tie-break: count desc, then pair lexicographic.
# Iterative — no SQL oracle; Sennrich's worked example is pinned in
# tests/test_round7.py.

BPE_TRAIN_MERGES = 50
BPE_TRAIN_VOCAB_CAP = 50_000


def bpe_train_merges(
    documents: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    vocab_cap: int = BPE_TRAIN_VOCAB_CAP,
) -> DataFrame:
    from pyspark.sql.window import Window

    wv = Window.orderBy(F.desc("wcount"), F.asc("term"))
    vocab_rows = (
        lm_tf_relation(_lm_tokens(documents))
        .groupBy("term")
        .agg(F.sum("tf").alias("wcount"))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= vocab_cap)
        .select("term", "wcount")
        .collect()  # vocabulary-bounded, never corpus-bounded
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["term"]): int(r["wcount"]) for r in vocab_rows
    }
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((rank, a, b, n))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, freq in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    spark = documents.sparkSession
    return spark.createDataFrame(
        merges, "rank int, left string, right string, n long"
    )


def bpe_train_merges_sql(
    n_merges: int = BPE_TRAIN_MERGES, vocab_cap: int = BPE_TRAIN_VOCAB_CAP
) -> str:
    """Exact DuckDB oracle for :func:`bpe_train_merges` (r14, r13
    verdict #5 — the registry's last iterative rows-only entry with an
    expressible oracle). The training loop is UNROLLED: one (best-pair,
    re-tokenize) CTE stage per merge rank, per-symbol ROWS as the vocab
    state (no list lambdas — DuckDB 1.0 has no 3-arg list_reduce):

    - ``b{{i}}``: weighted adjacent-pair counts over ``v{{i-1}}`` via one
      lead() window + group-by, argmax with the Python loop's exact
      tiebreak (n DESC, left, right) and its ``n >= 2`` stop rule — an
      empty ``b{{i}}`` leaves the vocab unchanged, so all later stages
      stay empty too (the loop's break).
    - ``g{{i}}``/``v{{i}}``: non-overlapping left-to-right replacement as
      window algebra — eligible positions alternate inside each
      gaps-and-islands run of consecutive eligible pairs (merge at odd
      in-run index), the following row is consumed via lag(), and
      positions renumber. Identical-sequence regrouping is skipped: it
      only sums freqs the pair counter would sum anyway.

    ``MATERIALIZED`` pins each stage so the 50-deep chain doesn't
    inline exponentially. ~2.4 s at the sf0.01 gate."""
    parts = [f"""
WITH tf AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS wcount
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY t.term
),
vocab AS (
  SELECT term, wcount, rn AS word_id FROM (
    SELECT term, wcount,
           row_number() OVER (ORDER BY wcount DESC, term) AS rn
    FROM tf)
  WHERE rn <= {vocab_cap}
),
v0 AS MATERIALIZED (
  SELECT word_id, wcount AS freq,
         g.i AS pos, substring(term, g.i, 1) AS sym
  FROM vocab, LATERAL (SELECT UNNEST(range(1, length(term) + 1)) AS i) g
)"""]
    for i in range(1, n_merges + 1):
        parts.append(f""",
p{i} AS (
  SELECT word_id, freq, pos, sym,
         lead(sym) OVER (PARTITION BY word_id ORDER BY pos) AS nxt
  FROM v{i - 1}
),
b{i} AS MATERIALIZED (
  SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS n
  FROM p{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt HAVING SUM(freq) >= 2
  ORDER BY n DESC, l, r LIMIT 1
),
g{i} AS (
  SELECT *, COALESCE(elig AND (row_number() OVER (
      PARTITION BY word_id, pos - re ORDER BY pos) % 2 = 1), FALSE) AS do_merge
  FROM (
    SELECT *, CASE WHEN elig THEN row_number() OVER (
        PARTITION BY word_id, elig ORDER BY pos) END AS re
    FROM (
      SELECT p.word_id, p.freq, p.pos, p.sym, p.nxt,
             COALESCE(p.sym = b.l AND p.nxt = b.r, FALSE) AS elig
      FROM p{i} p LEFT JOIN b{i} b ON TRUE))
),
v{i} AS MATERIALIZED (
  SELECT word_id, freq,
         row_number() OVER (PARTITION BY word_id ORDER BY pos) AS pos, sym
  FROM (
    SELECT word_id, freq, pos,
           CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym,
           lag(do_merge) OVER (PARTITION BY word_id ORDER BY pos) AS pm
    FROM g{i})
  WHERE pm IS NULL OR NOT pm
)""")
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INT) AS "rank", l AS "left", r AS "right", n '
        f"FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


# ---------------------------------------------------------------------------
# Linear quality classifier — the fastText-shaped inference pattern over
# the hashed bag-of-words space: score = sigmoid(Σ_b tf_b · w_b / T)
# with a BROADCAST weight vector (the 100-TB classifier-inference shape:
# weights ship to every executor once, scoring is one vocabulary-free
# sparse dot product + sigmoid — zero shuffle beyond the bow rollup).
# Weights here are deterministic md5-derived stand-ins (the container has
# no trained model); every pre-sigmoid quantity is an EXACT integer
# (tf · milli-weight), so both engines feed the same exact rational into
# one exp().

CLASSIFIER_SCALE = 1000.0


def linear_quality_classifier(
    documents: DataFrame, dim: int = HASHED_BOW_DIM
) -> DataFrame:
    from flink_streaming_etl_spark.functions import md5_int

    bow = hashed_bow_sparse(documents, dim)
    spark = documents.sparkSession
    wrows = [(b,) for b in range(dim)]
    wdf = spark.createDataFrame(wrows, "bucket int").select(
        "bucket",
        (md5_int(F.concat(F.lit("w:"), F.col("bucket").cast("string")), 8) % 2001
         - 1000).alias("w_milli"),
    )
    scored0 = (
        bow.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("weight").cast("long").alias("n_tokens"),
            F.sum(F.col("weight") * F.col("w_milli")).cast("long").alias("raw_milli"),
        )
    )
    # TOTAL report: a doc with no a-z tokens still appears (zero vector →
    # raw 0 → sigmoid 0.5), the filter_stack totality rule
    scored = (
        documents.select("doc_id")
        .join(scored0, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("raw_milli", F.lit(0)).alias("raw_milli"),
        )
    )
    x = F.col("raw_milli").cast("double") / (
        F.lit(CLASSIFIER_SCALE) * F.greatest(F.col("n_tokens"), F.lit(1))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-x))
    return scored.select(
        "doc_id",
        "n_tokens",
        "raw_milli",
        F.bround(prob, 6).alias("prob_keep"),
        (F.bround(prob, 6) >= 0.5).cast("int").alias("keep"),
    )


def linear_quality_classifier_sql(dim: int = HASHED_BOW_DIM) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    bucket = f"CAST(({md5_int_sql('term', 8)}) % {dim} AS INT)"
    w = md5_int_sql("'w:' || CAST(bucket AS VARCHAR)", 8)
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> '' GROUP BY doc_id, t.term
), bow AS (
  SELECT doc_id, {bucket} AS bucket, CAST(SUM(tf) AS BIGINT) AS weight
  FROM tf GROUP BY doc_id, {bucket}
), wdf AS (
  SELECT bucket, ({w}) % 2001 - 1000 AS w_milli
  FROM (SELECT UNNEST(range(0, {dim})) AS bucket)
), scored0 AS (
  SELECT doc_id,
         CAST(SUM(weight) AS BIGINT) AS n_tokens,
         CAST(SUM(weight * w_milli) AS BIGINT) AS raw_milli
  FROM bow JOIN wdf USING (bucket) GROUP BY doc_id
), scored AS (
  SELECT d.doc_id,
         COALESCE(s.n_tokens, 0) AS n_tokens,
         COALESCE(s.raw_milli, 0) AS raw_milli
  FROM documents d LEFT JOIN scored0 s ON d.doc_id = s.doc_id
)
SELECT doc_id, n_tokens, raw_milli,
       round_even(1.0 / (1.0 + exp(-(raw_milli::DOUBLE
                  / ({CLASSIFIER_SCALE} * GREATEST(n_tokens, 1))))), 6) AS prob_keep,
       CAST(round_even(1.0 / (1.0 + exp(-(raw_milli::DOUBLE
                  / ({CLASSIFIER_SCALE} * GREATEST(n_tokens, 1))))), 6) >= 0.5
            AS INT) AS keep
FROM scored
"""


# ---------------------------------------------------------------------------
# Winnow containment pairs — Broder containment scored over winnowing
# fingerprints: shared_fps / min(|fps_a|, |fps_b|), catching a SHORT
# document embedded inside a LONG one (plain resemblance dilutes subset
# matches by the long side's size; containment does not) with
# winnowing's alignment-free guarantee. Same bounded join as
# winnow_dup_pairs plus two broadcast-joined per-doc fingerprint counts.

WINNOW_MIN_CONTAINMENT = 0.5


def winnow_containment_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    owner_cap: int = WINNOW_OWNER_CAP,
    min_containment: float = WINNOW_MIN_CONTAINMENT,
) -> DataFrame:
    fps = _winnow_fp_set(documents, k, w)
    counts = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    pairs = winnow_dup_pairs(documents, k, w, min_shared, owner_cap)
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("n_fp").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("n_fp").alias("nb"))
    containment = F.bround(
        F.col("shared_fps").cast("double")
        / F.least(F.col("na"), F.col("nb")),
        4,
    )
    return (
        pairs.join(ca, "a_id")
        .join(cb, "b_id")
        .select("a_id", "b_id", "shared_fps", containment.alias("containment"))
        .filter(F.col("containment") >= min_containment)
    )


def winnow_containment_pairs_sql(
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    owner_cap: int = WINNOW_OWNER_CAP,
    min_containment: float = WINNOW_MIN_CONTAINMENT,
) -> str:
    return f"""
WITH allfp AS ({winnow_fingerprints_sql(k, w)}),
fps AS (SELECT DISTINCT doc_id, fp FROM allfp),
counts AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
owners AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND {owner_cap}
),
keyed AS (SELECT f.doc_id, f.fp FROM fps f SEMI JOIN owners o ON f.fp = o.fp),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM keyed a JOIN keyed b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_shared}
)
SELECT p.a_id, p.b_id, p.shared_fps,
       round_even(p.shared_fps::DOUBLE / LEAST(ca.n_fp, cb.n_fp), 4)
         AS containment
FROM pairs p JOIN counts ca ON p.a_id = ca.doc_id
             JOIN counts cb ON p.b_id = cb.doc_id
WHERE round_even(p.shared_fps::DOUBLE / LEAST(ca.n_fp, cb.n_fp), 4)
      >= {min_containment}
"""


# ---------------------------------------------------------------------------
# Held-out perplexity — the leakage-free LM eval: fit an add-1-smoothed
# unigram model on the TRAIN split only (same md5 hash split rule as
# train_val_test_split), score the val and test splits against it, and
# report per-split NLL/perplexity. Unseen words hit the Laplace floor
# 1/(T+V+1) — the +1 "vocabulary slot" for OOV. The train counts are one
# vocabulary-keyed aggregation; scoring is a term equi-join with the
# broadcast-scale count relation; every probability is an exact-integer
# rational into one ln(), summed per split (bround-4, the same
# corpus-level-sum discipline as source_kl_report).


def heldout_perplexity_report(
    documents: DataFrame,
    val_pct: int = SPLIT_VAL_PCT,
    test_pct: int = SPLIT_TEST_PCT,
) -> DataFrame:
    from flink_streaming_etl_spark.functions import md5_int

    u = md5_int(F.col("doc_id").cast("string"), 8) % 100
    split = (
        F.when(u < test_pct, F.lit("test"))
        .when(u < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    tagged = documents.select("doc_id", split.alias("split"), "text")
    toks = tagged.select(
        "split",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("term"),
    )
    tf = toks.groupBy("split", "term").agg(F.count(F.lit(1)).alias("tf"))
    train = tf.filter(F.col("split") == "train").select(
        "term", F.col("tf").alias("c")
    )
    # r15 (guide §1.2): T and V used to be a collected .first() — a whole
    # extra tokenize+count pass before the main query (tf is not cached
    # here). Folding them in as a single-row broadcast aggregate removes
    # the action AND that full corpus pass; denom = T + V + 1 is the same
    # exact-integer sum cast to double.
    totals = train.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("_t"),
        F.count(F.lit(1)).alias("_v"),
    )
    denom = (F.col("_t") + F.col("_v") + F.lit(1)).cast("double")
    # crossJoin BEFORE the left join (both sides here are vocabulary-
    # bounded count relations, never corpus-sized): folding T/V into the
    # broadcast side of the LEFT join would leave OOV rows with NULL
    # totals.
    heldout = tf.filter(F.col("split") != "train").crossJoin(
        F.broadcast(totals)
    )
    # train counts are vocabulary-bounded — pin broadcast (r7 verdict #4)
    joined = heldout.join(F.broadcast(train), "term", "left")
    # p = (c+1)/(T+V+1) for seen terms, 1/(T+V+1) for OOV — exact ints in
    nll_term = -F.col("tf") * F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / denom
    )
    return (
        joined.groupBy("split")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(nll_term).alias("_nll"),
        )
        .select(
            "split",
            "n_tokens",
            F.bround(F.col("_nll") / F.col("n_tokens"), 4).alias("avg_nll"),
            F.bround(F.exp(F.col("_nll") / F.col("n_tokens")), 4).alias(
                "perplexity"
            ),
        )
    )


def heldout_perplexity_report_sql(
    val_pct: int = SPLIT_VAL_PCT, test_pct: int = SPLIT_TEST_PCT
) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    u = f"({md5_int_sql('CAST(doc_id AS VARCHAR)', 8)}) % 100"
    return f"""
WITH tagged AS (
  SELECT doc_id,
         CASE WHEN {u} < {test_pct} THEN 'test'
              WHEN {u} < {test_pct} + {val_pct} THEN 'val'
              ELSE 'train' END AS split,
         text
  FROM documents
), toks AS (
  SELECT split, t.term
  FROM tagged,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), tf AS (SELECT split, term, COUNT(*) AS tf FROM toks GROUP BY split, term),
train AS (SELECT term, tf AS c FROM tf WHERE split = 'train'),
tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM train),
scored AS (
  SELECT h.split, h.tf,
         -h.tf * ln((COALESCE(tr.c, 0) + 1)::DOUBLE
                    / (SELECT t + v + 1 FROM tot)) AS nll
  FROM tf h LEFT JOIN train tr ON h.term = tr.term
  WHERE h.split <> 'train'
)
SELECT split,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       round_even(SUM(nll) / SUM(tf), 4) AS avg_nll,
       round_even(exp(SUM(nll) / SUM(tf)), 4) AS perplexity
FROM scored GROUP BY split
"""


# ---------------------------------------------------------------------------
# Vocabulary growth curve — Heaps' law measured, not just fitted: the
# distinct-vocabulary count after ingesting each hash-ordered decile of
# the corpus. ONE corpus pass: each term's MIN ingest-decile is a single
# vocabulary-keyed aggregation (a term enters the vocabulary exactly
# once, at its first decile), the curve is a 10-row cumulative sum —
# never ten distinct-count jobs over growing prefixes. Exact integers
# throughout; the deterministic md5 doc order makes the curve
# reproducible across engines and runs.

VOCAB_CURVE_DECILES = 10


def vocab_growth_curve(
    documents: DataFrame, deciles: int = VOCAB_CURVE_DECILES
) -> DataFrame:
    from pyspark.sql.window import Window

    from flink_streaming_etl_spark.functions import md5_int

    bucket = (md5_int(F.col("doc_id").cast("string"), 8) % deciles).cast("int")
    toks = documents.select(bucket.alias("b"), "text").select(
        "b",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("term"),
    )
    first_seen = toks.groupBy("term").agg(F.min("b").alias("fb"))
    enters = first_seen.groupBy("fb").agg(F.count(F.lit(1)).alias("new_terms"))
    docs_per = documents.select(bucket.alias("fb")).groupBy("fb").agg(
        F.count(F.lit(1)).alias("new_docs")
    )
    spine = documents.sparkSession.range(deciles).select(
        F.col("id").cast("int").alias("fb")
    )
    w = Window.orderBy("fb").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(enters, "fb", "left")
        .join(docs_per, "fb", "left")
        .select(
            (F.col("fb") + 1).alias("decile"),
            F.sum(F.coalesce("new_docs", F.lit(0))).over(w).cast("long").alias("n_docs"),
            F.sum(F.coalesce("new_terms", F.lit(0))).over(w).cast("long").alias("vocab"),
        )
    )


def vocab_growth_curve_sql(deciles: int = VOCAB_CURVE_DECILES) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    b = f"CAST(({md5_int_sql('CAST(doc_id AS VARCHAR)', 8)}) % {deciles} AS INT)"
    return f"""
WITH toks AS (
  SELECT {b} AS b, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), first_seen AS (SELECT term, MIN(b) AS fb FROM toks GROUP BY term),
enters AS (SELECT fb, COUNT(*) AS new_terms FROM first_seen GROUP BY fb),
docs_per AS (SELECT {b} AS fb, COUNT(*) AS new_docs FROM documents GROUP BY 1),
spine AS (SELECT UNNEST(range(0, {deciles})) AS fb)
SELECT CAST(s.fb + 1 AS INT) AS decile,
       CAST(SUM(COALESCE(d.new_docs, 0)) OVER (ORDER BY s.fb
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(e.new_terms, 0)) OVER (ORDER BY s.fb
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
FROM spine s LEFT JOIN enters e ON s.fb = e.fb
             LEFT JOIN docs_per d ON s.fb = d.fb
"""


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): drop EXACT duplicate substrings of
# >= L tokens that recur anywhere in the corpus — the production
# complement to winnowing (alignment-free NEAR-dups) and span_dedup
# (fixed-boundary chunks): this tier catches shifted exact copies at
# EVERY token offset. Lee et al. build a suffix array; the Spark-shaped
# equivalent is the sorted-shingle-run formulation: hash the L-token
# shingle at every position (one corpus-linear projection — no joins),
# count occurrences per hash (ONE hash-keyed shuffle with map-side
# combine; duplicated mass is output-denominated), then merge adjacent
# duplicated positions into maximal spans with a per-doc
# gaps-and-islands window. Lee et al. use L=50 for web corpora; the
# default here is 15 to exercise the synthetic corpus — a dial, not a
# semantic.

SUBSTR_DUP_TOKENS = 15


def _substring_shingles(
    documents: DataFrame, min_tokens: int, persist: bool = True
) -> DataFrame:
    """(doc_id, p, h): 60-bit hash of the ``min_tokens``-token shingle
    starting at 1-based token position p, for every position.

    r14: memo_persist'd (family ``substr_sh``) for ``substring_dup_spans``
    / ``substring_dup_rate_report`` — both consume the relation twice, and
    the persist halved them under the full bench methodology (3.99→2.17 s,
    3.98→2.49 s at sf0.1). ``substring_dedup_cut`` passes
    ``persist=False``: measured the other way there (2.27→5.16 s WITH the
    persist) — its three consumers run as concurrent AQE branches inside
    deeper jobs, and the materialization barrier plus cached-relation plan
    boundaries serialize what previously overlapped."""
    from flink_streaming_etl_spark.functions import md5_int
    from flink_streaming_etl_spark.operators._cache import memo_persist

    w = F.split(F.trim("text"), r"\s+")
    base = documents.select("doc_id", w.alias("w")).filter(
        F.size("w") >= min_tokens
    )
    rel = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w") - min_tokens + 1)
        ).alias("p"),
        F.col("w"),
    ).select(
        "doc_id",
        "p",
        md5_int(
            F.array_join(F.expr(f"slice(w, p, {min_tokens})"), " "), 15
        ).alias("h"),
    )
    return memo_persist("substr_sh", rel) if persist else rel


def substring_dup_spans(
    documents: DataFrame, min_tokens: int = SUBSTR_DUP_TOKENS
) -> DataFrame:
    """Maximal duplicated spans: token ranges [start_pos, end_pos]
    (1-based, inclusive) covered by shingles occurring >= 2 times
    corpus-wide. ALL occurrences are reported (the cut stage decides
    which survives)."""
    from pyspark.sql.window import Window

    sh = _substring_shingles(documents, min_tokens)
    dup = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("h")
    )
    dp = sh.join(dup, "h", "left_semi").select("doc_id", "p")
    wg = Window.partitionBy("doc_id").orderBy("p")
    isl = dp.select(
        "doc_id", "p", (F.col("p") - F.row_number().over(wg)).alias("_g")
    )
    return isl.groupBy("doc_id", "_g").agg(
        F.min("p").cast("long").alias("start_pos"),
        (F.max("p") + min_tokens - 1).cast("long").alias("end_pos"),
    ).select(
        "doc_id",
        "start_pos",
        "end_pos",
        (F.col("end_pos") - F.col("start_pos") + 1).alias("span_tokens"),
    )


def substring_dup_spans_sql(min_tokens: int = SUBSTR_DUP_TOKENS) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    h = md5_int_sql(
        f"array_to_string(list_slice(w, p, p + {min_tokens} - 1), ' ')", 15
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, p, {h} AS h
  FROM toks, LATERAL (
    SELECT UNNEST(range(1, len(w) - {min_tokens} + 2)) AS p
  ) r
  WHERE len(w) >= {min_tokens}
), dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
dp AS (SELECT s.doc_id, s.p FROM sh s SEMI JOIN dup d ON s.h = d.h),
isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM dp
)
SELECT doc_id,
       CAST(MIN(p) AS BIGINT) AS start_pos,
       CAST(MAX(p) + {min_tokens} - 1 AS BIGINT) AS end_pos,
       CAST(MAX(p) + {min_tokens} - MIN(p) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, g
"""


def substring_dedup_cut(
    documents: DataFrame, min_tokens: int = SUBSTR_DUP_TOKENS
) -> DataFrame:
    """The removal-apply stage, Lee et al. semantics: for every
    duplicated shingle the globally FIRST occurrence (min (doc_id, p))
    survives; every other occurrence's token range is cut from its
    document, and the cleaned text is rebuilt from the kept tokens.
    Canonical spans are INVIOLATE — a victim range overlapping the
    canonical first occurrence of a different hash in the same doc is
    trimmed around it, so canonical content can never be deleted from
    every copy. A doc whose every token is covered (a full duplicate)
    emits EMPTY text with removed_tokens = n_tokens — never a silent
    pass-through. Whitespace is normalized to single spaces uniformly
    (both engines rebuild identically). Scale shape: the shingle
    relation is corpus-linear with ONE hash-keyed shuffle; token-level
    rebuild work is proportional to AFFECTED docs only (untouched docs
    pass through as a zero-shuffle projection)."""
    sh = _substring_shingles(documents, min_tokens, persist=False)
    # non-canonical occurrences: every (doc,p) of a >=2-occurrence hash
    # except the global min (doc_id, p) — arithmetic min-encoding keeps
    # it one aggregation (doc_id < 2^40 assumed, p < 2^23 enforced
    # upstream by corpus construction; both hold for any sane sharding).
    key = F.col("doc_id") * F.lit(1 << 23) + F.col("p")
    canon = sh.groupBy("h").agg(
        F.count(F.lit(1)).alias("_n"), F.min(key).alias("_k")
    )
    # NOT broadcast-pinned: the duplicated-hash relation is bounded by the
    # corpus's duplicated MASS (web corpora: a few % of positions — Lee et
    # al. §5), not by a vocabulary — at 100 TB it can exceed broadcast
    # size, so the equi-join on h (AQE picks build side) is the contract.
    victims = (
        sh.join(canon.filter(F.col("_n") >= 2), "h")
        .filter(key != F.col("_k"))
        .select("doc_id", "p")
    )
    # canonical spans are INVIOLATE: a victim range may overlap the
    # canonical first occurrence of a DIFFERENT hash in the same doc —
    # cutting through it would delete that content from every copy in
    # the corpus (its other occurrences are victims of their own hash).
    # Protect every canonical occurrence's token range from cutting.
    canons = (
        sh.join(canon.filter(F.col("_n") >= 2), "h")
        .filter(key == F.col("_k"))
        .select("doc_id", "p")
    )
    span = lambda rel: rel.select(  # noqa: E731 — tiny local shaper
        "doc_id",
        F.explode(F.sequence(F.col("p"), F.col("p") + min_tokens - 1)).alias(
            "tp"
        ),
    ).distinct()
    protected = span(canons)
    covered = span(victims).join(protected, ["doc_id", "tp"], "left_anti")
    affected = covered.select("doc_id").distinct()
    w = F.split(F.trim("text"), r"\s+")
    toks = (
        documents.join(affected, "doc_id", "left_semi")
        .select("doc_id", F.posexplode(w).alias("tp0", "term"))
        .select("doc_id", (F.col("tp0") + 1).alias("tp"), "term")
    )
    kept = toks.join(covered, ["doc_id", "tp"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "term"))),
                lambda s: s["term"],
            ),
        ).alias("_ct"),
        F.count(F.lit(1)).alias("_nk"),
    )
    base = documents.select(
        "doc_id",
        F.regexp_replace(F.trim("text"), r"\s+", " ").alias("_orig"),
        F.size(w).cast("long").alias("n_tokens"),
    )
    # An affected doc with NO rebuilt row had EVERY token cut (a full
    # duplicate): it must emit empty text, not pass through unchanged —
    # the coalesce(_ct, _orig) fallback is only for UNAFFECTED docs.
    flagged = affected.withColumn("_hit", F.lit(True))
    return (
        base.join(rebuilt, "doc_id", "left")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(
                F.col("_hit").isNotNull(),
                F.col("n_tokens") - F.coalesce("_nk", F.lit(0)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
            F.when(F.col("_hit").isNotNull(), F.coalesce("_ct", F.lit("")))
            .otherwise(F.col("_orig"))
            .alias("clean_text"),
        )
    )


def substring_dedup_cut_sql(min_tokens: int = SUBSTR_DUP_TOKENS) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    h = md5_int_sql(
        f"array_to_string(list_slice(w, p, p + {min_tokens} - 1), ' ')", 15
    )
    return rf"""
WITH toks0 AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, p, {h} AS h
  FROM toks0, LATERAL (
    SELECT UNNEST(range(1, len(w) - {min_tokens} + 2)) AS p
  ) r
  WHERE len(w) >= {min_tokens}
), canon AS (
  SELECT h, COUNT(*) AS n, MIN(doc_id * {1 << 23} + p) AS k
  FROM sh GROUP BY h
), victims AS (
  SELECT s.doc_id, s.p
  FROM sh s JOIN canon c ON s.h = c.h
  WHERE c.n >= 2 AND s.doc_id * {1 << 23} + s.p <> c.k
), canons AS (
  SELECT s.doc_id, s.p
  FROM sh s JOIN canon c ON s.h = c.h
  WHERE c.n >= 2 AND s.doc_id * {1 << 23} + s.p = c.k
), protected AS (
  SELECT DISTINCT doc_id, tp
  FROM canons, LATERAL (
    SELECT UNNEST(range(p, p + {min_tokens})) AS tp
  ) r
), covered AS (
  SELECT v.doc_id, v.tp FROM (
    SELECT DISTINCT doc_id, tp
    FROM victims, LATERAL (
      SELECT UNNEST(range(p, p + {min_tokens})) AS tp
    ) r
  ) v ANTI JOIN protected pr ON v.doc_id = pr.doc_id AND v.tp = pr.tp
), affected AS (SELECT DISTINCT doc_id FROM covered),
tok AS (
  SELECT t.doc_id, u.tp, u.term
  FROM toks0 t SEMI JOIN affected a ON t.doc_id = a.doc_id,
       LATERAL (
         SELECT UNNEST(t.w) AS term, generate_subscripts(t.w, 1) AS tp
       ) u
), kept AS (
  SELECT k.doc_id, k.tp, k.term
  FROM tok k ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
), rebuilt AS (
  SELECT doc_id,
         string_agg(term, ' ' ORDER BY tp) AS ct,
         COUNT(*) AS nk
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id,
         regexp_replace(trim(text), '\s+', ' ', 'g') AS orig,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CAST(CASE WHEN a.doc_id IS NOT NULL
                 THEN b.n_tokens - COALESCE(r.nk, 0) ELSE 0 END AS BIGINT)
         AS removed_tokens,
       CASE WHEN a.doc_id IS NOT NULL THEN COALESCE(r.ct, '')
            ELSE b.orig END AS clean_text
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
            LEFT JOIN affected a ON b.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# KMV distinct-count sketch report (Bar-Yossef et al. 2002's k-minimum-
# values estimator) — the mergeable bounded-state alternative to exact
# COUNT(DISTINCT): keep the k smallest hash values of the term stream;
# D-hat = (k-1) / h_(k) with h_(k) the k-th minimum scaled to (0,1).
# Everything is DETERMINISTIC (md5 order, exact integers until the one
# final division), so the estimate itself is oracle-checkable — and the
# report pairs it with the exact distinct count per source plus the
# MERGED '(all)' union (k-min sets union trivially: the k smallest of
# the union of k-min sets), making this the gauge that licenses
# replacing the exact full-shuffle distinct with O(k) state at 100 TB.
# The k-th-minimum selection here uses the window top-k idiom (one
# source-keyed sort shuffle over the DISTINCT term relation); the
# production sketch replaces that with per-partition k-min partials
# merged at the driver — same estimate by construction.

# k=16 exercises the estimator on the synthetic corpus's ~31-term
# per-source vocabulary; production uses k=1024+ (rel. error ~1/sqrt(k)).
KMV_K = 16
_KMV_HASH_BITS = 60


def kmv_distinct_report(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    from pyspark.sql.window import Window

    from flink_streaming_etl_spark.functions import md5_int

    terms = documents.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("term"),
    )
    per_src = terms.distinct()
    with_all = per_src.unionByName(
        per_src.select(F.lit("(all)").alias("source"), "term").distinct()
    )
    hashed = with_all.select("source", md5_int(F.col("term"), 15).alias("h"))
    wr = Window.partitionBy("source").orderBy("h")
    wn = Window.partitionBy("source")
    ranked = hashed.select(
        "source",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    scale = float(1 << _KMV_HASH_BITS)
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("h") / F.lit(scale))
    )
    kth = ranked.filter(F.col("rn") == F.least(F.lit(k), F.col("n")))
    return kth.select(
        "source",
        F.col("n").cast("long").alias("exact_distinct"),
        F.bround(est, 4).alias("kmv_estimate"),
        F.bround(
            F.abs(est - F.col("n")) / F.col("n"), 4
        ).alias("rel_error"),
    )


def kmv_distinct_report_sql(k: int = KMV_K) -> str:
    from flink_streaming_etl_spark.functions import md5_int_sql

    h = md5_int_sql("term", 15)
    scale = float(1 << _KMV_HASH_BITS)
    return f"""
WITH per_src AS (
  SELECT DISTINCT source, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
), with_all AS (
  SELECT source, term FROM per_src
  UNION ALL
  SELECT '(all)' AS source, term FROM (SELECT DISTINCT term FROM per_src)
), ranked AS (
  SELECT source, {h} AS h,
         row_number() OVER (PARTITION BY source ORDER BY {h}) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM with_all
)
SELECT source,
       CAST(n AS BIGINT) AS exact_distinct,
       round_even(CASE WHEN n < {k} THEN n::DOUBLE
                       ELSE {float(k - 1)} / (h / {scale}) END, 4)
         AS kmv_estimate,
       round_even(ABS(CASE WHEN n < {k} THEN n::DOUBLE
                           ELSE {float(k - 1)} / (h / {scale}) END - n)
                  / n, 4) AS rel_error
FROM ranked
WHERE rn = LEAST({k}, n)
"""


# ---------------------------------------------------------------------------
# Quality-stack calibration — do the two independent quality signals
# AGREE? Cross-tabulates the fastText-shaped linear classifier's keep
# decision against the CCNet perplexity tercile (both already in the
# registry, both riding memoized substrates): per (bucket, keep) doc
# counts, the within-bucket keep rate, and the mean classifier
# probability (exact 1e-6 integer folds — prob_keep is bround-6 by
# construction). A calibrated stack shows keep-rate monotone in the
# tercile (head >= middle >= tail); an inversion is the signal that one
# model is stale for the corpus. One doc_id equi-join of two per-doc
# relations + a 6-row aggregation.


def quality_calibration_report(documents: DataFrame) -> DataFrame:
    tagged = perplexity_tagged(documents).select("doc_id", "bucket")
    clf = linear_quality_classifier(documents).select(
        "doc_id",
        "keep",
        F.round(F.col("prob_keep") * 1000000).cast("long").alias("_pk_e6"),
    )
    joined = tagged.join(clf, "doc_id")
    out = joined.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.sum("_pk_e6").alias("_s_e6"),
    )
    return out.select(
        "bucket",
        "n_docs",
        "n_keep",
        q6(F.col("n_keep").cast("double") / F.col("n_docs")).alias("keep_rate"),
        q6(
            (F.col("_s_e6").cast("double") / F.lit(1000000.0)) / F.col("n_docs")
        ).alias("mean_prob_keep"),
    )


def quality_calibration_report_sql(dim: int = HASHED_BOW_DIM) -> str:
    return f"""
WITH tagged AS ({perplexity_tagged_sql()}),
clf AS ({linear_quality_classifier_sql(dim)}),
joined AS (
  SELECT t.bucket, c.keep,
         CAST(round(c.prob_keep * 1000000) AS BIGINT) AS pk_e6
  FROM tagged t JOIN clf c ON t.doc_id = c.doc_id
),
agg AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(keep) AS BIGINT) AS n_keep,
         SUM(pk_e6) AS s_e6
  FROM joined GROUP BY bucket
)
SELECT bucket, n_docs, n_keep,
       {q6_sql("CAST(n_keep AS DOUBLE) / n_docs")} AS keep_rate,
       {q6_sql("(CAST(s_e6 AS DOUBLE) / 1000000.0) / n_docs")} AS mean_prob_keep
FROM agg
"""


# ---------------------------------------------------------------------------
# BPE encode/apply — completes the tokenizer loop (pair stats ->
# bpe_first_merges, full training loop -> bpe_train_merges, APPLY ->
# here): tokenize the corpus with a LEARNED merge list, the actual
# production workload a trained tokenizer exists for. The merge list is
# vocabulary-bounded and ships BROADCAST to every executor; encoding is
# the standard lowest-rank-first loop (Sennrich et al. 2016, the same
# order HF tokenizers apply) run inside Arrow batches with a per-batch
# distinct-word memo (Zipf makes the memo hit rate ~= 1 - V/N). Corpus
# work is one mapInPandas pass — zero shuffles. No SQL oracle (the
# iterative merge application is not SQL-expressible); pinned by a
# worked example in tests and by the invariant that encoding the train
# corpus reproduces the training loop's final symbol counts.


def bpe_encode_report(
    documents: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    merges: list[tuple[int, str, str]] | None = None,
) -> DataFrame:
    """(doc_id, n_words, n_chars, n_bpe_tokens, fertility): per-doc BPE
    token counts under the corpus-trained merge list (or a caller-
    provided one — the production path, where training ran once)."""
    if merges is None:
        merges = [
            (r["rank"], r["left"], r["right"])
            for r in bpe_train_merges(documents, n_merges).collect()
        ]
    rank_of = {(a, b): rank for rank, a, b in merges}

    def encode_len(word: str, memo: dict) -> int:
        hit = memo.get(word)
        if hit is not None:
            return hit
        syms = list(word)
        while len(syms) > 1:
            best, best_i = None, -1
            for i, pair in enumerate(zip(syms, syms[1:])):
                r = rank_of.get(pair)
                if r is not None and (best is None or r < best):
                    best, best_i = r, i
            if best is None:
                break
            a, b = syms[best_i], syms[best_i + 1]
            merged, out, i = a + b, [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        memo[word] = len(syms)
        return len(syms)

    import re

    split = re.compile("[^a-z]+")

    def compute(batches):
        import pandas as pd  # executor-side import (closure pickles clean)

        memo: dict = {}
        for pdf in batches:
            ids, nw, nc, nt = [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in split.split(str(txt).lower()) if w]
                ids.append(doc_id)
                nw.append(len(words))
                nc.append(sum(len(w) for w in words))
                nt.append(sum(encode_len(w, memo) for w in words))
            yield pd.DataFrame(
                {"doc_id": ids, "n_words": nw, "n_chars": nc, "n_bpe_tokens": nt}
            )

    out = documents.select("doc_id", "text").mapInPandas(
        compute,
        schema="doc_id long, n_words long, n_chars long, n_bpe_tokens long",
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_words") > 0,
            q6(F.col("n_bpe_tokens").cast("double") / F.col("n_words")),
        ).alias("fertility"),
    )


# Pinned-merge BPE encode (round 10; r9 verdict #8): the SAME generic
# lowest-rank-first encoder as bpe_encode_report, but under a FIXED merge
# list chosen so the encode length has a closed form an independent SQL
# engine can verify. The four pairs draw on pairwise-DISJOINT letters and
# merge raw characters only, which buys two exactness guarantees:
# (a) no merge can create or destroy another pair's adjacency (the pairs
#     share no letters, so their occurrences in the raw word can never
#     overlap positionally), and
# (b) the encoder's inner loop replaces every occurrence of the chosen
#     pair left-to-right non-overlapping in one pass — exactly the
#     semantics of a regex non-overlapping match count.
# Hence tokens(word) = len(word) − Σ_pairs count_non_overlap(word, pair),
# computable in DuckDB, while the Spark side still runs the REAL encode
# loop (mapInPandas, rank dict, distinct-word memo) — so the oracle
# value-checks the production encoder, not a simplified twin. The
# corpus-TRAINED path (bpe_train_merges feeding the same encoder) stays
# pinned by the pytest invariant that encoding the train corpus
# reproduces the training loop's final symbol counts.

BPE_PINNED_MERGES: list[tuple[int, str, str]] = [
    (0, "t", "h"),
    (1, "e", "r"),
    (2, "o", "n"),
    (3, "a", "l"),
]


def bpe_encode_pinned(documents: DataFrame) -> DataFrame:
    return bpe_encode_report(documents, merges=BPE_PINNED_MERGES)


def bpe_encode_pinned_sql() -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    deduction = " + ".join(
        f"len(regexp_extract_all(w, '{a}{b}'))" for _, a, b in BPE_PINNED_MERGES
    )
    fert = q6_sql("SUM(len(w) - ({d}))::DOUBLE / COUNT(*)".format(d=deduction))
    return f"""
WITH words AS (
  SELECT doc_id, t.w
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w) t
  WHERE t.w <> ''
),
enc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(w)) AS BIGINT) AS n_chars,
         CAST(SUM(len(w) - ({deduction})) AS BIGINT) AS n_bpe_tokens,
         {fert} AS fertility
  FROM words GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(e.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(e.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(e.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       e.fertility
FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
"""


# ---------------------------------------------------------------------------
# Corpus duplication-rate report — the headline Lee et al. metric ("what
# fraction of corpus tokens sit inside exact duplicated substrings"):
# one row summarizing the exact-substring tier over the whole corpus.
# Rides substring_dup_spans' relation (span volume is output-
# denominated); corpus totals are one aggregation.


def substring_dup_rate_report(
    documents: DataFrame, min_tokens: int = SUBSTR_DUP_TOKENS
) -> DataFrame:
    spans = substring_dup_spans(documents, min_tokens)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("_dup_tokens")
    )
    w = F.split(F.trim("text"), r"\s+")
    base = documents.select("doc_id", F.size(w).cast("long").alias("_nt"))
    joined = base.join(per_doc, "doc_id", "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("_dup_tokens").isNotNull()).cast("long"))
        .cast("long")
        .alias("n_docs_with_dups"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum(F.coalesce("_dup_tokens", F.lit(0))).cast("long").alias(
            "n_dup_tokens"
        ),
    ).select(
        "n_docs",
        "n_docs_with_dups",
        "n_tokens",
        "n_dup_tokens",
        q6(F.col("n_dup_tokens").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
    )


def substring_dup_rate_report_sql(min_tokens: int = SUBSTR_DUP_TOKENS) -> str:
    return rf"""
WITH spans AS ({substring_dup_spans_sql(min_tokens)}),
per_doc AS (
  SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
  FROM documents
),
joined AS (
  SELECT b.nt, p.dup_tokens
  FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_dups,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS n_dup_tokens,
       {q6_sql("CAST(SUM(COALESCE(dup_tokens, 0)) AS DOUBLE) / SUM(nt)")}
         AS dup_token_frac
FROM joined
"""


# ---------------------------------------------------------------------------
# Moore-Lewis data selection (round 9; Moore & Lewis 2010, "Intelligent
# Selection of Language Model Training Data", ACL — public): score every
# document by the cross-entropy DIFFERENCE between an in-domain LM and a
# general-corpus LM; positive scores look more like the target domain
# than like the average of the pool, and selecting them is the classic
# recipe for domain-targeted pretraining mixes. Here the in-domain model
# is fit on the `src0` slice and the general model on the whole pool —
# both add-1-smoothed unigram LMs over the same tokenization the rest of
# the LM family shares. Scale shape: both LM relations are
# VOCABULARY-bounded and broadcast (r7 verdict #4 discipline); the
# per-doc pass is one doc-keyed aggregation; totality: every doc_id
# appears, token-less docs with NULL score and selected = false.
#
# Scan economy (r9 verdict #1): every relation here rides the two
# memoized substrates the sibling LM operators already pay for — the
# per-doc term frequencies come from :func:`lm_tf_relation` (family
# ``lm_tf``) and BOTH model-side count relations derive from
# :func:`_source_term_counts` (family ``source_term``, shared with
# source_kl_report / heaps_law_report). The two scalar total actions and
# the final scoring job all replay those cached relations, so a cold
# call tokenizes the corpus at most twice (once per substrate) and a
# warm call zero times — never the 4 full-corpus scans of the r9 shape.

ML_IN_DOMAIN_SOURCE = "src0"


def moore_lewis_selection(
    documents: DataFrame, in_source: str = ML_IN_DOMAIN_SOURCE
) -> DataFrame:
    dtf = lm_tf_relation(_lm_tokens(documents))
    st = _source_term_counts(documents)
    in_tf = (
        st.filter(F.col("source") == in_source)
        .groupBy("term")
        .agg(F.sum("c_st").cast("long").alias("c_in"))
    )
    gen_tf = st.groupBy("term").agg(F.sum("c_st").cast("long").alias("c_gen"))
    # r14 (guide §1.2): one scalar action for both smoothing denominators
    # (previously two sequential .first() jobs over the same cached
    # source-term relation).
    tots = (
        in_tf.agg(F.sum("c_in").alias("ti"), F.count(F.lit(1)).alias("vi"))
        .crossJoin(
            gen_tf.agg(F.sum("c_gen").alias("tg"), F.count(F.lit(1)).alias("vg"))
        )
        .first()
    )
    denom_in = float((tots["ti"] or 0) + (tots["vi"] or 0) + 1)
    denom_gen = float((tots["tg"] or 0) + (tots["vg"] or 0) + 1)
    term_gain = F.col("tf") * (
        F.log((F.coalesce(F.col("c_in"), F.lit(0)) + 1).cast("double") / F.lit(denom_in))
        - F.log((F.col("c_gen") + 1).cast("double") / F.lit(denom_gen))
    )
    scores = (
        dtf.join(F.broadcast(in_tf), "term", "left")
        .join(F.broadcast(gen_tf), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(term_gain).alias("_g"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # +0.0 canonicalizes IEEE negative zero (a tiny negative sum
            # rounds to -0.0 in one engine and 0.0 in the other)
            (F.bround(F.col("_g") / F.col("n_tokens"), 4) + F.lit(0.0)).alias(
                "ml_score"
            ),
        )
    )
    out = documents.select("doc_id").join(scores, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        "ml_score",
        F.coalesce(F.col("ml_score") > 0, F.lit(False)).alias("selected"),
    )


def moore_lewis_selection_sql(in_source: str = ML_IN_DOMAIN_SOURCE) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
),
dtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
in_tf AS (SELECT term, COUNT(*) AS c_in FROM toks WHERE source = '{in_source}' GROUP BY 1),
gen_tf AS (SELECT term, COUNT(*) AS c_gen FROM toks GROUP BY 1),
-- COALESCE mirrors the Spark side's empty-slice handling: with no
-- in-domain docs SUM over zero rows is NULL in SQL but the Spark
-- driver coalesces the totals to 0, so both engines use denom = 1
-- and the in-domain half contributes ln(1/1) = 0 (ADVICE r9).
tot_in AS (SELECT COALESCE(SUM(c_in), 0) + COUNT(*) + 1 AS denom FROM in_tf),
tot_gen AS (SELECT COALESCE(SUM(c_gen), 0) + COUNT(*) + 1 AS denom FROM gen_tf),
scores AS (
  SELECT d.doc_id,
         CAST(SUM(d.tf) AS BIGINT) AS n_tokens,
         round_even(SUM(d.tf * (
             ln((COALESCE(i.c_in, 0) + 1)::DOUBLE / (SELECT denom FROM tot_in))
           - ln((g.c_gen + 1)::DOUBLE / (SELECT denom FROM tot_gen))
         )) / SUM(d.tf), 4) + 0.0 AS ml_score
  FROM dtf d
  LEFT JOIN in_tf i ON d.term = i.term
  JOIN gen_tf g ON d.term = g.term
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.ml_score,
       COALESCE(s.ml_score > 0, FALSE) AS selected
FROM documents doc LEFT JOIN scores s ON doc.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# Blocklist filter (round 10) — C4-style bad-word page removal (Raffel et
# al. 2020 §2.2 drop any page containing a word from a blocklist; public).
# Per doc: how many token occurrences hit the blocklist, how many distinct
# blocked terms, keep = zero hits. Scale shape: the blocklist is tiny BY
# DEFINITION (hundreds of terms), so it ships as one broadcast build side
# against the memoized (doc_id, term, tf) relation every LM operator
# shares — per-doc counting is a map-side-combined doc-keyed agg, the
# corpus never reshuffles, and the totality left-join reads only doc_id.
# Matching is exact-token (the C4 recipe), not substring: "class" does
# not hit a blocklist entry "ass" — substring policies belong to a
# separate normalizer stage.

BLOCKLIST_DEFAULT: tuple[str, ...] = ("slow", "broken", "deadlock")


def blocklist_filter_report(
    documents: DataFrame, blocklist: tuple[str, ...] = BLOCKLIST_DEFAULT
) -> DataFrame:
    spark = documents.sparkSession
    dtf = lm_tf_relation(_lm_tokens(documents))
    bl = spark.createDataFrame([(t,) for t in blocklist], "term string")
    hits = (
        dtf.join(F.broadcast(bl), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_blocked_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_blocked_terms"),
        )
    )
    return documents.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_blocked_tokens", F.lit(0)).cast("long").alias(
            "n_blocked_tokens"
        ),
        F.coalesce("n_blocked_terms", F.lit(0)).cast("long").alias(
            "n_blocked_terms"
        ),
        (F.coalesce("n_blocked_tokens", F.lit(0)) == 0).alias("keep"),
    )


def blocklist_filter_report_sql(
    blocklist: tuple[str, ...] = BLOCKLIST_DEFAULT,
) -> str:
    terms = ", ".join(f"('{t}')" for t in blocklist)
    return f"""
WITH bl(term) AS (VALUES {terms}),
toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
),
hits AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_blocked_tokens,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS n_blocked_terms
  FROM toks WHERE term IN (SELECT term FROM bl)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_blocked_tokens, 0) AS BIGINT) AS n_blocked_tokens,
       CAST(COALESCE(h.n_blocked_terms, 0) AS BIGINT) AS n_blocked_terms,
       COALESCE(h.n_blocked_tokens, 0) = 0 AS keep
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# Distinct-n-gram diversity (round 10) — distinct-1 / distinct-2 ratios
# per source (Li et al. 2016, "A Diversity-Promoting Objective Function
# for Neural Conversation Models"; the standard templated/generated-text
# alarm: boilerplate repeats the same n-grams, so distinct/total
# collapses). Rides BOTH memoized LM substrates — unigrams from the
# (source, term) relation shared with source_kl/heaps_law, bigrams from
# the (doc, w1, w2) tf2 relation shared with the LM scorers (enriched
# with the doc→source map, a thin two-column scan) — so no new corpus
# tokenization. All counts are exact integers; the two ratios are
# q6-floored for the cross-engine hash.


def distinct_ngram_report(documents: DataFrame) -> DataFrame:
    st = _source_term_counts(documents)
    uni = st.groupBy("source").agg(
        F.sum("c_st").cast("long").alias("n_unigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_unigrams"),
    )
    tf2 = _lm_bigram_tf2(documents)
    src_map = documents.select("doc_id", "source")
    bi = (
        tf2.join(src_map, "doc_id")
        .groupBy("source", "w1", "w2")
        .agg(F.sum("tf").alias("c2"))
        .groupBy("source")
        .agg(
            F.sum("c2").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        )
    )
    return uni.join(bi, "source", "left").select(
        "source",
        "n_unigrams",
        "n_distinct_unigrams",
        q6(
            F.col("n_distinct_unigrams").cast("double") / F.col("n_unigrams")
        ).alias("distinct_1"),
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_distinct_bigrams", F.lit(0)).cast("long").alias(
            "n_distinct_bigrams"
        ),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            q6(
                F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
            ),
        ).alias("distinct_2"),
    )


DISTINCT_NGRAM_REPORT_SQL = """
WITH toks AS (
  SELECT doc_id, source, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS term) t
  WHERE t.term <> ''
),
uni AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_unigrams,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS n_distinct_unigrams
  FROM toks GROUP BY source
),
words AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT source, w[i] AS w1, w[i + 1] AS w2
  FROM words, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) r
),
bi AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(COUNT(DISTINCT (w1, w2)) AS BIGINT) AS n_distinct_bigrams
  FROM grams GROUP BY source
)
SELECT u.source, u.n_unigrams, u.n_distinct_unigrams,
       {d1} AS distinct_1,
       CAST(COALESCE(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(b.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
       CASE WHEN COALESCE(b.n_bigrams, 0) > 0 THEN {d2} END AS distinct_2
FROM uni u LEFT JOIN bi b ON u.source = b.source
"""


def distinct_ngram_report_sql() -> str:
    from flink_streaming_etl_spark.functions import q6_sql

    return DISTINCT_NGRAM_REPORT_SQL.format(
        d1=q6_sql("u.n_distinct_unigrams::DOUBLE / u.n_unigrams"),
        d2=q6_sql("b.n_distinct_bigrams::DOUBLE / b.n_bigrams"),
    )


# ---------------------------------------------------------------------------
# Quality-ensemble vote (round 10) — the production pattern every serious
# curation stack converges on: no single quality signal is trusted alone;
# documents are kept by MAJORITY VOTE of independent filters (structural
# Gopher rules, character-entropy degeneracy, CCNet LM-perplexity
# tercile). Each signal is an already-oracle-checked operator riding its
# own memoized substrate; this entry pins the COMPOSITION — the three
# doc_id equi-joins, the vote arithmetic, and the per-pattern census that
# shows WHERE the stack disagrees (the 2-of-3 cells are the review
# queue). Totality: docs missing a signal row (no scored chars / no
# tokens) count that vote as keep=false.


def quality_ensemble_report(documents: DataFrame) -> DataFrame:
    # r15 (guide §2.4 — remove joins outright): the Gopher and entropy
    # votes are per-row zero-shuffle projections of documents, so they are
    # computed in ONE fused scan instead of materializing two corpus-sized
    # relations and joining them back on doc_id (two joins + two corpus
    # scans removed). Vote semantics are bit-identical: v_gopher coalesces
    # a NULL keep (degenerate division) to 0 exactly as the old left join
    # did; v_entropy is 1 iff the doc has scored chars AND its bround'd
    # entropy clears the threshold — the old entropy_filter row-dropping +
    # left-join-coalesce contract. Only the LM vote (an aggregation-backed
    # signal) still joins.
    staged = gopher_metrics(documents).select(
        "doc_id",
        F.col("keep").alias("_gk"),
        _scored_chars().alias("_ch"),
    )
    folded = staged.select(
        "doc_id",
        "_gk",
        F.size("_ch").cast("long").alias("_n"),
        _char_run_entropy_sum(F.col("_ch")).alias("_s"),
    )
    ent = F.bround(F.log2("_n") - F.col("_s") / F.col("_n"), 4)
    per_row = folded.select(
        "doc_id",
        F.coalesce(F.col("_gk").cast("int"), F.lit(0)).alias("v_gopher"),
        F.when((F.col("_n") > 0) & (ent >= F.lit(ENTROPY_LOW_BITS)), F.lit(1))
        .otherwise(F.lit(0))
        .alias("v_entropy"),
    )
    p = perplexity_tagged(documents).select(
        "doc_id", (F.col("bucket") != "tail").cast("int").alias("v_lm")
    )
    per_doc = (
        per_row.join(p, "doc_id", "left")
        .select(
            "v_gopher",
            "v_entropy",
            F.coalesce("v_lm", F.lit(0)).alias("v_lm"),
        )
    )
    votes = F.col("v_gopher") + F.col("v_entropy") + F.col("v_lm")
    return (
        per_doc.groupBy("v_gopher", "v_entropy", "v_lm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "v_gopher",
            "v_entropy",
            "v_lm",
            "n_docs",
            (votes >= 2).alias("keep_majority"),
        )
    )


def quality_ensemble_report_sql() -> str:
    return f"""
WITH g AS ({gopher_quality_sql()}),
ef AS ({entropy_filter_sql()}),
pt AS ({perplexity_tagged_sql()}),
per_doc AS (
  SELECT COALESCE(CAST(g.keep AS INT), 0) AS v_gopher,
         COALESCE(1 - ef.is_low_entropy, 0) AS v_entropy,
         COALESCE(CASE WHEN pt.bucket <> 'tail' THEN 1 ELSE 0 END, 0) AS v_lm
  FROM documents d
  LEFT JOIN g ON d.doc_id = g.doc_id
  LEFT JOIN ef ON d.doc_id = ef.doc_id
  LEFT JOIN pt ON d.doc_id = pt.doc_id
)
SELECT v_gopher, v_entropy, v_lm,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       (v_gopher + v_entropy + v_lm) >= 2 AS keep_majority
FROM per_doc GROUP BY v_gopher, v_entropy, v_lm
"""
