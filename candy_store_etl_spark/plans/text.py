"""Text-analysis + dedup queries over the documents table — the
training-data-pipeline surface (BASELINE.json north star), all
JVM-side built-ins with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, fround
from ..functions.text import (
    avg_token_len,
    distinct_ratio,
    stopword_ratio,
    token_chars,
    tokens,
    word_shingles,
)
from ..sources.tpch import load_table
from .registry import register

# DuckDB twin of functions.text.tokens (whitespace split, no empties).
_SQL_TOKENS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"

from ..functions.text import FILLER_TOKENS as _FILLER
from ..functions.text import SQL_FILLER_IN as _SQL_FILLER


def _with_tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """Stage tokenization ONCE in its own Project.

    Referencing ``tokens(text)`` from many output expressions re-runs
    the split per use — CollapseProject only inlines cheap aliases, so
    a staged non-cheap ``toks`` column is evaluated once (measured 5x
    on the multi-feature queries below).
    """
    return docs.select(*keep, tokens(F.col("text")).alias("toks"))


@register(
    "doc_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
             AS total_token_chars,
           {SQL_FROUND("CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) * 1.0 / len(toks)", 4)}
             AS avg_token_len
    FROM tok
    """,
    doc="Token counting over documents (whitespace tokenizer) — "
    "LLM-pipeline text stats, pure built-ins.",
    tags=("text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"), "doc_id", "n_chars")
    t = F.col("toks")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        token_chars(t).alias("total_token_chars"),
        fround(avg_token_len(t), 4).alias("avg_token_len"),
    )


@register(
    "doc_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    feats AS (
      SELECT doc_id,
             len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio,
             len(list_filter(toks, x -> x IN {_SQL_FILLER})) * 1.0 / len(toks)
               AS filler_ratio,
             LEAST(len(toks) / 40.0, 1.0) AS length_score
      FROM tok
    )
    SELECT doc_id,
           {SQL_FROUND("distinct_ratio", 6)} AS distinct_ratio,
           {SQL_FROUND("filler_ratio", 6)} AS filler_ratio,
           {SQL_FROUND(
        "0.5 * distinct_ratio + 0.3 * length_score + 0.2 * (1.0 - filler_ratio)", 6)}
             AS quality_score
    FROM feats
    """,
    doc="Document quality scoring: lexical diversity + length + filler "
    "penalty (the classic pre-training quality filter shape).",
    tags=("text", "quality"),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("toks")
    dr = distinct_ratio(t)
    fr = stopword_ratio(t, _FILLER)
    length_score = F.least(F.size(t) / 40.0, F.lit(1.0))
    return docs.select(
        "doc_id",
        fround(dr, 6).alias("distinct_ratio"),
        fround(fr, 6).alias("filler_ratio"),
        fround(0.5 * dr + 0.3 * length_score + 0.2 * (1.0 - fr), 6).alias(
            "quality_score"
        ),
    )


# Marker vocabularies for the n-gram language-ID heuristic. The corpus
# is synthetic word-soup, so the "languages" are defined by marker
# token sets — the operator shape (per-language hit counting + argmax
# with deterministic tie-break) is exactly a real lang-ID heuristic.
_MARKERS = {
    "en": ("join", "scan", "hash"),
    "es": ("merge", "batch"),
    "de": ("row", "column"),
    "fr": ("filter", "group"),
    "zh": ("customer", "order"),
}


@register(
    "doc_lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
    hits AS (
      SELECT doc_id, lang,
        {", ".join(
            f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in ms)})))"
            f" AS h_{lg}"
            for lg, ms in _MARKERS.items()
        )}
      FROM tok
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
             WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
             WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
             WHEN h_fr >= h_zh THEN 'fr'
             ELSE 'zh'
           END AS detected_lang
    FROM hits
    """,
    doc="Language-ID heuristic: marker-token hit counts + argmax with "
    "fixed priority tie-break — n-gram lang-ID shape, pure built-ins.",
    tags=("text", "langid"),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"), "doc_id", "lang")
    t = F.col("toks")

    def marker_hits(ms):
        # NB: the lambda must take exactly one parameter — Spark binds a
        # Column to every lambda arg, so `lambda x, ms=ms:` breaks.
        return F.size(F.filter(t, lambda x: x.isin(*ms)))

    hits = {lg: marker_hits(ms) for lg, ms in _MARKERS.items()}
    detected = (
        F.when(
            (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["zh"]),
            "en",
        )
        .when(
            (hits["es"] >= hits["de"])
            & (hits["es"] >= hits["fr"])
            & (hits["es"] >= hits["zh"]),
            "es",
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["zh"]), "de")
        .when(hits["fr"] >= hits["zh"], "fr")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), detected.alias("detected_lang")
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    """,
    doc="Normalized content fingerprint (md5 of lowercased text) — the "
    "exact-dedup key for document-level dedup.",
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        F.length("text").cast("long").alias("text_len"),
    )


@register(
    "exact_dedup_docs",
    oracle="""
    SELECT md5(lower(trim(text))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on the content fingerprint, keep the "
    "lowest doc_id (deterministic survivor policy).",
    tags=("text", "dedup"),
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fp"), F.col("doc_id")
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# BPE-ish subword pattern, spelled in the regex dialect intersection:
# letter runs, single digits, any other non-space symbol.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "doc_bpe_token_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             regexp_extract_all(text, '{_BPE_PATTERN}') AS bpe,
             {_SQL_TOKENS} AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(len(ws) AS BIGINT) AS n_ws_tokens,
           {SQL_FROUND("len(bpe) * 1.0 / len(ws)", 4)} AS fertility
    FROM tok
    """,
    doc="BPE-ish token counting: subword regex (letter runs / digits / "
    "symbols) next to the whitespace count, with the fertility ratio "
    "(subwords per word) — the pre-training cost estimator shape.",
    tags=("text", "tokens", "bpe"),
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    ws = tokens(F.col("text"))
    staged = docs.select(
        "doc_id", bpe.alias("bpe"), ws.alias("ws")
    )
    return staged.select(
        "doc_id",
        F.size("bpe").cast("long").alias("n_bpe_tokens"),
        F.size("ws").cast("long").alias("n_ws_tokens"),
        fround(F.size("bpe") * F.lit(1.0) / F.size("ws"), 4).alias("fertility"),
    )


@register(
    "doc_rolling_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           CAST(list_reduce(
             list_prepend(7, list_transform(
               toks, x -> CAST(length(x) * 131 + unicode(x) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1073741824
           ) AS BIGINT) AS rolling_fp
    FROM tok
    """,
    doc="Rolling (polynomial) fingerprint over the token stream — "
    "order-SENSITIVE unlike the md5 set fingerprint: permuted "
    "documents hash differently. Accumulator stays < 2^35 via mod "
    "2^30 each step (ANSI-overflow-safe), identical fold both "
    "engines.",
    tags=("text", "fingerprint", "rolling"),
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"), "doc_id")
    per_tok = F.transform(
        "toks", lambda x: (F.length(x) * 131 + F.ascii(x)).cast("long")
    )
    fp = F.aggregate(
        per_tok,
        F.lit(7).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1073741824,
    )
    return docs.select("doc_id", fp.alias("rolling_fp"))


@register(
    "corpus_curation",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, text, n_chars, md5(lower(trim(text))) AS fp
      FROM documents
    ),
    survivors AS (
      SELECT doc_id, text, n_chars
      FROM fp
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    tok AS (
      SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks FROM survivors
    ),
    feats AS (
      SELECT doc_id, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             len(list_distinct(toks)) * 1.0 / len(toks) AS dr,
             len(list_filter(toks, x -> x IN {_SQL_FILLER})) * 1.0 / len(toks)
               AS fr,
             LEAST(len(toks) / 40.0, 1.0) AS ls,
             {", ".join(
                 f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in ms)})))"
                 f" AS h_{lg}"
                 for lg, ms in _MARKERS.items()
             )}
      FROM tok
    )
    SELECT doc_id, n_chars, n_tokens,
           {SQL_FROUND("0.5 * dr + 0.3 * ls + 0.2 * (1.0 - fr)", 6)}
             AS quality_score,
           CASE
             WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
             WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
             WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
             WHEN h_fr >= h_zh THEN 'fr'
             ELSE 'zh'
           END AS detected_lang
    FROM feats
    WHERE n_tokens >= 5
      AND 0.5 * dr + 0.3 * ls + 0.2 * (1.0 - fr) >= 0.5
    """,
    doc="End-to-end corpus curation in ONE scan: exact dedup (content "
    "fingerprint, lowest-id survivor) → quality scoring → quality + "
    "length filters → language ID. The composite form of the LLM "
    "training-data pipeline — every stage is a narrow projection so "
    "Catalyst fuses it into a single pass over the corpus plus one "
    "shuffle for the dedup window.",
    tags=("text", "pipeline", "dedup", "quality", "langid"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # materialize the fingerprint before the window — partitioning by
    # the raw md5 expression re-evaluates it per consumer
    w = Window.partitionBy("__fp").orderBy("doc_id")
    survivors = (
        docs.withColumn("__fp", F.md5(F.lower(F.trim(F.col("text")))))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )
    survivors = _with_tokens(survivors, "doc_id", "n_chars")
    t = F.col("toks")
    dr = distinct_ratio(t)
    fr = stopword_ratio(t, _FILLER)
    ls = F.least(F.size(t) / 40.0, F.lit(1.0))
    quality = 0.5 * dr + 0.3 * ls + 0.2 * (1.0 - fr)

    def marker_hits(ms):
        return F.size(F.filter(t, lambda x: x.isin(*ms)))

    hits = {lg: marker_hits(ms) for lg, ms in _MARKERS.items()}
    detected = (
        F.when(
            (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["zh"]),
            "en",
        )
        .when(
            (hits["es"] >= hits["de"])
            & (hits["es"] >= hits["fr"])
            & (hits["es"] >= hits["zh"]),
            "es",
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["zh"]), "de")
        .when(hits["fr"] >= hits["zh"], "fr")
        .otherwise("zh")
    )
    return (
        survivors.select(
            "doc_id",
            "n_chars",
            F.size(t).cast("long").alias("n_tokens"),
            quality.alias("__q"),
            detected.alias("detected_lang"),
        )
        .filter((F.col("n_tokens") >= 5) & (F.col("__q") >= 0.5))
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            fround(F.col("__q"), 6).alias("quality_score"),
            "detected_lang",
        )
    )


@register(
    "token_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks
      FROM documents WHERE doc_id < 300
    ),
    flat AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM tok),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM flat a JOIN flat b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {SQL_FROUND("i * 1.0 / (sa.n + sb.n - i)", 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
    doc="Exact token-set Jaccard near-dup pairs (restricted id range — "
    "the all-pairs ground truth; the scale path is MinHash-LSH).",
    tags=("text", "dedup", "jaccard"),
)
def token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    tok = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
    )
    flat = tok.select("doc_id", F.explode("toks").alias("t"))
    sizes = tok.select("doc_id", F.size("toks").cast("long").alias("n"))
    a = flat.alias("a")
    b = flat.alias("b")
    inter = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", fround(jac, 6).alias("jaccard"))
    )


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(generate_series(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+1], ' '))
             END AS bigrams
      FROM tok
    ),
    top AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(toks) AS t FROM tok)
        GROUP BY doc_id, t
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           1 - len(list_distinct(b.toks)) / len(b.toks) AS dup_token_frac,
           1 - len(list_distinct(b.bigrams)) / len(b.bigrams)
             AS dup_bigram_frac,
           t.top_cnt / len(b.toks) AS top_token_share
    FROM bg b JOIN top t ON b.doc_id = t.doc_id
    """,
    doc="Gopher-style repetition signals per document: duplicate-token "
    "and duplicate-bigram fractions (pure codegen expressions) and the "
    "top-token share (explode + two grouped passes — the scalable "
    "mode-count shape, never an O(len^2) per-row expression). All "
    "ratios are single IEEE divisions of exact integers, so no "
    "rounding is needed for cross-engine determinism.",
    tags=("text", "quality", "repetition"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("toks")
    staged = docs.select(
        "doc_id", "toks", word_shingles(t, 2).alias("bigrams")
    )
    top = (
        docs.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return (
        staged.join(top, "doc_id")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            (
                F.lit(1)
                - F.size(F.array_distinct("toks")) / F.size("toks")
            ).alias("dup_token_frac"),
            (
                F.lit(1)
                - F.size(F.array_distinct("bigrams")) / F.size("bigrams")
            ).alias("dup_bigram_frac"),
            (F.col("top_cnt") / F.size("toks")).alias("top_token_share"),
        )
    )
