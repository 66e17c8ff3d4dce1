"""Embedding similarity-search + near-dup queries (BASELINE.json
north-star surface) over the embeddings table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, fround
from ..functions.vectors import cosine_similarity, to_double_array
from ..operators.dedup import minhash_dedup_pairs, simhash_neardup_pairs
from ..operators.similarity import (
    cosine_topk_arrow,
    cosine_topk_blockwise,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from ..sources.tpch import load_table
from .registry import register

# DuckDB twins of functions.vectors (explicit double math, same
# left-to-right fold as Spark's aggregate()).
_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)} / "
        f"({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)}))"
    )


@register(
    "ann_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {SQL_FROUND(_sql_cosine("e.embedding", "q.qe"), 6)} AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Exact top-k cosine neighbors of a query vector via built-in "
    "zip_with/aggregate (JVM-side) — the ANN correctness baseline.",
    tags=("vectors", "ann"),
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    e = emb.filter(F.col("vec_id") != 0)
    sim = cosine_similarity(
        to_double_array(F.col("embedding")), to_double_array(F.col("qe"))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", "label", fround(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {SQL_FROUND(_sql_cosine("a.embedding", "b.embedding"), 6)} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_sql_cosine("a.embedding", "b.embedding")} >= 0.3
    """,
    doc="Embedding-cosine near-dup pairs (restricted id range = exact "
    "ground truth; scale path is hyperplane LSH in operators/similarity).",
    tags=("vectors", "dedup"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", to_double_array("embedding").alias("v"))
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(sim >= 0.3)
        .select("id_a", "id_b", fround(sim, 6).alias("cosine_sim"))
    )


# Label-free oracle shared by the exact numpy tiers (blockwise +
# arrow): same rows as ann_topk_cosine, columns (vec_id, cosine_sim).
_SQL_TOPK_EXACT = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {SQL_FROUND(_sql_cosine("e.embedding", "q.qe"), 6)} AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """


def _rounded_topk(raw: DataFrame, k: int) -> DataFrame:
    """Re-rank a raw-double top-k by the ROUNDED similarity so the gate
    ordering (rounded desc, vec_id asc) matches the oracle's exactly.
    ``raw`` carries a 10x buffer: membership can only diverge from the
    all-rows oracle if MORE than buffer rows share one 6-dp rounded
    value spanning the k-boundary (the oracle would then pick lowest
    vec_ids from the whole tie group, the buffer only from its top
    raw scores). 100+ six-decimal ties would mean near-duplicate
    vectors at scale — use the dedup operators first in that regime."""
    return (
        raw.select("vec_id", fround(F.col("cosine_sim"), 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@register(
    "ann_topk_blockwise",
    oracle=_SQL_TOPK_EXACT,
    doc="Exact top-k via numpy-matmul mapInPandas (the throughput tier); "
    "exact ⇒ it carries the same oracle as ann_topk_cosine (label-free "
    "projection, rounded re-rank with a 10x raw buffer).",
    tags=("vectors", "ann", "mapInPandas"),
)
def ann_topk_blockwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    raw = cosine_topk_blockwise(emb.filter(F.col("vec_id") != 0), query, k=100)
    return _rounded_topk(raw, k=10)


def _lsh_oracle_sql(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of the full LSH pipeline: the seeded hyperplane
    matrix is small and deterministic, so its float64 values are
    inlined as SQL list literals (repr round-trips doubles exactly).
    The SQL then recomputes bucket ids, the query's multi-probe set
    (base bucket + every Hamming-1 neighbor), the candidate filter,
    and the exact cosine rerank — the whole approximate path becomes
    value-checkable, not just rows-only."""
    from ..operators.similarity import hyperplane_planes

    planes = hyperplane_planes(dim, n_planes=n_planes, seed=seed)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}])"
        for i in range(n_planes)
    )
    dot = _SQL_DOT.format(a="{v}", b="p.pvec")
    return f"""
    WITH planes(pidx, pvec) AS (VALUES {rows}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qbucket AS (
      SELECT SUM(CASE WHEN {dot.format(v='q.qe')} > 0
                      THEN 1::BIGINT << p.pidx ELSE 0 END)::BIGINT AS base
      FROM planes p, q
    ),
    probes AS (
      SELECT base AS b FROM qbucket
      UNION ALL
      SELECT xor(base, 1::BIGINT << i.i)
      FROM qbucket, (SELECT UNNEST(range({n_planes})) AS i) i
    ),
    vb AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {dot.format(v='e.embedding')} > 0
                      THEN 1::BIGINT << p.pidx ELSE 0 END)::BIGINT AS bucket
      FROM embeddings e CROSS JOIN planes p
      WHERE e.vec_id != 0
      GROUP BY e.vec_id
    )
    SELECT e.vec_id,
           {SQL_FROUND(_sql_cosine("e.embedding", "q.qe"), 6)} AS cosine_sim
    FROM embeddings e
    JOIN vb ON vb.vec_id = e.vec_id
    CROSS JOIN q
    WHERE vb.bucket IN (SELECT b FROM probes)
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """


@register(
    "ann_topk_lsh",
    oracle=_lsh_oracle_sql(),
    doc="Approximate top-k: random-hyperplane LSH bucket prefilter + "
    "exact rerank (multi-probe Hamming-1); recall pinned in tests. "
    "Oracled end-to-end: the seeded plane matrix is inlined into the "
    "DuckDB SQL as literals, so bucket assignment, probing, and rerank "
    "are all value-checked (rounded re-rank, 10k raw buffer).",
    tags=("vectors", "ann", "lsh"),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    raw = cosine_topk_lsh(
        emb.filter(F.col("vec_id") != 0), query, k=100, n_planes=8
    )
    return _rounded_topk(raw, k=10)


_PERTURB_OFFSET = 1_000_000


def _with_planted_neardups(emb: DataFrame) -> DataFrame:
    """Union the embeddings with deterministically perturbed copies
    (±2% per-coordinate ripple → cosine ≈ 0.999 to the original) so the
    table contains KNOWN near-duplicates — the raw synthetic vectors top
    out at cosine ≈ 0.51, below any sane near-dup threshold."""
    perturbed = emb.select(
        (F.col("vec_id") + F.lit(_PERTURB_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.02 * ((i % 7) - 3) / 3.0),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(perturbed)


def _neardup_lsh_oracle_sql(
    n_planes: int = 16, n_chunks: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB twin of the banded all-pairs near-dup path, planting
    included: perturbed copies (list_transform with 1-based index →
    ``(i-1) % 7`` mirrors Spark's 0-based lambda), 4-bit signature
    chunks from the inlined hyperplane literals, the (chunk_idx,
    chunk_val) candidate equi-join, and the exact cosine rerank with
    floor-based rounding."""
    from ..operators.similarity import hyperplane_planes

    planes = hyperplane_planes(dim, n_planes=n_planes, seed=seed)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}])"
        for i in range(n_planes)
    )
    bits_per = n_planes // n_chunks
    dot = _SQL_DOT.format(a="a.v", b="p.pvec")
    return f"""
    WITH planes(pidx, pvec) AS (VALUES {rows}),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    allv AS (
      SELECT * FROM base
      UNION ALL
      SELECT vec_id + {_PERTURB_OFFSET},
             list_transform(
               v, (x, i) -> x * (1.0 + 0.02 * (((i - 1) % 7) - 3) / 3.0))
      FROM base
    ),
    sig AS (
      SELECT a.vec_id, p.pidx // {bits_per} AS chunk_idx,
             SUM(CASE WHEN {dot} > 0
                      THEN 1::BIGINT << (p.pidx % {bits_per}) ELSE 0 END)
               AS chunk_val
      FROM allv a CROSS JOIN planes p
      GROUP BY a.vec_id, p.pidx // {bits_per}
    ),
    cand AS (
      SELECT DISTINCT s1.vec_id AS id_a, s2.vec_id AS id_b
      FROM sig s1 JOIN sig s2
        ON s1.chunk_idx = s2.chunk_idx AND s1.chunk_val = s2.chunk_val
       AND s1.vec_id < s2.vec_id
    )
    SELECT c.id_a, c.id_b,
           {SQL_FROUND(_sql_cosine("va.v", "vb.v"), 6)} AS cosine_sim
    FROM cand c
    JOIN allv va ON va.vec_id = c.id_a
    JOIN allv vb ON vb.vec_id = c.id_b
    WHERE {_sql_cosine("va.v", "vb.v")} >= 0.9
    """


@register(
    "embedding_neardup_pairs_lsh",
    oracle=_neardup_lsh_oracle_sql(),
    doc="Embedding near-dup pairs via hyperplane-LSH banding — the "
    "scale path behind the exact quadratic embedding_neardup_pairs. "
    "Known near-dups are planted (perturbed copies, cosine ≈ 0.999); "
    "candidates come from a (band, signature-chunk) equi-join, then an "
    "exact cosine rerank — precision is exact by construction, recall "
    "vs the planted ground truth pinned in tests/test_similarity. "
    "Oracled end-to-end with the plane matrix inlined as SQL literals.",
    tags=("vectors", "dedup", "lsh"),
)
def embedding_neardup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        embedding_neardup_pairs_lsh as _pairs_lsh,
    )

    return _pairs_lsh(
        _with_planted_neardups(load_table(spark, sf_dir, "embeddings")),
        threshold=0.9,
    )


@register(
    "ann_topk_ivf",
    oracle=None,
    doc="Approximate top-k via IVF: deterministic-seed k-means coarse "
    "quantizer (distributed Lloyd iterations), nearest-list "
    "assignment, n-probe search + exact rerank; recall pinned in "
    "tests/test_similarity. Rows-only: the trained centroids are "
    "data-dependent float aggregates, so a literal-inlined oracle "
    "isn't possible the way it is for the seeded-plane LSH tiers.",
    tags=("vectors", "ann", "ivf"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return cosine_topk_ivf(
        emb.filter(F.col("vec_id") != 0),
        query,
        k=10,
        n_centroids=16,
        n_probe=4,
    )


@register(
    "ann_topk_arrow",
    oracle=_SQL_TOPK_EXACT,
    doc="Exact top-k via mapInArrow (zero-copy RecordBatch→numpy, no "
    "pandas materialization of the wide array column); exact ⇒ same "
    "oracle as the expression tier (rounded re-rank, 10k raw buffer).",
    tags=("vectors", "ann", "mapInArrow"),
)
def ann_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    raw = cosine_topk_arrow(emb.filter(F.col("vec_id") != 0), query, k=100)
    return _rounded_topk(raw, k=10)


@register(
    "minhash_neardup_pairs",
    oracle=None,
    doc="MinHash-LSH near-dup candidate pairs over documents "
    "(shingle→minhash→band→bucket-join); recall vs exact Jaccard "
    "pinned in tests/test_dedup.",
    tags=("text", "dedup", "minhash"),
)
def minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.4
    )


@register(
    "simhash_neardup_pairs",
    oracle=None,
    doc="SimHash near-dup pairs (48-bit fingerprint, chunk-band join, "
    "Hamming ≤ 3) — all JVM-side expressions.",
    tags=("text", "dedup", "simhash"),
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)


@register(
    "minhash_neardup_pairs_oph",
    oracle=None,
    doc="MinHash-LSH near-dup pairs via ONE-permutation hashing with "
    "densification (Li/Owen/Zhang 2012, Shrivastava/Li 2014) — one "
    "shingle hash + a bit-shift bin instead of 64 multiply-shift "
    "permutations, cutting the dominant signature pass to O(shingles); "
    "precision/recall vs exact Jaccard pinned in tests/test_dedup.",
    tags=("text", "dedup", "minhash", "oph"),
)
def minhash_neardup_pairs_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.4,
        method="oph",
    )


@register(
    "ann_topk_pq",
    oracle=None,  # PQ codebooks are data-dependent float aggregates (like IVF)
    doc="ANN top-k via product quantization (Jégou et al., TPAMI 2011): "
    "M=8 subspaces × K=16 deterministic codewords compress each 64-dim "
    "vector to 8 small ints; the asymmetric-distance shortlist is a "
    "sum of codegen element_at probes into a literal LUT (the scan "
    "touches only the code column), then an exact rerank of the "
    "100-row buffer. Recall vs the exact tier and end-to-end "
    "determinism pinned in tests/test_similarity.py.",
    tags=("vectors", "ann", "pq"),
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    raw = cosine_topk_pq(
        emb.filter(F.col("vec_id") != 0), query, k=100, candidates=100
    )
    return _rounded_topk(raw, k=10)


def minhash_portable_ctes(
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    pair_cond: str = "x.doc_id < y.doc_id",
) -> str:
    """CTE body (no WITH, no final SELECT) computing portable MinHash
    signatures, band buckets, candidate pairs and the position-match
    estimate as relation ``est`` — shared by the pairs oracle below
    and the cluster-resolution oracle in plans/curation.py."""
    from ..operators.dedup import minhash_perm_arrays

    a_mult, b_add = minhash_perm_arrays(num_perm)
    perm_rows = ", ".join(
        f"({j}, {int(a_mult[j])}, {int(b_add[j])})" for j in range(num_perm)
    )
    rows_per_band = num_perm // bands
    toks = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"
    shingles = f"""
      CASE WHEN len(toks) <= {shingle_n} THEN [array_to_string(toks, ' ')]
           ELSE list_transform(generate_series(1, len(toks) - {shingle_n - 1}),
                               i -> array_to_string(toks[i:i+{shingle_n - 1}], ' '))
      END"""
    md5_int8 = """
      CAST(list_sum(list_transform(generate_series(1, 8),
        k -> (strpos('0123456789abcdef', substr(md5(s), k, 1)) - 1)
             * CAST(16 AS BIGINT) ** (8 - k))) AS BIGINT)"""
    return f"""
    tok AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles}) AS s FROM tok
    ),
    h AS (SELECT doc_id, {md5_int8} AS h FROM sh),
    perms(j, a, b) AS (VALUES {perm_rows}),
    m AS (
      SELECT doc_id, j, MIN((a * h + b) % 4294967296) AS m
      FROM h CROSS JOIN perms GROUP BY doc_id, j
    ),
    sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM m GROUP BY doc_id),
    bnd AS (
      SELECT doc_id, g.b AS band,
             array_to_string(sig[g.b * {rows_per_band} + 1 :
                                 g.b * {rows_per_band} + {rows_per_band}], ',')
               AS bucket
      FROM sig, generate_series(0, {bands - 1}) g(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.bucket = y.bucket AND {pair_cond}
    ),
    est AS (
      SELECT id_a, id_b,
             CAST(list_sum(list_transform(generate_series(1, {num_perm}),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                  AS DOUBLE) / {num_perm}.0 AS est_jaccard
      FROM cand
      JOIN sig sa ON cand.id_a = sa.doc_id
      JOIN sig sb ON cand.id_b = sb.doc_id
    )
    """


def _minhash_portable_oracle(
    num_perm: int = 64, bands: int = 16, shingle_n: int = 3, threshold: float = 0.4
) -> str:
    """Full pairs oracle: the shared CTE body + threshold filter."""
    return (
        "WITH "
        + minhash_portable_ctes(num_perm, bands, shingle_n)
        + f" SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}"
    )


@register(
    "minhash_neardup_pairs_portable",
    oracle=_minhash_portable_oracle(),
    doc="MinHash-LSH near-dup pairs on PORTABLE hashes: md5-derived "
    "32-bit shingle hashes + string-keyed band buckets, so the entire "
    "pipeline — seeded permutations (inlined as SQL literals), "
    "banding, position-match estimator, threshold — is value-checked "
    "end-to-end by a DuckDB oracle. The xxhash64 tiers "
    "(minhash_neardup_pairs / _oph) stay rows-only for speed; this "
    "tier proves the algorithm itself cross-engine.",
    tags=("text", "dedup", "minhash", "portable"),
)
def minhash_neardup_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.4,
        method="portable",
    )


def _simhash_portable_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    """DuckDB oracle for the portable SimHash tier: md5-derived 48-bit
    token hashes, 48 signed bit-sums per document, 12-bit chunk
    banding (pigeonhole for Hamming <= 3), bit_count Hamming verify."""
    toks = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"
    md5_int12 = """
      CAST(list_sum(list_transform(generate_series(1, 12),
        k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1)
             * CAST(16 AS BIGINT) ** (12 - k))) AS BIGINT)"""
    bit_sums = ",\n             ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(bits)
    )
    fp_expr = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    chunk_rows = ", ".join(f"({i})" for i in range(4))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, {md5_int12} AS h FROM tok),
    sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp_expr} AS simhash FROM sums),
    ci(i) AS (VALUES {chunk_rows}),
    chunks AS (
      SELECT doc_id, simhash, i AS chunk_idx,
             (simhash >> (12 * i)) & 4095 AS chunk
      FROM fp CROSS JOIN ci
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS fp_a, b.simhash AS fp_b
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


@register(
    "simhash_neardup_pairs_portable",
    oracle=_simhash_portable_oracle(),
    doc="SimHash near-dup pairs on PORTABLE hashes: md5-derived 48-bit "
    "token hashes make fingerprints, chunk banding, and the Hamming "
    "verify reproducible in DuckDB — the SimHash algorithm "
    "value-checked end-to-end (the xxhash64 tier stays rows-only for "
    "speed).",
    tags=("text", "dedup", "simhash", "portable"),
)
def simhash_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=3, portable=True
    )


def _minhash_oph_portable_oracle(
    num_perm: int = 64, bands: int = 16, shingle_n: int = 3, threshold: float = 0.4
) -> str:
    """DuckDB oracle for the portable OPH tier — one md5-derived hash
    per shingle, top-bits binning, per-bin mins, and the circular
    right-borrow densification (Shrivastava & Li 2014) expressed as
    list ops over a doubled signature, then the same string-keyed
    banding + estimator as the portable classic tier. This
    value-checks the NOVEL part of OPH (densification), which the
    xxhash64 tier can only pin with recall tests."""
    shift = 32 - (num_perm.bit_length() - 1)
    rows_per_band = num_perm // bands
    toks = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"
    shingles = f"""
      CASE WHEN len(toks) <= {shingle_n} THEN [array_to_string(toks, ' ')]
           ELSE list_transform(generate_series(1, len(toks) - {shingle_n - 1}),
                               i -> array_to_string(toks[i:i+{shingle_n - 1}], ' '))
      END"""
    md5_int8 = """
      CAST(list_sum(list_transform(generate_series(1, 8),
        k -> (strpos('0123456789abcdef', substr(md5(s), k, 1)) - 1)
             * CAST(16 AS BIGINT) ** (8 - k))) AS BIGINT)"""
    return f"""
    WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles}) AS s FROM tok
    ),
    h AS (SELECT doc_id, {md5_int8} AS h FROM sh),
    mins AS (
      SELECT doc_id, h >> {shift} AS bin, MIN(h) AS m
      FROM h GROUP BY doc_id, bin
    ),
    grid AS (
      SELECT d.doc_id, g.j
      FROM (SELECT DISTINCT doc_id FROM mins) d,
           generate_series(0, {num_perm - 1}) g(j)
    ),
    rawv AS (
      SELECT grid.doc_id, grid.j, mins.m
      FROM grid LEFT JOIN mins
        ON grid.doc_id = mins.doc_id AND grid.j = mins.bin
    ),
    rawlist AS (
      SELECT doc_id, list(m ORDER BY j) AS raw FROM rawv GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             list_transform(generate_series(1, {num_perm}),
               j -> COALESCE(raw[j],
                             list_filter((raw || raw)[j+1 : j+{num_perm - 1}],
                                         x -> x IS NOT NULL)[1])) AS sig
      FROM rawlist
    ),
    bnd AS (
      SELECT doc_id, g.b AS band,
             array_to_string(sig[g.b * {rows_per_band} + 1 :
                                 g.b * {rows_per_band} + {rows_per_band}], ',')
               AS bucket
      FROM sig, generate_series(0, {bands - 1}) g(b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    est AS (
      SELECT id_a, id_b,
             CAST(list_sum(list_transform(generate_series(1, {num_perm}),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                  AS DOUBLE) / {num_perm}.0 AS est_jaccard
      FROM cand
      JOIN sig sa ON cand.id_a = sa.doc_id
      JOIN sig sb ON cand.id_b = sb.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}
    """


@register(
    "minhash_neardup_pairs_oph_portable",
    oracle=_minhash_oph_portable_oracle(),
    doc="One-permutation-hashing MinHash on PORTABLE hashes: binning, "
    "per-bin mins, and the circular densification borrow are all "
    "value-checked end-to-end by a DuckDB oracle (the only tier where "
    "the densification algebra itself is cross-engine verified; the "
    "xxhash64 OPH tier pins it with recall tests).",
    tags=("text", "dedup", "minhash", "oph", "portable"),
)
def minhash_neardup_pairs_oph_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.4,
        method="oph_portable",
    )


def _projection_matrix(out_dim: int = 8, in_dim: int = 64, seed: int = 7):
    import numpy as np

    return np.random.default_rng(seed).standard_normal((out_dim, in_dim))


@register(
    "embedding_random_projection",
    oracle=(
        lambda planes: f"""
    SELECT vec_id,
           {", ".join(
        SQL_FROUND(
            "list_sum(list_transform(list_zip(embedding, ["
            + ", ".join(repr(float(x)) for x in planes[k])
            + "]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))",
            6,
        )
        + f" AS p{k}"
        for k in range(planes.shape[0])
    )}
    FROM embeddings
    """
    )(_projection_matrix()),
    doc="Johnson-Lindenstrauss random projection 64 -> 8 dims (seeded "
    "Gaussian matrix inlined as SQL literals, like the LSH planes): "
    "the dimensionality-reduction stage of an embedding pipeline, as "
    "8 JVM-side zip_with/aggregate dot products in one codegen "
    "projection — no shuffle, no Python. Distance preservation within "
    "JL distortion is pinned in tests/test_similarity.py.",
    tags=("vectors", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    planes = _projection_matrix()
    emb = load_table(spark, sf_dir, "embeddings")
    vec = to_double_array(F.col("embedding"))
    cols = [
        fround(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in planes[k]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias(f"p{k}")
        for k in range(planes.shape[0])
    ]
    return emb.select("vec_id", *cols)


# ---------------------------------------------------------------------------
# Portable IVF twin: integer-quantized k-means, trained inside the
# oracle too (the fast-tier/portable-twin split, completed for ANN).
# ---------------------------------------------------------------------------


def _ivf_sql_dot(a: str, b: str) -> str:
    """Exact integer dot widened to double (values < 2^53)."""
    return (
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> {a}[i]*{b}[i])) AS DOUBLE)"
    )


def _ivf_sql_score(q: str, c: str) -> str:
    return f"({_ivf_sql_dot(q, c)} / sqrt({_ivf_sql_dot(c, c)}))"


def _ivf_sql_assign(out: str, cents: str, corpus: str = "corpus") -> str:
    """One Lloyd assignment: argmax centroid per vector with the
    (score DESC, list_id) total order. ``corpus`` names the (vid, q)
    relation being assigned — the incremental-index oracle assigns a
    DIFFERENT relation (the increment) against the same codebook."""
    return f"""{out} AS (
      SELECT vid, list_id, q FROM (
        SELECT co.vid, s.list_id, co.q,
               row_number() OVER (PARTITION BY co.vid ORDER BY
                 {_ivf_sql_score("co.q", "s.c")} DESC, s.list_id) AS rn
        FROM {corpus} co CROSS JOIN {cents} s) WHERE rn = 1
    )"""


def _ivf_sql_update(assign: str, mname: str, cname: str) -> str:
    """One Lloyd update: per-(list, dim) integer mean with the portable
    floor-division (see cosine_topk_ivf_portable)."""
    return f"""{mname} AS (
      SELECT list_id, t.d,
             CAST(FLOOR(CAST(SUM(q[t.d]) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS cv
      FROM {assign} CROSS JOIN generate_series(1, 64) AS t(d)
      GROUP BY list_id, t.d
    ),
    {cname} AS (SELECT list_id, list(cv ORDER BY d) AS c FROM {mname} GROUP BY list_id)"""


_IVF_PORTABLE_ORACLE = f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    corpus AS (SELECT vec_id AS vid, q FROM base WHERE vec_id <> 0),
    qv AS (SELECT q AS qq FROM base WHERE vec_id = 0),
    seeds AS (
      SELECT vid, q FROM corpus
      WHERE vid % (SELECT GREATEST(1, COUNT(*) // 16) FROM corpus) = 0
      ORDER BY vid LIMIT 16
    ),
    c0 AS (SELECT row_number() OVER (ORDER BY vid) - 1 AS list_id, q AS c
           FROM seeds),
    {_ivf_sql_assign("a1", "c0")},
    {_ivf_sql_update("a1", "m1", "c1")},
    {_ivf_sql_assign("a2", "c1")},
    {_ivf_sql_update("a2", "m2", "c2")},
    probe AS (
      SELECT list_id FROM (
        SELECT s.list_id,
               row_number() OVER (ORDER BY {_ivf_sql_score("qq", "s.c")} DESC,
                                  s.list_id) AS rn
        FROM c2 s CROSS JOIN qv) WHERE rn <= 4
    ),
    {_ivf_sql_assign("a3", "c2")},
    rer AS (
      SELECT vid,
             {_ivf_sql_dot("q", "qq")}
               / (sqrt({_ivf_sql_dot("q", "q")}) * sqrt({_ivf_sql_dot("qq", "qq")}))
               AS cos
      FROM a3 JOIN probe USING (list_id) CROSS JOIN qv
    )
    SELECT vid AS vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vid) AS INTEGER) AS rnk,
           FLOOR(cos*1000000.0 + 0.5)/1000000.0 AS cosine_sim
    FROM rer QUALIFY rnk <= 10
    """


@register(
    "ann_topk_ivf_portable",
    oracle=_IVF_PORTABLE_ORACLE,
    doc="IVF top-k whose TRAINING is oracled, not just its output "
    "shape: embeddings quantize to integer micro-units, so Lloyd means "
    "are exact integer sums with a portable floor-division, centroid "
    "affinities are integer dots over one IEEE sqrt, and every argmax "
    "carries a list_id tie-break — DuckDB replays seeding, two Lloyd "
    "iterations, probing, and the exact rerank bit-identically. "
    "Completes the fast-tier/portable-twin pattern for ANN: "
    "ann_topk_ivf (numpy float k-means, rows-only) keeps the "
    "throughput, this twin carries the oracle.",
    tags=("vectors", "ann", "ivf", "portable"),
)
def ann_topk_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf_portable

    return cosine_topk_ivf_portable(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Portable PQ twin — codebook training + ADC scan in exact integers
# ---------------------------------------------------------------------------


def _pq_sql_dot8(a: str, b: str) -> str:
    """Exact BIGINT dot over an 8-dim subspace."""
    return (
        "CAST(list_sum(list_transform(generate_series(1, 8), "
        f"i -> {a}[i]*{b}[i])) AS BIGINT)"
    )


def _pq_sql_encode(out: str, books: str) -> str:
    """Per-(vector, subspace) integer argmin |c|^2 - 2 x.c with a code
    tie-break — no floats."""
    qm = "list_slice(co.q, t.m*8 + 1, t.m*8 + 8)"
    return f"""{out} AS (
      SELECT vid, m, code FROM (
        SELECT co.vid, t.m, b.code,
               row_number() OVER (PARTITION BY co.vid, t.m ORDER BY
                 {_pq_sql_dot8("b.c8", "b.c8")}
                   - 2*{_pq_sql_dot8(qm, "b.c8")} ASC, b.code ASC) AS rn
        FROM corpus co
        CROSS JOIN generate_series(0, 7) AS t(m)
        JOIN {books} b ON b.m = t.m) WHERE rn = 1
    )"""


def _pq_sql_update(enc: str, mname: str, bname: str) -> str:
    return f"""{mname} AS (
      SELECT e.m, e.code, t.j,
             CAST(FLOOR(CAST(SUM(list_extract(co.q, e.m*8 + t.j)) AS DOUBLE)
                        / COUNT(*)) AS BIGINT) AS cv
      FROM {enc} e JOIN corpus co USING (vid)
      CROSS JOIN generate_series(1, 8) AS t(j)
      GROUP BY e.m, e.code, t.j
    ),
    {bname} AS (SELECT m, code, list(cv ORDER BY j) AS c8
                FROM {mname} GROUP BY m, code)"""


_PQ_PORTABLE_ORACLE = f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    corpus AS (SELECT vec_id AS vid, q FROM base WHERE vec_id <> 0),
    qv AS (SELECT q AS qq FROM base WHERE vec_id = 0),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vid) - 1 AS code, q FROM (
        SELECT vid, q FROM corpus
        WHERE vid % (SELECT GREATEST(1, COUNT(*) // 16) FROM corpus) = 0
        ORDER BY vid LIMIT 16)
    ),
    b0 AS (
      SELECT t.m, s.code, list_slice(s.q, t.m*8 + 1, t.m*8 + 8) AS c8
      FROM seeds s CROSS JOIN generate_series(0, 7) AS t(m)
    ),
    {_pq_sql_encode("e1", "b0")},
    {_pq_sql_update("e1", "u1", "b1")},
    {_pq_sql_encode("e2", "b1")},
    {_pq_sql_update("e2", "u2", "b2")},
    {_pq_sql_encode("e3", "b2")},
    lut AS (
      SELECT b.m, b.code,
             {_pq_sql_dot8("list_slice(qv.qq, b.m*8 + 1, b.m*8 + 8)", "b.c8")}
               AS l
      FROM b2 b CROSS JOIN qv
    ),
    shortlist AS (
      SELECT vid FROM (
        SELECT e.vid,
               row_number() OVER (ORDER BY SUM(l) DESC, e.vid ASC) AS rn
        FROM e3 e JOIN lut USING (m, code)
        GROUP BY e.vid) WHERE rn <= 100
    ),
    rer AS (
      SELECT co.vid,
             CAST(list_sum(list_transform(generate_series(1, 64),
                                          i -> co.q[i]*qv.qq[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                                          i -> co.q[i]*co.q[i])) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                                          i -> qv.qq[i]*qv.qq[i])) AS DOUBLE)))
               AS cos
      FROM corpus co JOIN shortlist USING (vid) CROSS JOIN qv
    )
    SELECT vid AS vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vid) AS INTEGER) AS rnk,
           FLOOR(cos*1000000.0 + 0.5)/1000000.0 AS cosine_sim
    FROM rer QUALIFY rnk <= 10
    """


@register(
    "ann_topk_pq_portable",
    oracle=_PQ_PORTABLE_ORACLE,
    doc="PQ top-k whose codebook TRAINING and ADC scan are oracled: "
    "integer-quantized vectors make per-subspace encoding a pure "
    "integer argmin (|c|^2 - 2 x.c, code tie-break), Lloyd means the "
    "portable floor-division, and the asymmetric-distance score an "
    "exact integer SUM of M=8 LUT probes — floats only in the final "
    "exact-cosine rerank of the 100-row buffer (single "
    "correctly-rounded IEEE ops). With ann_topk_ivf_portable this "
    "completes the fast-tier/portable-twin pattern across every ANN "
    "tier; ann_topk_pq (numpy float k-means) keeps the throughput.",
    tags=("vectors", "ann", "pq", "portable"),
)
def ann_topk_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_pq_portable

    return cosine_topk_pq_portable(load_table(spark, sf_dir, "embeddings"))
