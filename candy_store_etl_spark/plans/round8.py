"""Round-8 queries: the storage-partitioned (co-located) join over
bucketed table-log tables, and the multi-probe LSH serving tier with
its oracled recall/scan frontier.

Reference parity hooks: the reference's joins re-shuffle both inputs
per run (`/root/reference/src/data_processor.py` — items x products,
summaries x headers); the co-located join is the at-scale answer when
BOTH sides are fact-sized. The LSH rows extend the ANN serving
surface the same way round 7's IVF sweep did: an approximate tier is
not done until its recall/scan trade is a measured, hash-checked
number.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND
from ..sources.tpch import load_table
from .registry import register

_N_BUCKETS = 16


def _ensure_colocated_tables(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, content-keyed) the bucketed join fixtures: an
    order-stats fact and a customer dim, both hash-bucketed on
    cust_key with the spec committed into their logs — plus a THIRD
    table that is the dim COARSENED to 4 buckets/file, so the
    mixed-layout query proves alignment survives compaction."""
    from ..operators.colocated import write_bucketed
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.cdc import compact_warehouse

    okey = content_fingerprint(os.path.join(sf_dir, "orders.parquet"))
    ckey = content_fingerprint(os.path.join(sf_dir, "customer.parquet"))
    root = os.path.join(
        tempfile.gettempdir(), f"csetl_coloc_{okey}_{ckey}_n{_N_BUCKETS}"
    )
    sub = {
        n: os.path.join(root, n)
        for n in ("order_stats", "cust_dim", "cust_dim_coarse")
    }

    def _intact(d: str) -> bool:
        vers = {
            "order_stats": 0,
            "cust_dim": 0,
            "cust_dim_coarse": 1,
            "order_lines": 0,
        }
        for n, want in vers.items():
            t = os.path.join(d, n)
            if tl.current_version(t) != want:
                return False
            if not all(os.path.exists(p) for p in tl.snapshot_files(t)):
                return False
        return True

    def _build(stage: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        stats = orders.groupBy(
            F.col("o_custkey").alias("cust_key")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer cents: the sum is associative and exact, so the
            # bucketed write's partitioning can never change the value
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("spend_cents"),
        )
        dim = cust.select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        write_bucketed(
            stats,
            os.path.join(stage, "order_stats"),
            key_col="cust_key",
            n_buckets=_N_BUCKETS,
        )
        # the RAW fact rows bucketed by customer — the layout that
        # makes per-customer aggregation exchange-free
        write_bucketed(
            orders.select(
                F.col("o_custkey").alias("cust_key"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            ),
            os.path.join(stage, "order_lines"),
            key_col="cust_key",
            n_buckets=_N_BUCKETS,
        )
        for n in ("cust_dim", "cust_dim_coarse"):
            write_bucketed(
                dim,
                os.path.join(stage, n),
                key_col="cust_key",
                n_buckets=_N_BUCKETS,
            )
        compact_warehouse(
            spark,
            os.path.join(stage, "cust_dim_coarse"),
            key_col="cust_key",
            n_buckets=_N_BUCKETS,
            buckets_per_file=4,
        )

    ensure_scratch(root, _build, _intact)
    return root


_COLOC_ORACLE = """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(s.n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(s.spend_cents) AS BIGINT) AS spend_cents
    FROM (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS spend_cents
      FROM orders GROUP BY o_custkey
    ) s
    JOIN customer c ON c.c_custkey = s.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY mktsegment
    """


def _coloc_segment_rollup(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            F.sum("spend_cents").alias("spend_cents"),
        )
        .orderBy("mktsegment")
    )


@register(
    "colocated_customer_join",
    oracle=_COLOC_ORACLE,
    doc="Storage-partitioned join of TWO fact-sized table-log tables "
    "with zero shuffle of table data: both sides were written "
    "hash-bucketed on cust_key (pmod(xxhash64, 16)) with the bucket "
    "spec committed into each table's log, so the join plans as one "
    "task per bucket reading both sides' files for exactly that key "
    "range and merging locally (Acero hash join, Arrow end-to-end). "
    "The routing relation arrives pre-sliced one row per task with NO "
    "exchange at all (r12: the metadata range-repartition and its "
    "sampling job are gone); no parquet scan "
    "appears in the JVM plan at all (pinned in tests). The DuckDB "
    "oracle is the plain join+rollup — bucketing is a layout "
    "contract, never a semantics change. At 100 TB this is the SPJ "
    "shape Spark ships for Iceberg scans, delivered through the "
    "table log's own committed metadata.",
    tags=("join", "table_log", "bucketed", "mapInPandas"),
)
def colocated_customer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import colocated_bucket_join

    root = _ensure_colocated_tables(spark, sf_dir)
    joined = colocated_bucket_join(
        spark,
        os.path.join(root, "order_stats"),
        os.path.join(root, "cust_dim"),
    )
    return _coloc_segment_rollup(joined)


@register(
    "colocated_join_coarse_layout",
    oracle=_COLOC_ORACLE,
    doc="The same co-located join after MAINTENANCE changed one "
    "side's physical layout: the dim table was compacted to 4 "
    "buckets per file (cdc-compact, layout-only commit) while the "
    "fact side stays at 1 — the planner aligns the sides at the "
    "coarser granularity (4 tasks instead of 16, each reading one "
    "coarse dim file and four fine fact files), and the result is "
    "bit-identical to the fine-layout join. Compaction must never "
    "break join locality, and this row makes that a hash-checked "
    "property rather than a docstring claim.",
    tags=("join", "table_log", "bucketed", "compaction"),
)
def colocated_join_coarse_layout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.colocated import colocated_bucket_join

    root = _ensure_colocated_tables(spark, sf_dir)
    joined = colocated_bucket_join(
        spark,
        os.path.join(root, "order_stats"),
        os.path.join(root, "cust_dim_coarse"),
    )
    return _coloc_segment_rollup(joined)


@register(
    "colocated_three_table_join",
    oracle="""
    WITH s AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS spend_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS order_cents,
           CAST(SUM(s.spend_cents) AS BIGINT) AS cust_cents_weighted
    FROM orders o
    JOIN s ON s.o_custkey = o.o_custkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY mktsegment
    ORDER BY mktsegment
    """,
    doc="A THREE-table star joined in ONE co-located task wave: raw "
    "order rows, per-customer stats, and the customer dim — all "
    "bucketed on the same key — are read group-locally and chained "
    "through Acero joins inside each task, so adding a third table "
    "adds zero exchanges and zero extra join stages to the plan "
    "(where the shuffle plan would add a whole exchange+join stage "
    "per table). The oracle is the plain 3-way SQL join + rollup.",
    tags=("join", "table_log", "bucketed", "mapInArrow"),
)
def colocated_three_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import colocated_multi_join

    root = _ensure_colocated_tables(spark, sf_dir)
    joined = colocated_multi_join(
        spark,
        [
            os.path.join(root, "order_lines"),
            os.path.join(root, "order_stats"),
            os.path.join(root, "cust_dim"),
        ],
    )
    return (
        joined.groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("order_cents"),
            F.sum("spend_cents").alias("cust_cents_weighted"),
        )
        .orderBy("mktsegment")
    )


_LOOKUP_KEYS = (7, 42, 123)


@register(
    "bucketed_point_lookup",
    oracle=f"""
    SELECT c_custkey AS cust_key, c_mktsegment AS mktsegment,
           CAST(1 AS BIGINT) AS probe_files
    FROM customer WHERE c_custkey IN {_LOOKUP_KEYS}
    ORDER BY cust_key
    """,
    doc="Key-sharded point lookup against the bucketed dim table: "
    "each key's bucket (same xxhash64 the writer committed) names "
    "its ONE file group directly — no stats, no footers, no other "
    "file opened. probe_files is emitted per key and the oracle pins "
    "it to 1, so 'a point read costs one file' is a hash-checked "
    "CONTRACT: any layout regression that makes a lookup touch more "
    "files fails the gate, not just a docstring. At 100 TB this is "
    "the serving-path read the bucket spec exists for.",
    tags=("table_log", "bucketed", "serving"),
)
def bucketed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import point_lookup

    root = _ensure_colocated_tables(spark, sf_dir)
    return point_lookup(
        spark, os.path.join(root, "cust_dim"), list(_LOOKUP_KEYS)
    ).orderBy("cust_key")


@register(
    "bucketed_local_aggregate",
    oracle="""
    SELECT o_custkey AS cust_key,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS spend_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY spend_cents DESC, cust_key
    LIMIT 10
    """,
    doc="Per-key aggregation with NO exchange: the raw order rows are "
    "bucketed by customer, so each task aggregates its bucket to "
    "completion locally (Acero group_by over the group's files) and "
    "emits FINAL per-customer sums — no partial/final split, no "
    "shuffle of fact rows; the plan has NO exchange at all (r12: the "
    "routing relation arrives pre-sliced one row per task — "
    "scan/mapInArrow/TakeOrdered is the whole plan), and the top-10 "
    "head is a driver-side "
    "TakeOrdered over already-final rows. This is the "
    "map-side-complete aggregation catalog bucketing enables, derived "
    "from the table log's committed spec.",
    tags=("table_log", "bucketed", "aggregation", "mapInArrow"),
)
def bucketed_local_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import bucketed_aggregate

    root = _ensure_colocated_tables(spark, sf_dir)
    per_key = bucketed_aggregate(
        spark,
        os.path.join(root, "order_lines"),
        [("cents", "sum", "spend_cents"), ("cents", "count", "n_orders")],
    )
    return per_key.orderBy(
        F.col("spend_cents").desc(), F.col("cust_key")
    ).limit(10)


# ---------------------------------------------------------------------------
# Multi-probe LSH: the serving tier and its recall/scan frontier
# ---------------------------------------------------------------------------

# 6 planes = 64 buckets: at the test corpus sizes this keeps every
# sweep point populated (8 planes left radius 0-1 nearly empty — the
# synthetic embeddings are near-random, the regime where LSH recall
# is honestly hard; the sweep MEASURES that instead of hiding it)
_LSH_PLANES = 6
_LSH_DIM = 64

# DuckDB twins of the float-dot / quantized-dot helpers (same shapes
# as plans/vectors.py — the fold order matches Spark's aggregate()).
_SQL_FDOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_QDOT = (
    "CAST(list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}[i]*{b}[i])) AS DOUBLE)"
)


def _plane_literals() -> str:
    from ..operators.similarity import hyperplane_planes

    planes = hyperplane_planes(_LSH_DIM, n_planes=_LSH_PLANES, seed=42)
    return ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}])"
        for i in range(_LSH_PLANES)
    )


def _lsh_bucket_ctes() -> str:
    """Shared CTE block: inlined plane literals, quantized corpus,
    query bucket, per-vector buckets, and the Hamming<=2 probe set
    tagged with its radius."""
    fdot_q = _SQL_FDOT.format(a="qv.qe", b="p.pvec")
    fdot_e = _SQL_FDOT.format(a="e.embedding", b="p.pvec")
    return f"""planes(pidx, pvec) AS (VALUES {_plane_literals()}),
    base AS (
      SELECT vec_id, embedding,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    qv AS (SELECT embedding AS qe, q AS qq FROM base WHERE vec_id = 0),
    qbucket AS (
      SELECT SUM(CASE WHEN {fdot_q} > 0
                      THEN 1::BIGINT << p.pidx ELSE 0 END)::BIGINT AS b
      FROM planes p, qv
    ),
    vb AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {fdot_e} > 0
                      THEN 1::BIGINT << p.pidx ELSE 0 END)::BIGINT AS bucket
      FROM base e CROSS JOIN planes p
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    ),
    probes AS (
      SELECT 0 AS r, b AS pb FROM qbucket
      UNION ALL
      SELECT 1, xor(b, 1::BIGINT << i.i)
      FROM qbucket, (SELECT unnest(range({_LSH_PLANES})) AS i) i
      UNION ALL
      SELECT 2, xor(xor(b, 1::BIGINT << i.i), 1::BIGINT << j.j)
      FROM qbucket,
           (SELECT unnest(range({_LSH_PLANES})) AS i) i,
           (SELECT unnest(range({_LSH_PLANES})) AS j) j
      WHERE i.i < j.j
    )"""


def _lsh_multiprobe_topk_oracle() -> str:
    from .vectors import _sql_cosine

    return f"""
    WITH {_lsh_bucket_ctes()}
    SELECT e.vec_id,
           {SQL_FROUND(_sql_cosine("e.embedding", "qv.qe"), 6)} AS cosine_sim
    FROM base e
    JOIN vb ON vb.vec_id = e.vec_id
    CROSS JOIN qv
    WHERE vb.bucket IN (SELECT pb FROM probes WHERE r <= 2)
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """


@register(
    "ann_topk_lsh_multiprobe",
    oracle=_lsh_multiprobe_topk_oracle(),
    doc="The multi-probe LSH serving tier: top-10 after prefiltering "
    "to the query bucket's Hamming<=2 probe set (1+6+15 of 64 "
    "buckets — one table probed harder instead of more tables built, "
    "the Lv et al. VLDB'07 trade) + exact cosine rerank. Oracled "
    "end-to-end like ann_topk_lsh: the seeded plane matrix is "
    "inlined into the DuckDB SQL, so bucket assignment, the two-flip "
    "probe expansion, and the rerank are all value-checked.",
    tags=("vectors", "ann", "lsh", "multiprobe"),
)
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_lsh_multiprobe
    from .vectors import _rounded_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    raw = cosine_topk_lsh_multiprobe(
        emb.filter(F.col("vec_id") != 0),
        query,
        k=100,
        n_planes=_LSH_PLANES,
        radius=2,
    )
    return _rounded_topk(raw, k=10)


_PROBE_COUNTS = {
    0: 1,
    1: 1 + _LSH_PLANES,
    2: 1 + _LSH_PLANES + _LSH_PLANES * (_LSH_PLANES - 1) // 2,
}


def _lsh_sweep_oracle() -> str:
    qdot = _SQL_QDOT.format(a="co.q", b="qq")
    qnorm = _SQL_QDOT.format(a="co.q", b="co.q")
    qqnorm = _SQL_QDOT.format(a="qq", b="qq")
    blocks = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({r} AS BIGINT) AS radius,
           CAST({_PROBE_COUNTS[r]} AS BIGINT) AS buckets_probed,
           (SELECT COUNT(*) FROM cosed
            WHERE bucket IN (SELECT pb FROM probes WHERE r <= {r}))
             AS cand_rows,
           (SELECT COUNT(*) FROM (
              SELECT vid FROM (
                SELECT vid,
                       row_number() OVER (ORDER BY cos DESC, vid) AS rn
                FROM cosed
                WHERE bucket IN (SELECT pb FROM probes WHERE r <= {r})) t
              WHERE rn <= 10) tt
            JOIN exact10 USING (vid)) AS hits"""
        for r in (0, 1, 2)
    )
    return f"""
    WITH {_lsh_bucket_ctes()},
    corpus AS (SELECT vec_id AS vid, q FROM base WHERE vec_id <> 0),
    cosed AS (
      SELECT co.vid,
             {qdot} / (sqrt({qnorm}) * sqrt({qqnorm})) AS cos,
             vb.bucket
      FROM corpus co
      JOIN vb ON vb.vec_id = co.vid
      CROSS JOIN qv
    ),
    exact10 AS (
      SELECT vid FROM (
        SELECT vid, row_number() OVER (ORDER BY cos DESC, vid) AS rn
        FROM cosed) WHERE rn <= 10
    )
    SELECT radius, buckets_probed, cand_rows, hits,
           hits * 10 AS recall_pct
    FROM (
{blocks}
    )
    ORDER BY radius
    """


@register(
    "ann_recall_lsh_sweep",
    oracle=_lsh_sweep_oracle(),
    doc="The multi-probe LSH recall/scan FRONTIER, companion to the "
    "IVF probe sweep: top-10 recall at probe radius 0 (exact "
    "bucket), 1 (+6 single flips), 2 (+15 double flips) against the "
    "exact top-10 over the same quantized space, next to the probe "
    "count and the CANDIDATE ROWS each radius actually scans. The "
    "bucket index is computed once and every sweep point is a filter "
    "over it — the radius is a pure query-time knob, which is the "
    "operational argument for multi-probe over more hash tables. "
    "Every number is an exact integer and the DuckDB oracle replays "
    "the whole frontier (float-sign bucket bits from inlined plane "
    "literals, integer-quantized cosine ranking), so the recall "
    "curve itself is hash-checked, not self-reported.",
    tags=("vectors", "ann", "lsh", "multiprobe", "evaluation"),
)
def ann_recall_lsh_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import tracked_cache
    from ..operators.similarity import (
        _quantized,
        _rerank_portable,
        hyperplane_planes,
        lsh_bucket_ids,
        query_probe_buckets_radius,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    planes = hyperplane_planes(_LSH_DIM, n_planes=_LSH_PLANES, seed=42)
    base = emb.select(
        F.col("vec_id").alias("vid"),
        _quantized(F.col("embedding")).alias("q"),
    )
    q_ints = [
        int(__import__("math").floor(float(x) * 1_000_000.0 + 0.5))
        for x in qrow.embedding
    ]
    qlit = F.array(*[F.lit(v).cast("long") for v in q_ints])
    corpus = base.filter(F.col("vid") != 0).transform(tracked_cache)
    exact_ids = {
        r.vec_id for r in _rerank_portable(corpus, qlit, 10).collect()
    }
    buckets = lsh_bucket_ids(
        emb.filter(F.col("vec_id") != 0), planes
    ).transform(tracked_cache)
    rows = []
    for r in (0, 1, 2):
        probes = query_probe_buckets_radius(qrow.embedding, planes, r)
        cand = buckets.filter(F.col("bucket").isin(probes)).select(
            F.col("vec_id").alias("vid")
        )
        cand_rows = cand.count()
        top10 = _rerank_portable(corpus.join(cand, "vid"), qlit, 10)
        hits = sum(1 for t in top10.collect() if t.vec_id in exact_ids)
        rows.append((r, len(probes), cand_rows, hits, hits * 10))
    return spark.createDataFrame(
        rows,
        "radius long, buckets_probed long, cand_rows long, hits long, "
        "recall_pct long",
    ).orderBy("radius")


_DIRECTED_BUDGET = 8


def _query_margins_fold(spark: SparkSession, qvec, planes) -> tuple[list[int], int]:
    """(quantized |margin| per plane, base bucket) for a query vector,
    computed with F.aggregate's LEFT FOLD — bit-identical to the
    oracle's list_sum fold, which numpy's pairwise summation is not;
    the directed probe ORDER must agree exactly, so the fold must."""
    import math

    qe = F.array(*[F.lit(float(x)).cast("double") for x in qvec])
    mcols = []
    for i in range(planes.shape[0]):
        pv = F.array(*[F.lit(float(v)).cast("double") for v in planes[i]])
        mcols.append(
            F.aggregate(
                F.zip_with(qe, pv, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"m{i}")
        )
    mrow = spark.range(1).select(*mcols).first()
    ms = [mrow[f"m{i}"] for i in range(planes.shape[0])]
    base = sum((1 << i) for i, m in enumerate(ms) if m > 0)
    margins = [math.floor(abs(m) * 1_000_000.0 + 0.5) for m in ms]
    return margins, base


def _lsh_directed_ctes() -> str:
    """Shared CTE block for the directed-probe oracles: inlined plane
    literals, fold-computed query margins -> quantized flip costs ->
    the cost-ordered probe set, plus per-vector buckets."""
    fdot_q = _SQL_FDOT.format(a="qv.qe", b="p.pvec")
    fdot_e = _SQL_FDOT.format(a="e.embedding", b="p.pvec")
    return f"""planes(pidx, pvec) AS (VALUES {_plane_literals()}),
    base AS (
      SELECT vec_id, embedding,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    qv AS (SELECT embedding AS qe, q AS qq FROM base WHERE vec_id = 0),
    qm AS (SELECT p.pidx, {fdot_q} AS m FROM planes p, qv),
    qb AS (
      SELECT SUM(CASE WHEN m > 0
                      THEN 1::BIGINT << pidx ELSE 0 END)::BIGINT AS b
      FROM qm
    ),
    qc AS (
      SELECT pidx, CAST(FLOOR(ABS(m)*1000000.0 + 0.5) AS BIGINT) AS c
      FROM qm
    ),
    masks AS (
      SELECT CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS mask
      UNION ALL
      SELECT c, 1::BIGINT << pidx FROM qc
      UNION ALL
      SELECT a.c + b.c, (1::BIGINT << a.pidx) | (1::BIGINT << b.pidx)
      FROM qc a JOIN qc b ON a.pidx < b.pidx
    ),
    directed AS (
      SELECT xor((SELECT b FROM qb), mask) AS pb
      FROM masks ORDER BY cost, mask LIMIT {_DIRECTED_BUDGET}
    ),
    vb AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {fdot_e} > 0
                      THEN 1::BIGINT << p.pidx ELSE 0 END)::BIGINT AS bucket
      FROM base e CROSS JOIN planes p
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    )"""


def _lsh_directed_oracle() -> str:
    qdot = _SQL_QDOT.format(a="co.q", b="qq")
    qnorm = _SQL_QDOT.format(a="co.q", b="co.q")
    qqnorm = _SQL_QDOT.format(a="qq", b="qq")
    blocks = "\n    UNION ALL\n".join(
        f"""    SELECT '{s}' AS strategy,
           CAST({_DIRECTED_BUDGET} AS BIGINT) AS probes,
           (SELECT COUNT(*) FROM cosed
            WHERE bucket IN (SELECT pb FROM {s})) AS cand_rows,
           (SELECT COUNT(*) FROM (
              SELECT vid FROM (
                SELECT vid,
                       row_number() OVER (ORDER BY cos DESC, vid) AS rn
                FROM cosed
                WHERE bucket IN (SELECT pb FROM {s})) t
              WHERE rn <= 10) tt
            JOIN exact10 USING (vid)) AS hits"""
        for s in ("directed", "indexed")
    )
    return f"""
    WITH {_lsh_directed_ctes()},
    indexed AS (
      SELECT (SELECT b FROM qb) AS pb
      UNION ALL
      SELECT xor((SELECT b FROM qb), 1::BIGINT << i.i)
      FROM (SELECT unnest(range({_LSH_PLANES})) AS i) i
      UNION ALL
      SELECT xor((SELECT b FROM qb), 3::BIGINT)
    ),
    corpus AS (SELECT vec_id AS vid, q FROM base WHERE vec_id <> 0),
    cosed AS (
      SELECT co.vid,
             {qdot} / (sqrt({qnorm}) * sqrt({qqnorm})) AS cos,
             vb.bucket
      FROM corpus co
      JOIN vb ON vb.vec_id = co.vid
      CROSS JOIN qv
    ),
    exact10 AS (
      SELECT vid FROM (
        SELECT vid, row_number() OVER (ORDER BY cos DESC, vid) AS rn
        FROM cosed) WHERE rn <= 10
    )
    SELECT strategy, probes, cand_rows, hits, hits * 10 AS recall_pct
    FROM (
{blocks}
    )
    ORDER BY strategy
    """


@register(
    "ann_recall_lsh_directed",
    oracle=_lsh_directed_oracle(),
    doc="QUERY-DIRECTED multi-probe vs blind Hamming-order probing at "
    "the SAME budget (8 of 64 buckets): flipping a hyperplane bit "
    "costs the query's |margin| against that plane — near-miss bits "
    "are probed first (Lv et al. VLDB'07's actual contribution; the "
    "plain Hamming ball treats all flips as equal). Both engines "
    "derive the probe order from INTEGER quantized margins computed "
    "with the same left-fold dot product, so the order — and every "
    "recall/candidate count — is hash-checked end-to-end. The "
    "'indexed' baseline probes base + all single flips + the first "
    "index-order pair; the comparison shows what margin information "
    "buys at a fixed scan budget.",
    tags=("vectors", "ann", "lsh", "multiprobe", "evaluation"),
)
def ann_recall_lsh_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..caching import tracked_cache
    from ..operators.similarity import (
        _quantized,
        _rerank_portable,
        hyperplane_planes,
        lsh_bucket_ids,
        query_probe_sequence,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    planes = hyperplane_planes(_LSH_DIM, n_planes=_LSH_PLANES, seed=42)
    margins, qbase = _query_margins_fold(spark, qrow.embedding, planes)
    probe_sets = {
        "directed": query_probe_sequence(
            margins, _LSH_PLANES, _DIRECTED_BUDGET, qbase
        ),
        "indexed": [qbase]
        + [qbase ^ (1 << i) for i in range(_LSH_PLANES)]
        + [qbase ^ 3],
    }
    base = emb.select(
        F.col("vec_id").alias("vid"),
        _quantized(F.col("embedding")).alias("q"),
    )
    q_ints = [
        int(math.floor(float(x) * 1_000_000.0 + 0.5))
        for x in qrow.embedding
    ]
    qlit = F.array(*[F.lit(v).cast("long") for v in q_ints])
    corpus = base.filter(F.col("vid") != 0).transform(tracked_cache)
    exact_ids = {
        r.vec_id for r in _rerank_portable(corpus, qlit, 10).collect()
    }
    buckets = lsh_bucket_ids(
        emb.filter(F.col("vec_id") != 0), planes
    ).transform(tracked_cache)
    rows = []
    for strategy in ("directed", "indexed"):
        probes = probe_sets[strategy]
        cand = buckets.filter(F.col("bucket").isin(probes)).select(
            F.col("vec_id").alias("vid")
        )
        cand_rows = cand.count()
        top10 = _rerank_portable(corpus.join(cand, "vid"), qlit, 10)
        hits = sum(1 for t in top10.collect() if t.vec_id in exact_ids)
        rows.append((strategy, _DIRECTED_BUDGET, cand_rows, hits, hits * 10))
    return spark.createDataFrame(
        rows,
        "strategy string, probes long, cand_rows long, hits long, "
        "recall_pct long",
    ).orderBy("strategy")


def _lsh_directed_topk_oracle() -> str:
    from .vectors import _sql_cosine

    return f"""
    WITH {_lsh_directed_ctes()}
    SELECT e.vec_id,
           {SQL_FROUND(_sql_cosine("e.embedding", "qv.qe"), 6)} AS cosine_sim
    FROM base e
    JOIN vb ON vb.vec_id = e.vec_id
    CROSS JOIN qv
    WHERE vb.bucket IN (SELECT pb FROM directed)
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """


@register(
    "ann_topk_lsh_directed",
    oracle=_lsh_directed_topk_oracle(),
    doc="The directed-probe SERVING op to ann_recall_lsh_directed's "
    "evaluation row: top-10 after scanning only the 8 cheapest "
    "buckets in the query's margin-ranked probe sequence, then exact "
    "cosine rerank — fixed scan budget per query, recall bought by "
    "margin information instead of a wider Hamming ball. The DuckDB "
    "oracle replays the margin fold, the cost-ordered probe LIMIT, "
    "the bucket filter, and the rounded rerank end-to-end.",
    tags=("vectors", "ann", "lsh", "multiprobe"),
)
def ann_topk_lsh_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        cosine_topk_lsh_directed,
        hyperplane_planes,
        query_probe_sequence,
    )
    from .vectors import _rounded_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    planes = hyperplane_planes(_LSH_DIM, n_planes=_LSH_PLANES, seed=42)
    margins, qbase = _query_margins_fold(spark, qrow.embedding, planes)
    probes = query_probe_sequence(
        margins, _LSH_PLANES, _DIRECTED_BUDGET, qbase
    )
    raw = cosine_topk_lsh_directed(
        emb.filter(F.col("vec_id") != 0),
        qrow.embedding,
        k=100,
        n_planes=_LSH_PLANES,
        probes=probes,
    )
    return _rounded_topk(raw, k=10)
