"""Advanced operators: stateful allocation, sessionization, as-of join,
and regression-based forecasting (SURVEY.md §2.3, §2.8, §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import SQL_FROUND, fround
from ..operators.allocation import allocate_greedy, grouped_map_buckets
from ..operators.multimodal import (
    attach_media_column,
    decode_media,
    resize_media,
    sample_frames,
    segment_audio,
)
from ..sources.tpch import load_table
from ..timeseries.forecast import forecast_metrics
from .registry import register


# ---------------------------------------------------------------------------
# Greedy inventory allocation (reference op 16 — the candy-store heart).
# The per-product recurrence is non-linear (a cancelled item must NOT
# decrement stock) so no window cumsum expresses it — but a RECURSIVE
# CTE stepping row_number-by-row_number within each product does, and
# DuckDB executes it fine at gate scale. That upgrades the flagship
# stateful operator from rows-only to a full value-checked oracle row;
# semantics are additionally pinned by tests/test_allocation.py
# (brute-force sequential simulation + property tests).
# ---------------------------------------------------------------------------
_SQL_ALLOCATION = """
    WITH RECURSIVE items AS (
      SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice,
             l_partkey AS product_id, CAST(l_quantity AS INTEGER) AS qty,
             ROW_NUMBER() OVER (
               PARTITION BY l_partkey
               ORDER BY l_orderkey, l_linenumber, l_suppkey, l_extendedprice
             ) AS rn
      FROM lineitem
    ),
    stock AS (SELECT p_partkey AS product_id, p_size * 40 AS stock FROM part),
    rec AS (
      SELECT i.l_orderkey, i.l_linenumber, i.l_suppkey, i.l_extendedprice,
             i.product_id, i.qty, i.rn,
             CASE WHEN i.qty BETWEEN 0 AND COALESCE(s.stock, 0)
                  THEN i.qty ELSE 0 END AS allocated_qty,
             COALESCE(s.stock, 0)
               - CASE WHEN i.qty BETWEEN 0 AND COALESCE(s.stock, 0)
                      THEN i.qty ELSE 0 END AS remaining
      FROM items i LEFT JOIN stock s USING (product_id)
      WHERE i.rn = 1
      UNION ALL
      SELECT i.l_orderkey, i.l_linenumber, i.l_suppkey, i.l_extendedprice,
             i.product_id, i.qty, i.rn,
             CASE WHEN i.qty BETWEEN 0 AND r.remaining
                  THEN i.qty ELSE 0 END,
             r.remaining
               - CASE WHEN i.qty BETWEEN 0 AND r.remaining
                      THEN i.qty ELSE 0 END
      FROM items i JOIN rec r
        ON i.product_id = r.product_id AND i.rn = r.rn + 1
    )
    SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice,
           product_id, qty,
           CAST(allocated_qty AS INTEGER) AS allocated_qty,
           CAST(CASE WHEN allocated_qty = 0 AND qty > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS cancelled
    FROM rec
    """


@register(
    "inventory_allocation",
    oracle=_SQL_ALLOCATION,
    doc="Greedy FCFS stock allocation with cancellation "
    "(data_processor.py:188-262) as groupBy(product).applyInPandas; "
    "deterministic UNIQUE ordering key (orderkey, linenumber, suppkey, "
    "extendedprice); stock = p_size*40. Oracle: recursive CTE stepping "
    "the same recurrence per product in DuckDB.",
    tags=("stateful", "applyInPandas"),
)
def inventory_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_extendedprice",
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("qty"),
    )
    stock = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("product_id"),
        (F.col("p_size") * 40).alias("stock"),
    )
    # 20k products × ~30 rows: bucketed grouping (64 frames instead of
    # 20k) sidesteps the per-group Arrow overhead — 3× measured
    return allocate_greedy(
        li,
        stock,
        order_by=("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"),
        buckets=grouped_map_buckets(spark),
    )


@register(
    "inventory_allocation_chained",
    oracle=_SQL_ALLOCATION,
    doc="Hot-key form of the allocation: items pre-split into order-"
    "contiguous chunks (spillable ntile window), remaining stock "
    "chained between distributed rounds — identical results to the "
    "single pass (tests/test_allocation.py), bounded task memory for "
    "a pathologically hot product. Same recursive-CTE oracle as "
    "inventory_allocation (results provably identical).",
    tags=("stateful", "applyInPandas", "skew"),
)
def inventory_allocation_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.allocation import allocate_greedy_chained

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_extendedprice",
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("qty"),
    )
    stock = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("product_id"),
        (F.col("p_size") * 40).alias("stock"),
    )
    # static 2 so the gate always exercises the chained path; in
    # production use chunks="auto" (sizes rounds from the hottest key)
    return allocate_greedy_chained(
        li,
        stock,
        chunks=2,
        order_by=("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"),
        buckets=grouped_map_buckets(spark),
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions over the event stream — the batch
# twin of streaming session windows (SURVEY §2.8 gap).
# ---------------------------------------------------------------------------
_GAP_SECONDS = 1800


@register(
    "user_sessions",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(LAG(ts) OVER w) > {_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity) via lag + running "
    "sum — deterministic tiebreak on event_id.",
    tags=("window", "sessionize"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > _GAP_SECONDS),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("session_id", F.sum(is_new).over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent signup at
# or before it. Spark lacks a native ASOF JOIN; the scalable encoding
# is a union + ordered window (one shuffle, no range explosion).
# DuckDB has native ASOF JOIN → clean oracle.
# ---------------------------------------------------------------------------
@register(
    "purchase_asof_signup",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc="As-of (point-in-time) join via tagged union + last(ignoreNulls) "
    "ordered window — the Spark-native encoding of ASOF JOIN.",
    tags=("join", "asof", "window"),
)
def purchase_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # signups sort before purchases at equal ts → inclusive >= match
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("sig_ts"),
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        both.withColumn("signup_ts", F.last("sig_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", F.col("ts").alias("purchase_ts"), "signup_ts"
        )
    )


# The same as-of join through the COGROUPED-MAP surface (one
# pd.merge_asof per user) — same oracle, so both encodings are proven
# equivalent at the gate.
@register(
    "purchase_asof_signup_cogrouped",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc="As-of join via cogroup().applyInPandas (pd.merge_asof per "
    "user) — the third grouped-pandas surface and the template for "
    "asof variants built-ins can't express (nearest match, tolerance "
    "bands); oracle-identical to the window encoding.",
    tags=("join", "asof", "cogroup"),
)
def purchase_asof_signup_cogrouped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..operators.asof import asof_join_cogrouped

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_raw")
    )
    schema = StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("user_id", LongType(), True),
            StructField("purchase_ts", TimestampType(), True),
            StructField("signup_ts", TimestampType(), True),
        ]
    )
    # ~1.5k-15k users of a few rows each: bucketed cogroup (64 frames,
    # merge_asof by=user_id inside) instead of per-user Arrow batches
    return asof_join_cogrouped(
        purchases,
        signups,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="signup_raw",
        out_col="signup_ts",
        schema=schema,
        buckets=grouped_map_buckets(spark),
    )


# ---------------------------------------------------------------------------
# Forecasting (reference §2.9): per-series linear trend, next-day
# prediction. The reference fits Prophet driver-side on collected NumPy
# arrays (time_series.py:16-43); here the SQL-expressible core (OLS via
# regr_slope/regr_intercept) runs distributed, and the richer seasonal
# model lives in timeseries/forecast.py (applyInPandas, rows-only).
# ---------------------------------------------------------------------------
@register(
    "linear_forecast_daily_value",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
             SUM(FLOOR(value*100 + 0.5))/100.0 AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           {SQL_FROUND("regr_slope(y, x)", 4)} AS slope,
           {SQL_FROUND("regr_intercept(y, x)", 4)} AS intercept,
           {SQL_FROUND("regr_intercept(y, x) + regr_slope(y, x) * (MAX(x) + 1)", 2)}
             AS next_day_forecast
    FROM daily GROUP BY event_type
    """,
    doc="Per-series OLS trend + next-day forecast, fully distributed "
    "(replaces driver-side Prophet collect, data_processor.py:533-547).",
    tags=("timeseries", "agg"),
)
def linear_forecast_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
    ).agg((F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / 100.0).alias("y"))
    return daily.groupBy("event_type").agg(
        fround(F.regr_slope("y", "x"), 4).alias("slope"),
        fround(F.regr_intercept("y", "x"), 4).alias("intercept"),
        fround(
            F.regr_intercept("y", "x") + F.regr_slope("y", "x") * (F.max("x") + 1), 2
        ).alias("next_day_forecast"),
    )


# ---------------------------------------------------------------------------
# Grouped-map seasonal forecaster (reference §2.9 Prophet surface) and
# multimodal decode plumbing — both rows-only (non-SQL-expressible).
# ---------------------------------------------------------------------------
@register(
    "seasonal_forecast_daily_value",
    # The model is deterministic closed-form math (OLS trend via
    # covariance/variance — exactly regr_slope/regr_intercept — plus
    # weekday-mean seasonal residuals), so it IS SQL-expressible.
    # Rounding policy: round-half-up at 4 dp on BOTH sides. Plain
    # truncation is NOT boundary-free here — a degenerate constant
    # series makes forecast an exact 2-dp money value (an exact 1e-4
    # multiple, i.e. ON a floor boundary) and mae/mse exactly 0, where
    # last-ulp engine noise (±1e-15) would flip a whole digit. Round-
    # half-up puts those exact values at BIN CENTERS (offset +0.5), so
    # ±noise cannot cross a boundary; genuinely transcendental values
    # hit the 5e-5 half-boundaries with measure zero.
    oracle="""
    WITH daily0 AS (
      SELECT CAST(ts AS DATE) AS ds, event_type,
             SUM(FLOOR(value*100 + 0.5))/100.0 AS y
      FROM events GROUP BY 1, 2
    ),
    dates AS (SELECT DISTINCT ds FROM daily0),
    types AS (SELECT DISTINCT event_type FROM events),
    bounds AS (SELECT MIN(ds) AS dmin, MAX(ds) AS dmax FROM dates),
    series AS (
      SELECT t.event_type AS metric, d.ds,
             COALESCE(d0.y, 0.0) AS y,
             CAST(date_diff('day', b.dmin, d.ds) AS DOUBLE) AS t_idx,
             isodow(d.ds) - 1 AS dow
      FROM dates d CROSS JOIN types t CROSS JOIN bounds b
      LEFT JOIN daily0 d0 ON d0.ds = d.ds AND d0.event_type = t.event_type
    ),
    fit AS (
      SELECT metric, regr_slope(y, t_idx) AS slope,
             regr_intercept(y, t_idx) AS icept
      FROM series GROUP BY metric
    ),
    resid AS (
      SELECT s.metric, s.dow, s.y - (f.icept + f.slope * s.t_idx) AS r
      FROM series s JOIN fit f USING (metric)
    ),
    season AS (
      SELECT metric, dow,
             CASE WHEN COUNT(*) >= 2 THEN AVG(r) ELSE 0.0 END AS adj
      FROM resid GROUP BY metric, dow
    ),
    errs AS (
      SELECT r.metric, AVG(ABS(r.r - se.adj)) AS mae,
             AVG((r.r - se.adj) * (r.r - se.adj)) AS mse
      FROM resid r JOIN season se ON r.metric = se.metric AND r.dow = se.dow
      GROUP BY r.metric
    ),
    future AS (
      SELECT f.metric, b.dmax + h.h AS date,
             f.icept
               + f.slope * (CAST(date_diff('day', b.dmin, b.dmax) AS DOUBLE) + h.h)
               + COALESCE(se.adj, 0.0) AS fc
      FROM fit f CROSS JOIN bounds b
      CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS h) h
      LEFT JOIN season se
        ON se.metric = f.metric AND se.dow = isodow(b.dmax + h.h) - 1
    )
    SELECT fu.metric, fu.date,
           FLOOR(fu.fc * 10000 + 0.5)/10000 AS forecast,
           FLOOR(e.mae * 10000 + 0.5)/10000 AS mae,
           FLOOR(e.mse * 10000 + 0.5)/10000 AS mse
    FROM future fu JOIN errs e ON fu.metric = e.metric
    """,
    doc="Trend + weekday-seasonal forecast per event_type via "
    "applyInPandas (deterministic Prophet replacement; fits on real "
    "dates, emits in-sample MAE/MSE — time_series.py:16-67 parity). "
    "Oracled: the closed-form model is spelled out in DuckDB SQL "
    "(regr_slope/regr_intercept + grouped weekday residual means).",
    tags=("timeseries", "applyInPandas"),
)
def seasonal_forecast_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg((F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / 100.0).alias("y"))
        .groupBy("date")
        .pivot("event_type")
        .sum("y")
        .na.fill(0.0)
    )
    metric_cols = [c for c in daily.columns if c != "date"]
    out = forecast_metrics(
        daily, date_col="date", metric_cols=metric_cols, horizon=3
    )

    def round4(c: str):
        return fround(F.col(c), 4).alias(c)

    return out.select(
        "metric", "date", round4("forecast"), round4("mae"), round4("mse")
    )


# DuckDB twin of the deterministic fake codec: the stub derives dims
# from sha256 of the utf-8 payload (operators/multimodal._fake_decode),
# and DuckDB's sha256 hashes the same bytes — hex-char arithmetic
# recovers the digest bytes. The corpus is ASCII (strlen == length,
# verified for all SFs), so char ops equal byte ops.
def _SQL_SHA_BYTE(pos: int) -> str:
    """0-indexed digest byte ``pos`` parsed from the sha256 hex."""
    c1 = f"substr(hx, {2 * pos + 1}, 1)"
    c2 = f"substr(hx, {2 * pos + 2}, 1)"
    return (
        f"((strpos('0123456789abcdef', {c1}) - 1) * 16"
        f" + (strpos('0123456789abcdef', {c2}) - 1))"
    )


@register(
    "multimodal_decode_features",
    oracle=f"""
    WITH h AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id, sha256(text) AS hx,
             strlen(text) AS n
      FROM documents
    )
    SELECT media_id,
           CAST(16 + {_SQL_SHA_BYTE(0)} % 64 AS INTEGER) AS width,
           CAST(16 + {_SQL_SHA_BYTE(1)} % 64 AS INTEGER) AS height,
           CAST(1 + {_SQL_SHA_BYTE(2)} % 8 AS INTEGER) AS n_frames,
           CAST(CASE WHEN n = 0 THEN 0 ELSE 1 END AS DOUBLE) AS feature_sum
    FROM h
    """,
    doc="Binary media column -> decoded dims + feature vector via "
    "Arrow-batched mapInPandas (codec stubbed deterministically; "
    "Spark-side schema/batch plumbing real — tests/test_multimodal). "
    "Oracled: the stub's sha256-derived dims are recomputed in DuckDB "
    "(same bytes, same digest); the byte-histogram feature vector is "
    "projected to its order-fixed sum (= counted-bytes/len, exactly 1 "
    "for non-empty payloads; rounded at 4 dp so float32 bin "
    "quantization noise ~1e-7 can't flip a digit) because the gate's "
    "canonicalizer can't sort list cells.",
    tags=("multimodal", "mapInPandas"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text")
    decoded = decode_media(media, n_features=16)
    feature_sum = F.aggregate(
        "features",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        fround(feature_sum, 4).alias("feature_sum"),
    )


@register(
    "multimodal_resize",
    # Same sha256-derived geometry as the decode oracle; the fake
    # resample keeps floor(len * min(area_ratio, 1)) bytes (>= 1), and
    # the ASCII corpus makes char-substr equal byte-truncation, so the
    # kept prefix is md5-checkable across engines.
    oracle=f"""
    WITH h AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id, text, sha256(text) AS hx,
             strlen(text) AS n
      FROM documents
    ), dims AS (
      SELECT media_id, text, n,
             16 + {_SQL_SHA_BYTE(0)} % 64 AS w,
             16 + {_SQL_SHA_BYTE(1)} % 64 AS h
      FROM h
    ), geo AS (
      SELECT media_id, text, n, w, h,
             CASE WHEN GREATEST(w, h) <= 32 THEN 1.0
                  ELSE 32.0 / GREATEST(w, h) END AS scale
      FROM dims
    ), tgt AS (
      SELECT media_id, text, n, w, h,
             CAST(CEIL(w * scale) AS INTEGER) AS target_width,
             CAST(CEIL(h * scale) AS INTEGER) AS target_height
      FROM geo
    )
    SELECT media_id, target_width, target_height,
           CAST(GREATEST(1, CAST(FLOOR(
                 n * LEAST(CAST(target_width * target_height AS DOUBLE)
                           / GREATEST(w * h, 1), 1.0)) AS BIGINT))
             AS BIGINT) AS content_len,
           md5(substr(text, 1, GREATEST(1, CAST(FLOOR(
                 n * LEAST(CAST(target_width * target_height AS DOUBLE)
                           / GREATEST(w * h, 1), 1.0)) AS BIGINT))))
             AS content_md5
    FROM tgt
    """,
    doc="Media resize as two stages: aspect-preserving geometry planned "
    "JVM-side (scale/target dims/skip flag at scan speed), pixel "
    "resample in the Arrow-batched codec stage (stubbed; contract "
    "pinned in tests/test_multimodal). Oracled: geometry recomputed "
    "from the sha256 digest in DuckDB and the resampled payload "
    "checked by length + md5 (binary cells stringify engine-"
    "specifically; the hex digest is portable).",
    tags=("multimodal", "mapInPandas", "resize"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text")
    resized = resize_media(media, max_side=32)
    return resized.select(
        "media_id",
        "target_width",
        "target_height",
        F.length("content").cast("long").alias("content_len"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "multimodal_frame_sample",
    # frame count comes from digest byte 2 (1..8); every-2nd-frame
    # sampling is a sequence explode — in DuckDB, unnest(range(...)).
    oracle=f"""
    WITH h AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id, sha256(text) AS hx
      FROM documents
    ), frames AS (
      SELECT media_id, CAST(1 + {_SQL_SHA_BYTE(2)} % 8 AS INTEGER) AS n_frames
      FROM h
    )
    SELECT media_id, CAST(UNNEST(range(0, n_frames, 2)) AS INTEGER) AS frame_idx
    FROM frames
    """,
    doc="Video-style frame sampling: one row per kept frame index "
    "(every 2nd frame), fanned out with explode(sequence(...)) — a "
    "narrow transform, no shuffle; with a real codec the frame bytes "
    "ride along. Oracled via the digest-derived frame count.",
    tags=("multimodal", "explode", "sample"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text")
    decoded = decode_media(media, n_features=16)
    return sample_frames(decoded, every_k=2)


@register(
    "multimodal_segment_audio",
    oracle=f"""
    WITH h AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id, text, sha256(text) AS hx,
             strlen(text) AS n
      FROM documents
    ),
    p AS (
      SELECT media_id, text, n, 64 + {_SQL_SHA_BYTE(3)} % 64 AS clip
      FROM h WHERE n > 0
    ),
    c AS (
      SELECT media_id, text, n, clip,
             unnest(generate_series(
               0, CAST(CEIL(CAST(n AS DOUBLE) / clip) AS BIGINT) - 1))
               AS clip_idx
      FROM p
    )
    SELECT media_id,
           CAST(clip_idx AS INTEGER) AS clip_idx,
           CAST(clip_idx * clip AS BIGINT) AS start_sample,
           CAST(LEAST(clip, n - clip_idx * clip) AS BIGINT) AS clip_len,
           md5(substr(text, CAST(clip_idx * clip + 1 AS INTEGER),
                      CAST(clip AS INTEGER))) AS clip_md5
    FROM c
    """,
    doc="Audio-style windowed segmentation (the waveform-chunking "
    "stage of a multimodal pipeline): binary payload fans out to "
    "fixed-size clips — frame size digest-derived by the stub codec — "
    "one row per clip with byte range and content md5. Arrow-batched "
    "mapInPandas over the binary column (real chunker contract; "
    "codec stubbed, same policy as decode). Fully oracled: digest "
    "arithmetic for the frame size, substr windows for the clip "
    "bytes (ASCII corpus: char windows == byte windows), md5 hex "
    "portable across engines. Narrow fan-out, no shuffle.",
    tags=("multimodal", "mapInPandas", "audio"),
)
def multimodal_segment_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs, "doc_id", "text", mime="audio/fake")
    return segment_audio(media)
