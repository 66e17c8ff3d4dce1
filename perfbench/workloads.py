"""The benchmark's workloads.

Each workload drives the package through its public functions and has
the same shape:

- ``setup(ctx)`` builds inputs and fixtures and warms the session up
  (JIT, code generation, Python workers) with passes that are also
  checked;
- ``run_pass(ctx)`` runs one timed pass with tracing off and returns
  its ops' latencies and failures;
- ``traced_pass(ctx, tracer)`` runs one pass with spans around every
  call into a layer;
- ``check(ctx)`` checks what the timed passes produced (outside the
  timed region) and returns the number of failed ops.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import random
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb

from candy_store_etl_spark import caching
from candy_store_etl_spark.plans import candy_pipeline, oracle_sql_map, query_map
from candy_store_etl_spark.sources import candy as candy_src
from candy_store_etl_spark.sources import sinks
from candy_store_etl_spark.sources.scratch import content_fingerprint
from candy_store_etl_spark.sources.tpch import TPCH_TABLES

import candy_data
import candy_reference

SF01 = "/root/testdata/sf0.1"


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    #: seconds spent checking outputs during set-up (not set-up work)
    check_s: float = 0.0
    info: dict = field(default_factory=dict)


@dataclass
class PassResult:
    #: per-op latency in seconds (ops whose latency the metrics report)
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: relations the pass cached through ``caching`` (before release)
    tracked: int = 0


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the result lines."""
    print(msg, file=sys.stderr, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    caching.release_caches()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# candy_etl
# ---------------------------------------------------------------------------


class CandyEtl:
    """The paper's pipeline: day files -> five CSV reports."""

    name = "candy_etl"
    days = 100
    per_day = 1000
    #: day files per warm-up pass: a short pass takes the cold start
    #: (JIT, code generation, Python workers), four full ones settle it
    #: (after two, the next passes still got ~15 % faster)
    warmup_days = (10, 100, 100, 100, 100)

    def setup(self, ctx: Context) -> None:
        data = os.path.join(ctx.work, "candy_input")
        shutil.rmtree(data, ignore_errors=True)
        self.paths = candy_data.generate(data, ctx.seed, self.days, self.per_day)
        self.products_csv = os.path.join(data, "products.csv")
        t0 = time.perf_counter()
        inputs = candy_reference.read_inputs(self.paths, self.products_csv)
        candy_data.check_statistics(*inputs)
        self.want = candy_reference.checkable(candy_reference.reference_outputs(*inputs))
        ctx.check_s += time.perf_counter() - t0
        ctx.info["dataset"] = {
            "day_files": len(self.paths),
            "transactions": self.days * self.per_day,
            "line_items": len(self.want["order_line_items"]),
            "input_bytes": sum(os.path.getsize(p) for p in self.paths),
        }
        self.out_root = os.path.join(ctx.work, "candy_out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.pending: list[str] = []
        for n in self.warmup_days:
            t0 = time.perf_counter()
            res = self.run_pass(ctx, self.paths[:n])
            if res.failed:
                raise RuntimeError("candy warm-up pass failed")
            log(f"candy warm-up pass ({n} days): {time.perf_counter() - t0:.2f} s")
        for d in self.pending:
            shutil.rmtree(d, ignore_errors=True)
        self.pending = []

    def _out_dir(self) -> str:
        d = os.path.join(self.out_root, f"pass{len(self.pending):03d}")
        self.pending.append(d)
        return d

    def run_pass(self, ctx: Context, paths: list[str] | None = None) -> PassResult:
        spark = ctx.spark
        out = self._out_dir()
        res = PassResult(attempted=len(candy_reference.OUTPUT_NAMES))
        t0 = time.perf_counter()
        done: dict[str, float] = {}
        try:
            products = candy_src.read_products(spark, self.products_csv)
            outputs = candy_pipeline.run_pipeline(spark, paths or self.paths, products)
            names = {id(df): n for n, df in outputs.items()}

            def sink(df):
                name = names[id(df)]
                sinks.save_single_csv(df, out, f"{name}.csv")
                done[name] = time.perf_counter() - t0

            sinks.materialize_overlapped(outputs, max_workers=3, sink=sink)
            res.latencies = [done[n] for n in candy_reference.OUTPUT_NAMES]
        except Exception as e:  # an op failure is counted, not fatal
            log(f"candy pass failed: {e!r}")
            res.failed = res.attempted
            self.pending.remove(out)
        finally:
            res.tracked = caching.tracked_count()
            _release(spark)
        return res

    def _check_dirs(self) -> list[str]:
        bad = []
        # passes that wrote the same bytes share one verdict
        verdicts: dict[str, list[str]] = {}
        for d in self.pending:
            key = _dir_digest(d)
            if key not in verdicts:
                verdicts[key] = candy_reference.check_outputs(d, self.want)
            problems = verdicts[key]
            if problems:
                bad.append(f"{os.path.basename(d)}: {problems}")
            shutil.rmtree(d, ignore_errors=True)
        log(f"candy outputs checked: {len(self.pending)} passes, {len(verdicts)} distinct")
        self.pending = []
        return bad

    def check(self, ctx: Context) -> int:
        bad = self._check_dirs()
        for b in bad:
            log(f"candy output check failed: {b}")
        # a wrong pass counts all five outputs as failed
        return len(bad) * len(candy_reference.OUTPUT_NAMES)

    #: the span in which a relation that ``run_pipeline`` caches is
    #: materialized, by the builder that produced it
    STEP_SPANS = {
        "load_daily_transactions": "sources.candy_scan",
        "build_line_items": "operators.allocation",
        "build_orders_with_profit": "plans.orders",
        "build_daily_summary": "plans.daily_summary",
    }
    BUILDERS = (*STEP_SPANS, "build_products_updated", "build_forecast")

    def traced_pass(self, ctx: Context, tr) -> dict:
        """``run_pipeline`` itself, with a ``plans.build`` span (and a
        ``plans.plan`` span) around each builder it calls, and each
        relation it caches materialized on the spot in a span of its own,
        so every layer gets its own self time. Then the forecast is
        collected and the five outputs are written one after another."""
        spark = ctx.spark
        out = self._out_dir()
        made_by: dict[int, str] = {}
        steps: dict[str, float] = {}

        def traced_builder(name, fn):
            def build(*args, **kwargs):
                with tr.span("plans.build"):
                    df = fn(*args, **kwargs)
                made_by[id(df)] = name
                _plan_phases(tr, df)
                return df

            return build

        def traced_cache(df):
            name = self.STEP_SPANS.get(made_by.get(id(df)), "caching.materialize")
            with tr.span(name) as s:
                df = caching.tracked_cache(df)
                df.count()
            steps[name] = steps.get(name, 0.0) + s.duration
            return df

        patches = {n: traced_builder(n, getattr(candy_pipeline, n)) for n in self.BUILDERS}
        patches["tracked_cache"] = traced_cache
        with _patched(candy_pipeline, patches):
            with tr.span("plans.build"):
                products = candy_src.read_products(spark, self.products_csv)
            outputs = candy_pipeline.run_pipeline(spark, self.paths, products)
        with tr.span("timeseries.forecast") as s_fc:
            outputs["sales_profit_forecast"].collect()
        for name, df in outputs.items():
            with tr.span("sinks.write"):
                sinks.save_single_csv(df, out, f"{name}.csv")
        with tr.span("caching.release"):
            _release(spark)
        return {
            "sources.candy_scan_s": steps["sources.candy_scan"],
            "operators.allocation_s": steps["operators.allocation"],
            "timeseries.forecast_s": s_fc.duration,
            "sinks.bytes_written": sum(
                os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            ),
            # the traced pass's CSVs are checked with the timed ones
            "attempted": len(outputs),
        }


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


@contextmanager
def _patched(module, attrs: dict):
    """Replace ``module``'s attributes for the duration of a block."""
    saved = {k: getattr(module, k) for k in attrs}
    for k, v in attrs.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


def _plan_phases(tr, df) -> None:
    """Run the optimizer and planner on ``df``'s QueryExecution inside a
    ``plans.plan`` span and record its QueryPlanningTracker phases."""
    with tr.span("plans.plan") as s:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            s.attrs[ph] = opt.get().durationMs() if opt.isDefined() else 0


# ---------------------------------------------------------------------------
# curation_sf0.1
# ---------------------------------------------------------------------------

CURATION = (
    "corpus_curation", "exact_dedup_docs", "minhash_neardup_pairs",
    "ann_topk_lsh", "bloom_decontaminate_docs", "exact_substring_dup_pairs",
    "heavy_hitter_tokens", "heavy_hitter_char_trigrams", "doc_chunking",
    "curriculum_quality_buckets", "pretraining_pipeline_funnel",
    "label_centroids_arrow", "multimodal_patch_grid",
)


def _sort_key(v):
    if v is None:
        return (2, 0)
    if isinstance(v, float):
        # rounded so last-bit differences cannot reorder rows
        return (1, 0) if math.isnan(v) else (0, round(v, 9))
    return (0, v)


def _normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted, as the repo's oracle gate
    compares results (values are then compared with a tolerance)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    plain = not any(v is None or isinstance(v, float) for r in out for v in r)
    try:
        out.sort(key=None if plain else lambda r: tuple(_sort_key(x) for x in r))
    except TypeError:  # values Python cannot order (maps): order by text
        out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [cols[i] for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the two results match as the oracle gate compares them
    (column names, row count, order-insensitive values); else why not."""
    gc, g = _normalize(list(got_cols), [tuple(r) for r in got_rows])
    wc, w = _normalize(list(want_cols), [tuple(r) for r in want_rows])
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    if g == w:
        return None
    for gr, wr in zip(g, w):
        if not all(_same(x, y) for x, y in zip(gr, wr)):
            return f"row {gr} != {wr}"
    return None


class OracleCache:
    """DuckDB oracle results over read-only tables, kept on disk per
    (query, SQL, table content) so later runs skip recomputing them."""

    def __init__(self, cache_dir: str, sf_dir: str):
        self.dir = cache_dir
        self.sf_dir = sf_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.tables_key = "".join(
            content_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
            for t in TPCH_TABLES
        )
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TPCH_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def result(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256((self.tables_key + sql).encode()).hexdigest()[:16]
        path = os.path.join(self.dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = self._connect().execute(sql)
        out = ([d[0] for d in res.description], res.fetchall())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out, f)
        os.replace(tmp, path)
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


class Catalog:
    """Registered catalog queries on the sf0.1 test tables, each
    materialized through the noop sink; the seed shuffles the query
    order of every pass."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name = name
        self.queries = queries

    def setup(self, ctx: Context) -> None:
        self.fns = query_map()
        self.oracles = oracle_sql_map()
        self.rng = random.Random(ctx.seed)
        self.bad: dict[str, str] = {}
        ctx.info["dataset"] = {
            "sf_dir": SF01,
            "tables": {
                t: os.path.getsize(os.path.join(SF01, f"{t}.parquet"))
                for t in TPCH_TABLES
            },
        }
        self.oracle = OracleCache(os.path.join(ctx.work, "oracle_cache"), SF01)
        # warm-up: one pass that collects and checks every query (it
        # also takes the cold start: JIT, code generation, Python
        # workers)
        for q in self._order():
            try:
                df = self.fns[q](ctx.spark, SF01)
                rows = df.collect()
                cols = df.columns
            except Exception as e:
                self.bad[q] = f"raised {e!r}"
                continue
            finally:
                _release(ctx.spark)
            t0 = time.perf_counter()
            sql = self.oracles.get(q)
            if sql is None:
                # no oracle: the gate's rows-only check
                if not cols:
                    self.bad[q] = "no columns"
            else:
                why = compare_rows(cols, rows, *self.oracle.result(q, sql))
                if why:
                    self.bad[q] = why
            ctx.check_s += time.perf_counter() - t0
        self.oracle.close()

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def run_pass(self, ctx: Context) -> PassResult:
        res = PassResult()
        for q in self._order():
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                _noop(self.fns[q](ctx.spark, SF01))
            except Exception as e:
                log(f"{q} failed: {e!r}")
                res.failed += 1
                self.bad.setdefault(q, f"raised {e!r}")
                continue
            finally:
                dt = time.perf_counter() - t0
                res.tracked += caching.tracked_count()
                _release(ctx.spark)
            if q in self.bad:
                res.failed += 1
            res.latencies.append(dt)
        return res

    def check(self, ctx: Context) -> int:
        for q, why in self.bad.items():
            log(f"{q} output check failed: {why}")
        return 0  # failures were counted per timed op in run_pass

    def traced_pass(self, ctx: Context, tr) -> dict:
        for q in self._order():
            with tr.span("plans.build", query=q):
                df = self.fns[q](ctx.spark, SF01)
            _plan_phases(tr, df)
            with tr.span("sinks.write"):
                _noop(df)
            with tr.span("caching.release"):
                _release(ctx.spark)
        return {}


WORKLOADS = {
    "candy_etl": CandyEtl,
    "curation_sf0.1": lambda: Catalog("curation_sf0.1", CURATION),
}
