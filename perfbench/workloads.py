"""The four benchmark workloads.

Each workload is a closed loop with one client: op types run round-robin
with seeded parameters, and every op calls the library's public layer
functions directly (``table``, ``series``, ``functions``, ``operators.*``,
``pipeline.*``, ``streaming``), never the ``queries.py`` registry, whose
per-application artifact cache and fresh-stream-per-call would turn the
loop into cache hits and stream start-ups.

An op returns either a DataFrame, which the runner collects, or a
finished Python result. Every op's result is kept and checked after the
timed window against DuckDB over the same Parquet files or against
pandas/numpy, never against the engine itself.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from harness import stream_progress
from imcs_spark.functions import aggregates, elementwise
from imcs_spark.operators import grouping, joins, sorting, timeseries, windows
from imcs_spark.pipeline import dedup, similarity
from imcs_spark import series, streaming
from imcs_spark.table import Engine, TsTable

EPOCH = dt.datetime(1970, 1, 1)
REL = 1e-9


def to_dt(us: int) -> dt.datetime:
    """Naive UTC datetime (the process runs with TZ=UTC)."""
    return EPOCH + dt.timedelta(microseconds=int(us))


def to_us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def approx(a, b, rel=REL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def all_close(a, b, rel=REL) -> bool:
    return len(a) == len(b) and all(approx(x, y, rel) for x, y in zip(a, b))


class Op:
    def __init__(self, name, params, run, check, pandas=False):
        self.name, self.params, self.run, self.check, self.pandas = name, params, run, check, pandas


class Workload:
    """Base: subclasses set ``inputs`` (gen kind), ``sizes``, ``ops`` and
    ``warmup_rounds`` (a fixed count, never adaptive, so set-up time stays
    comparable between runs) and ``min_rounds``, the fewest timed rounds a
    run holds."""

    load_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.spark = ctx.spark
        self.size = self.sizes[ctx.scale]
        self.data = gen.build(self.inputs, ctx.seed, self.size, ctx.data_root)

    def load(self) -> None:
        """Bring the store to its queryable state (timed, repeated)."""

    def unload(self) -> None:
        self.spark.catalog.clearCache()

    def after_op(self) -> None:
        """Housekeeping between ops, outside the op's latency."""

    def nominal_work(self, op_name: str) -> int:
        return 0

    def extra_metrics(self) -> dict:
        return {}

    def layer_metrics(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# quotes: shared by quote_point and quote_scan
# --------------------------------------------------------------------------
class QuoteBase(Workload):
    inputs = "quotes"
    _duck = None

    def quotes_path(self) -> str:
        return os.path.join(self.data, "quotes.parquet")

    def duck(self):
        if self._duck is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            con.execute(
                "CREATE TABLE q AS SELECT symbol, epoch_us(ts) AS t, open, high, low, close, volume "
                f"FROM read_parquet('{self.quotes_path()}')"
            )
            con.execute(
                "CREATE TABLE p AS SELECT symbol, epoch_us(ts) AS t, qty "
                f"FROM read_parquet('{os.path.join(self.data, 'probes.parquet')}')"
            )
            self._duck = con
        return self._duck

    def bar_us(self, day: int) -> int:
        return gen.T0_US + day * gen.DAY_US + gen.CLOSE_US

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class QuotePoint(QuoteBase):
    """Short parameterized queries on a persisted quote store."""

    warmup_rounds = 2
    min_rounds = 5
    sizes = {
        "full": {"symbols": 250, "days": 2000, "probes": 1000, "span": 250},
        "tiny": {"symbols": 20, "days": 300, "probes": 100, "span": 60},
    }

    def load(self) -> None:
        df = self.spark.read.parquet(self.quotes_path()).persist()
        df.count()
        self.engine = Engine(self.spark)
        self.t = self.engine.create("quote", df, "ts", "symbol")

    def _slice(self, rng):
        s = self.size
        sym = f"S{int(rng.integers(0, s['symbols'])):04d}"
        d0 = int(rng.integers(0, s["days"] - s["span"]))
        return sym, d0, d0 + int(rng.integers(s["span"] // 2, s["span"]))

    def _get(self, sym, d0, d1):
        with self.tr.span("table"):
            return self.t.get(sym, to_dt(self.bar_us(d0)), to_dt(self.bar_us(d1)))

    def _posed(self, sym, d0, d1):
        sl = self._get(sym, d0, d1)
        with self.tr.span("series"):
            return series.with_pos(sl, ["ts"])

    def _ref_slice(self, sym, d0, d1) -> pd.DataFrame:
        return self.duck().execute(
            "SELECT t, open, high, close, volume FROM q WHERE symbol = ? AND t BETWEEN ? AND ? ORDER BY t",
            [sym, self.bar_us(d0), self.bar_us(d1)],
        ).df()

    # vwap_one -------------------------------------------------------------
    def vwap_one(self, p):
        sl = self._get(*p)
        with self.tr.span("functions"):
            vw = aggregates.wavg("volume", "close").alias("vwap")
        return sl.agg(vw)

    def check_vwap_one(self, p, rows):
        ref = self._ref_slice(*p)
        return approx(rows[0]["vwap"], (ref.close * ref.volume).sum() / ref.volume.sum())

    # filter_project --------------------------------------------------------
    def filter_project(self, p):
        posed = self._posed(*p)
        with self.tr.span("functions"):
            cond = elementwise.gt("close", elementwise.mul("open", 1.01))
        return posed.filter(cond).select("pos", "ts", "close")

    def check_filter_project(self, p, rows):
        ref = self._ref_slice(*p)
        ref["pos"] = np.arange(len(ref))
        ref = ref[ref.close > ref.open * 1.01]
        got = [(r["pos"], to_us(r["ts"]), r["close"]) for r in rows]
        return got == list(zip(ref.pos.tolist(), ref.t.tolist(), ref.close.tolist()))

    # mavg_one ---------------------------------------------------------------
    def mavg_one(self, p):
        posed = self._posed(*p)
        with self.tr.span("operators.windows"):
            m = windows.moving_agg(posed, "avg", 20, val_col="close", out_col="mavg")
        with self.tr.span("operators.timeseries"):
            d = timeseries.diff(m, val_col="close", out_col="chg")
        return d.select("pos", "mavg", "chg").orderBy("pos")

    def check_mavg_one(self, p, rows):
        ref = self._ref_slice(*p)
        mavg = ref.close.rolling(20, min_periods=1).mean()
        chg = ref.close.diff().fillna(0.0)
        return (all_close([r["mavg"] for r in rows], mavg.tolist())
                and all_close([r["chg"] for r in rows], chg.tolist()))

    # ema_one ----------------------------------------------------------------
    def ema_one(self, p):
        posed = self._posed(*p)
        with self.tr.span("operators.windows"):
            e = windows.ema(posed, 12, val_col="close")
        return e.select("pos", "ema").orderBy("pos")

    def check_ema_one(self, p, rows):
        ref = self._ref_slice(*p).close.ewm(alpha=2 / 13, adjust=False).mean()
        return all_close([r["ema"] for r in rows], ref.tolist())

    # asof_one ---------------------------------------------------------------
    def asof_params(self, rng):
        sym, d0, d1 = self._slice(rng)
        lo, hi = self.bar_us(d0), self.bar_us(d1)
        probes = np.sort(rng.integers(lo, hi + gen.DAY_US, 100))
        return sym, d0, d1, [int(x) for x in probes]

    def asof_one(self, p):
        sym, d0, d1, probes = p
        right = self._get(sym, d0, d1).select("symbol", "ts", "close")
        left = self.spark.createDataFrame(
            [(sym, to_dt(x), i) for i, x in enumerate(probes)], "symbol string, ts timestamp, i int"
        )
        with self.tr.span("operators.joins"):
            j = joins.asof_join(left, right, on="ts", by=["symbol"], right_cols=["close"],
                                direction="backward")
        return j.select("i", "close").orderBy("i")

    def check_asof_one(self, p, rows):
        sym, d0, d1, probes = p
        ref = self._ref_slice(sym, d0, d1)
        idx = np.searchsorted(ref.t.to_numpy(), np.array(probes), side="right") - 1
        want = [ref.close.iloc[k] if k >= 0 else None for k in idx]
        return [r["i"] for r in rows] == list(range(len(probes))) and all_close(
            [r["close"] for r in rows], want)

    # top_slice --------------------------------------------------------------
    def top_slice(self, p):
        posed = self._posed(*p)
        with self.tr.span("operators.sorting"):
            return sorting.top_max(posed, 10, val_col="close")

    def check_top_slice(self, p, rows):
        ref = self._ref_slice(*p).close
        want = ref.iloc[np.lexsort((np.arange(len(ref)), -ref.to_numpy()))][:10]
        got = sorted(rows, key=lambda r: r["pos"])
        return [r["close"] for r in got] == want.tolist()

    # vwap_all ---------------------------------------------------------------
    def vwap_all_params(self, rng):
        d0 = int(rng.integers(0, self.size["days"] - 20))
        return d0, d0 + 19

    def vwap_all(self, p):
        d0, d1 = p
        with self.tr.span("table"):
            sl = self.t.get(None, to_dt(self.bar_us(d0)), to_dt(self.bar_us(d1)))
        with self.tr.span("functions"):
            sl = sl.withColumn("pv", elementwise.mul("close", "volume"))
        with self.tr.span("operators.grouping"):
            g = grouping.hash_agg(sl, {"pv": ("sum", "pv"), "v": ("sum", "volume")}, ["symbol"])
        with self.tr.span("functions"):
            return g.select("symbol", elementwise.div("pv", "v").alias("vwap"))

    def check_vwap_all(self, p, rows):
        d0, d1 = p
        ref = self.duck().execute(
            "SELECT symbol, SUM(close * volume) / SUM(volume) FROM q WHERE t BETWEEN ? AND ? GROUP BY 1",
            [self.bar_us(d0), self.bar_us(d1)],
        ).fetchall()
        got = {r["symbol"]: r["vwap"] for r in rows}
        return len(got) == len(ref) and all(approx(got.get(s), v) for s, v in ref)

    @property
    def ops(self):
        s = self._slice
        return [
            Op("vwap_one", s, self.vwap_one, self.check_vwap_one),
            Op("filter_project", s, self.filter_project, self.check_filter_project),
            Op("mavg_one", s, self.mavg_one, self.check_mavg_one),
            Op("ema_one", s, self.ema_one, self.check_ema_one),
            Op("asof_one", self.asof_params, self.asof_one, self.check_asof_one),
            Op("top_slice", s, self.top_slice, self.check_top_slice),
            Op("vwap_all", self.vwap_all_params, self.vwap_all, self.check_vwap_all),
        ]

    def nominal_work(self, op_name: str) -> int:
        """Rows in the queried slice (vwap_all: ~20 days of every symbol)."""
        return self.size["symbols"] * 20 if op_name == "vwap_all" else self.size["span"] * 3 // 4

    def extra_metrics(self) -> dict:
        st = self.engine.stats()
        parts = [(c["cached_partitions"], c["total_partitions"]) for c in st["cached_rdds"]]
        self.cached_frac = sum(a for a, _ in parts) / max(1, sum(b for _, b in parts))
        return {"store_mb": st["used_memory_bytes"] / 1e6}

    def layer_metrics(self) -> dict:
        self.extra_metrics()
        return {"store.cached_frac": self.cached_frac}


class QuoteScan(QuoteBase):
    """Whole-table analytics straight from Parquet, nothing persisted."""

    sizes = {
        "full": {"symbols": 100, "days": 1200, "probes": 120_000},
        "tiny": {"symbols": 20, "days": 300, "probes": 3000},
    }

    warmup_rounds = 1
    min_rounds = 3

    def load(self) -> None:
        self.engine = Engine(self.spark)
        self.t = self.engine.create("quote", self.quotes_path(), "ts", "symbol")
        self.rows = self.size["symbols"] * self.size["days"]
        self._refs = {}

    def _posed(self):
        with self.tr.span("table"):
            df = self.t.df()
        with self.tr.span("series"):
            return series.with_pos(df, ["ts"], ["symbol"])

    def _ref(self, key, sql, params=()):
        if key not in self._refs:
            self._refs[key] = {r[0]: r[1:] for r in self.duck().execute(sql, list(params)).fetchall()}
        return self._refs[key]

    @staticmethod
    def _match(rows, ref) -> bool:
        """rows: (key, value...) tuples; ref: {key: (value...)}."""
        got = {r[0]: r[1:] for r in rows}
        return set(got) == set(ref) and all(
            len(got[k]) == len(ref[k]) and all(approx(g, w) for g, w in zip(got[k], ref[k]))
            for k in ref)

    # indicators_all ----------------------------------------------------------
    def indicators_all(self, p):
        posed = self._posed()
        with self.tr.span("operators.windows"):
            r = windows.recurrences(posed, {"ema": "ema:12", "atr": "atr:14"}, val_col="close",
                                    partition_by=["symbol"])
        with self.tr.span("operators.grouping"):
            return grouping.hash_agg(r, {"e": ("sum", "ema"), "a": ("sum", "atr")}, ["symbol"])

    def check_indicators_all(self, p, rows):
        if "ind" not in self._refs:
            ref = {}
            qdf = self.duck().execute("SELECT symbol, close FROM q ORDER BY symbol, t").df()
            for sym, g in qdf.groupby("symbol", sort=False):
                x = g.close.to_numpy()
                e = pd.Series(x).ewm(alpha=2 / 13, adjust=False).mean().sum()
                ref[sym] = (e, _atr_sum(x, 14))
            self._refs["ind"] = ref
        return self._match([(r["symbol"], r["e"], r["a"]) for r in rows], self._refs["ind"])

    # window_chain ------------------------------------------------------------
    def window_chain(self, p):
        posed = self._posed()
        with self.tr.span("operators.windows"):
            m = windows.moving_agg(posed, "avg", 5, "close", ["symbol"], "ma5")
            m = windows.moving_agg(m, "avg", 20, "close", ["symbol"], "ma20")
            m = windows.moving_agg(m, "max", 50, "close", ["symbol"], "mx50")
        with self.tr.span("operators.grouping"):
            return grouping.hash_agg(
                m, {"a": ("sum", "ma5"), "b": ("sum", "ma20"), "c": ("sum", "mx50")}, ["symbol"])

    def check_window_chain(self, p, rows):
        ref = self._ref("wc", """
            SELECT symbol, SUM(a), SUM(b), SUM(c) FROM (
              SELECT symbol,
                AVG(close) OVER (PARTITION BY symbol ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) a,
                AVG(close) OVER (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) b,
                MAX(close) OVER (PARTITION BY symbol ORDER BY t ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) c
              FROM q) GROUP BY symbol""")
        return self._match([(r["symbol"], r["a"], r["b"], r["c"]) for r in rows], ref)

    # run_groups --------------------------------------------------------------
    def run_groups(self, p):
        posed = self._posed()
        with self.tr.span("functions"):
            posed = posed.withColumn("up", elementwise.as_int8(elementwise.gt("close", "open")))
        with self.tr.span("operators.grouping"):
            runs = grouping.group_aggs(posed, {"n": ("count", "close"), "hi": ("max", "high")}, "up",
                                       partition_by=["symbol"])
            return grouping.hash_agg(runs, {"runs": ("count", "n"), "hi": ("sum", "hi")}, ["symbol"])

    def check_run_groups(self, p, rows):
        ref = self._ref("rg", """
            WITH u AS (SELECT symbol, t, high, (close > open) AS up FROM q),
            l AS (SELECT *, CASE WHEN up IS DISTINCT FROM lag(up) OVER (PARTITION BY symbol ORDER BY t)
                                 THEN 1 ELSE 0 END AS s FROM u),
            r AS (SELECT *, SUM(s) OVER (PARTITION BY symbol ORDER BY t) AS rid FROM l),
            g AS (SELECT symbol, rid, MAX(high) AS hi FROM r GROUP BY 1, 2)
            SELECT symbol, COUNT(*), SUM(hi) FROM g GROUP BY 1""")
        return self._match([(r["symbol"], r["runs"], r["hi"]) for r in rows], ref)

    # asof_bulk ---------------------------------------------------------------
    def asof_bulk(self, p):
        with self.tr.span("table"):
            right = self.t.df().select("symbol", "ts", "close")
        left = self.spark.read.parquet(os.path.join(self.data, "probes.parquet"))
        with self.tr.span("operators.joins"):
            j = joins.asof_join(left, right, on="ts", by=["symbol"], right_cols=["close"],
                                direction="backward")
        with self.tr.span("operators.grouping"):
            return grouping.hash_agg(j, {"n": ("count", "close"), "c": ("sum", "close")}, ["symbol"])

    def check_asof_bulk(self, p, rows):
        ref = self._ref("ab", """
            SELECT p.symbol, COUNT(*), SUM(q.close)
            FROM p ASOF LEFT JOIN q ON p.symbol = q.symbol AND p.t >= q.t GROUP BY 1""")
        return self._match([(r["symbol"], r["n"], r["c"]) for r in rows], ref)

    # cum_global --------------------------------------------------------------
    def cum_global(self, p):
        with self.tr.span("table"):
            df = self.t.df().select("symbol", "ts", "volume")
        with self.tr.span("series"):
            posed = series.zip_with_global_pos(df, ["ts", "symbol"])
        with self.tr.span("operators.windows"):
            c = windows.cum_agg_global(posed, "sum", val_col="volume", out_col="cv")
        return c.agg(F.max("cv").alias("m"), F.sum("cv").alias("s"))

    def check_cum_global(self, p, rows):
        ref = self._ref("cg", """
            SELECT 0, MAX(cv), SUM(cv) FROM (
              SELECT SUM(volume) OVER (ORDER BY t, symbol ROWS UNBOUNDED PRECEDING) cv FROM q)""")
        return (rows[0]["m"], rows[0]["s"]) == tuple(int(x) for x in ref[0])

    # export_series -----------------------------------------------------------
    def export_params(self, rng):
        k = max(1, self.size["symbols"] // 5)
        syms = sorted(f"S{int(i):04d}" for i in rng.choice(self.size["symbols"], k, replace=False))
        d0 = int(rng.integers(0, self.size["days"] // 2))
        return syms, d0, d0 + self.size["days"] // 2

    def export_series(self, p):
        syms, d0, d1 = p
        with self.tr.span("table"):
            return self.t.get(syms, to_dt(self.bar_us(d0)), to_dt(self.bar_us(d1))).select(
                "symbol", "ts", "close", "volume")

    def check_export_series(self, p, pdf):
        syms, d0, d1 = p
        n, c, v = self.duck().execute(
            f"SELECT COUNT(*), SUM(close), SUM(volume) FROM q WHERE symbol IN ({','.join('?' * len(syms))})"
            " AND t BETWEEN ? AND ?", [*syms, self.bar_us(d0), self.bar_us(d1)]).fetchone()
        return len(pdf) == n and approx(pdf.close.sum(), c) and int(pdf.volume.sum()) == v

    @property
    def ops(self):
        fixed = lambda rng: None  # noqa: E731 - whole-table ops take no parameters
        return [
            Op("indicators_all", fixed, self.indicators_all, self.check_indicators_all),
            Op("window_chain", fixed, self.window_chain, self.check_window_chain),
            Op("run_groups", fixed, self.run_groups, self.check_run_groups),
            Op("asof_bulk", fixed, self.asof_bulk, self.check_asof_bulk),
            Op("cum_global", fixed, self.cum_global, self.check_cum_global),
            Op("export_series", self.export_params, self.export_series, self.check_export_series,
               pandas=True),
        ]

    def nominal_work(self, op_name: str) -> int:
        if op_name == "asof_bulk":
            return self.rows + self.size["probes"]
        if op_name == "export_series":
            return self.rows // 5 // 2
        return self.rows


def _atr_sum(x: np.ndarray, n: int) -> float:
    """Sum of the Wilder-smoothed series with warm-up (cs_window_atr):
    a cumulative mean for the first n values, then alpha = 1/n."""
    head = np.cumsum(x[:n]) / np.arange(1, min(n, len(x)) + 1)
    if len(x) <= n:
        return float(head.sum())
    tail = pd.Series(np.concatenate(([head[-1]], x[n:]))).ewm(alpha=1 / n, adjust=False).mean()
    return float(head.sum() + tail.iloc[1:].sum())


# --------------------------------------------------------------------------
# ingest_pipeline: tick part, corpus part, and the workload joining them
# --------------------------------------------------------------------------
class TickIngest(Workload):
    """Tick part of ``ingest_pipeline``. Ordered appends with head-trim
    retention and versioned save/open, read queries on the newest version,
    and two availableNow streams over the same staged batches. Old table versions, old stream output and
    consumed staging files are removed outside the op latency, so the
    store holds a fixed number of live rows and the run stays stationary."""

    inputs = "ticks"
    sizes = {
        "full": {"batches": 120, "rows": 1000, "symbols": 50, "step_us": 50_000,
                 "live": 10},
        "tiny": {"batches": 120, "rows": 200, "symbols": 10, "step_us": 500_000,
                 "live": 4},
    }
    gap_s = 5

    def batch_path(self, b: int) -> str:
        return os.path.join(self.data, f"batch-{b:05d}.parquet")

    def batch_span(self, b: int) -> tuple[int, int]:
        s = self.size
        return gen.T0_US + b * s["rows"] * s["step_us"], gen.T0_US + (b + 1) * s["rows"] * s["step_us"]

    def load(self) -> None:
        s = self.size
        self.root = os.path.join(self.ctx.work_dir, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        self.store = os.path.join(self.root, "store")
        paths = [self.batch_path(b) for b in range(s["live"])]
        engine = Engine(self.spark)
        self.t = engine.create("ticks", self.spark.read.parquet(*paths), "ts", "symbol").save(self.store)
        self.next_b = s["live"]  # next batch for the table path
        self.stream_b = 0  # next batch for the stream path
        self.emitted: list[tuple] = []
        self.stream_stats: list[dict] = []
        self.schema = self.spark.read.parquet(self.batch_path(0)).schema

    # ingest -------------------------------------------------------------------
    def ingest_params(self, rng):
        b = self.next_b
        self.next_b += 1
        if b >= self.size["batches"]:
            raise RuntimeError("ingest_pipeline ran out of generated tick batches")
        return b

    def ingest(self, b):
        batch = self.spark.read.parquet(self.batch_path(b))
        cutoff = self.batch_span(b - self.size["live"] + 1)[0]
        with self.tr.span("table.append"):
            t = self.t.append(batch, strict_order=True)
        with self.tr.span("table.delete"):
            t = t.delete(till_ts=to_dt(cutoff - 1))
        with self.tr.span("table.save"):
            t.save()
        with self.tr.span("table.open"):
            self.t = TsTable.open(self.spark, "ticks", self.store)
        return b

    def check_ingest(self, b, res):
        # the content of the version this op made visible is checked by
        # the read_newest op that follows it in the round
        return res == b

    # read on the newest version ------------------------------------------------
    def read_params(self, rng):
        return self.next_b - 1

    def read_newest(self, b):
        with self.tr.span("operators.grouping"):
            return grouping.hash_agg(
                self.t.df(), {"n": ("count", "price"), "v": ("sum", "size"), "hi": ("max", "price")},
                ["symbol"])

    def check_read_newest(self, b, rows):
        live = pd.concat([pd.read_parquet(self.batch_path(k))
                          for k in range(b - self.size["live"] + 1, b + 1)])
        ref = live.groupby("symbol").agg(n=("price", "size"), v=("size", "sum"), hi=("price", "max"))
        got = {r["symbol"]: (r["n"], r["v"], r["hi"]) for r in rows}
        return got == {k: (int(r.n), int(r.v), float(r.hi)) for k, r in ref.iterrows()}

    # streams over the staged batch ------------------------------------------------
    def stream_params(self, rng):
        b = self.stream_b
        self.stream_b += 1
        return b

    def stream(self, b):
        root = self.root
        for leg in ("stage_a", "stage_s"):
            os.makedirs(os.path.join(root, leg), exist_ok=True)
            shutil.copy(self.batch_path(b), os.path.join(root, leg, f"b{b:05d}.parquet"))
        src_a = self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(
            os.path.join(root, "stage_a"))
        src_s = self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(
            os.path.join(root, "stage_s"))
        with self.tr.span("streaming"):
            qa = streaming.append_stream(src_a, os.path.join(root, "stream_out"), "ts", "symbol",
                                         checkpoint=os.path.join(root, "ck_a"))
            sess = streaming.sessionize_stream_native(src_s, "ts", "symbol", gap_seconds=self.gap_s,
                                                      watermark="10 seconds")
            rows = []
            qs = (sess.writeStream.outputMode("append")
                  .foreachBatch(lambda d, _: rows.extend(d.collect()))
                  .option("checkpointLocation", os.path.join(root, "ck_s"))
                  .trigger(availableNow=True).start())
            qa.awaitTermination()
            qs.awaitTermination()
        if self.tr.on:
            pa, ps = stream_progress(qa), stream_progress(qs)
            self.stream_stats.append({k: pa[k] + ps[k] for k in pa})
        self.emitted.extend((r["symbol"], to_us(r["session_start"]), to_us(r["session_end"]),
                             r["n_events"]) for r in rows)
        return b

    def check_stream(self, b, res):
        # emitted sessions and the append target are checked in final_checks
        return res == b

    def after_op(self) -> None:
        self._gc()

    def _gc(self) -> None:
        """Keep the newest two table versions, the live window of stream
        output, and staging files of the current batch only."""
        versions = sorted(glob.glob(os.path.join(self.store, "v=*")),
                          key=lambda p: int(p.rsplit("=", 1)[1]))
        for old in versions[:-2]:
            shutil.rmtree(old, ignore_errors=True)
        out = glob.glob(os.path.join(self.root, "stream_out", "batch-*.parquet"))
        ids = sorted({int(os.path.basename(f).split("-")[2]) for f in out})
        for f in out:
            if int(os.path.basename(f).split("-")[2]) < ids[-self.size["live"]:][0]:
                os.remove(f)
        for leg in ("stage_a", "stage_s"):
            for f in glob.glob(os.path.join(self.root, leg, "b*.parquet")):
                if int(os.path.basename(f)[1:6]) < self.stream_b - 1:
                    os.remove(f)

    def final_checks(self) -> bool:
        """Every session the stream emitted must equal a gap session
        computed by pandas over all ticks it consumed."""
        if self.stream_b == 0:
            return True
        ticks = pd.concat([pd.read_parquet(self.batch_path(k)) for k in range(self.stream_b)])
        ticks["t"] = (ticks.ts - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)
        ref = set()
        for sym, g in ticks.sort_values("t").groupby("symbol"):
            t = g.t.to_numpy()
            starts = np.flatnonzero(np.diff(t) > self.gap_s * 1_000_000) + 1
            for s0, e0 in zip(np.r_[0, starts], np.r_[starts, len(t)]):
                ref.add((sym, int(t[s0]), int(t[e0 - 1]), int(e0 - s0)))
        if not self.emitted or not all(e in ref for e in self.emitted):
            return False
        # the append target keeps the last `live` micro-batches, one
        # staged file each
        kept = glob.glob(os.path.join(self.root, "stream_out", "batch-*.parquet"))
        n_live = len({os.path.basename(f).split("-")[2] for f in kept})
        out = pd.concat([pd.read_parquet(f) for f in kept])
        want = ticks[ticks.t >= self.batch_span(self.stream_b - n_live)[0]]
        return len(out) == len(want) and int(out["size"].sum()) == int(want["size"].sum())

    @property
    def ops(self):
        return [
            Op("ingest", self.ingest_params, self.ingest, self.check_ingest),
            Op("read_newest", self.read_params, self.read_newest, self.check_read_newest),
            Op("stream", self.stream_params, self.stream, self.check_stream),
        ]

    def nominal_work(self, op_name: str) -> int:
        return self.size["rows"] if op_name in ("ingest", "stream") else 0

    def extra_metrics(self) -> dict:
        total, files = 0, 0
        for d, _, fs in os.walk(self.root):
            for f in fs:
                total += os.path.getsize(os.path.join(d, f))
                files += 1
        self.files = files
        return {"disk_mb": total / 1e6}

    def layer_metrics(self) -> dict:
        out = {"ingest.files": self.files}
        for k in self.stream_stats[0] if self.stream_stats else ():
            out["streaming." + k] = float(np.mean([s[k] for s in self.stream_stats]))
        return out


class CorpusDedup(Workload):
    """Corpus part of ``ingest_pipeline``. Near-dup and exact dedup per document
    batch, plus top-k cosine search over the batch's embeddings."""

    inputs = "corpus"
    sizes = {
        "full": {"batches": 4, "docs": 1000, "dim": 32, "queries": 8},
        "tiny": {"batches": 2, "docs": 200, "dim": 8, "queries": 3},
    }

    def load(self) -> None:
        with open(os.path.join(self.data, "truth.json")) as f:
            self.truth = {int(k): v for k, v in json.load(f).items()}
        self.q = gen.ann_queries(self.ctx.seed, self.size["queries"], self.size["dim"])
        self.queries = self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.q)], "query_id int, embedding array<double>")
        self._emb = {}

    def docs(self, b):
        return self.spark.read.parquet(os.path.join(self.data, f"docs-{b:03d}.parquet"))

    def batch_params(self, rng):
        return int(rng.integers(0, self.size["batches"]))

    def near_dedup(self, b):
        docs = self.docs(b).select("doc_id", "text")
        with self.tr.span("pipeline.dedup"):
            out = dedup.minhash_dedup_cc(docs)
        return out.select("doc_id")

    def check_near_dedup(self, b, rows):
        return sorted(r["doc_id"] for r in rows) == self.truth[b]["near_keep"]

    def exact(self, b):
        docs = self.docs(b).select("doc_id", "text")
        with self.tr.span("pipeline.dedup"):
            out = dedup.exact_dedup(docs)
        return out.select("doc_id")

    def check_exact(self, b, rows):
        return sorted(r["doc_id"] for r in rows) == self.truth[b]["exact_keep"]

    def ann_topk(self, b):
        docs = self.docs(b).select("doc_id", "embedding")
        with self.tr.span("pipeline.similarity"):
            return similarity.brute_force_topk(docs, self.queries, k=10, id_col="doc_id")

    def check_ann_topk(self, b, rows):
        if b not in self._emb:
            pdf = pd.read_parquet(os.path.join(self.data, f"docs-{b:03d}.parquet"))
            e = np.stack(pdf.embedding.to_numpy())
            self._emb[b] = (pdf.doc_id.to_numpy(), e / np.linalg.norm(e, axis=1)[:, None])
        ids, e = self._emb[b]
        qn = self.q / np.linalg.norm(self.q, axis=1)[:, None]
        for qi in range(len(qn)):
            cos = e @ qn[qi]
            order = np.lexsort((ids, -cos))[:10]
            got = sorted((r for r in rows if r["query_id"] == qi), key=lambda r: r["rank"])
            if [r["doc_id"] for r in got] != ids[order].tolist():
                return False
            if not all_close([r["cosine"] for r in got], cos[order].tolist(), 1e-9):
                return False
        return True

    def after_op(self) -> None:
        # jaccard_pairs persists its candidate and shingle frames and
        # never releases them; drop them so the store does not grow
        # across ops.
        self.spark.catalog.clearCache()

    @property
    def ops(self):
        p = self.batch_params
        return [
            Op("near_dedup", p, self.near_dedup, self.check_near_dedup),
            Op("exact_dedup", p, self.exact, self.check_exact),
            Op("ann_topk", p, self.ann_topk, self.check_ann_topk),
        ]

    def nominal_work(self, op_name: str) -> int:
        return self.size["docs"] if op_name in ("near_dedup", "exact_dedup", "ann_topk") else 0

    def phase_probe(self, b) -> dict:
        """Split near-dedup into its phases by materializing each one in
        turn (between timed ops, so op latencies are unaffected)."""
        docs = self.docs(b).select("doc_id", "text")
        out = {}
        t = time.perf_counter()
        sigs = dedup.minhash_signatures(docs).persist()
        sigs.write.format("noop").mode("overwrite").save()
        out["signatures_ms"] = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        cands = dedup.minhash_lsh_candidates(sigs).persist()
        n_cand = cands.count()
        out["candidates_ms"] = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        dups = dedup.jaccard_pairs(docs, cands, threshold=0.8).persist()
        n_dup = dups.count()
        out["verify_ms"] = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        dedup.connected_components(dups).count()
        out["components_ms"] = (time.perf_counter() - t) * 1e3
        out["candidate_yield"] = n_dup / max(1, n_cand)
        self.spark.catalog.clearCache()
        return out


class IngestPipeline(Workload):
    """Tick batches and document batches arriving side by side: the tick
    part appends, trims, saves, reads and streams; the corpus part
    deduplicates and searches each document batch."""

    parts = (TickIngest, CorpusDedup)
    warmup_rounds = 1
    min_rounds = 2

    def __init__(self, ctx):
        self.ctx, self.tr, self.spark = ctx, ctx.tracer, ctx.spark
        self.ticks, self.corpus = TickIngest(ctx), CorpusDedup(ctx)

    def load(self) -> None:
        self.ticks.load()
        self.corpus.load()

    @property
    def ops(self):
        return self.ticks.ops + self.corpus.ops

    def after_op(self) -> None:
        self.ticks.after_op()
        self.corpus.after_op()

    def nominal_work(self, op_name: str) -> int:
        return self.ticks.nominal_work(op_name) + self.corpus.nominal_work(op_name)

    def final_checks(self) -> bool:
        return self.ticks.final_checks()

    def extra_metrics(self) -> dict:
        return self.ticks.extra_metrics()

    def layer_metrics(self) -> dict:
        return self.ticks.layer_metrics()

    def phase_probe(self, rng) -> dict:
        return self.corpus.phase_probe(self.corpus.batch_params(rng))


WORKLOADS = {
    "quote_point": QuotePoint,
    "quote_scan": QuoteScan,
    "ingest_pipeline": IngestPipeline,
}
