"""The benchmark's workloads: ``analytics`` and ``keyed_serve``.

Each workload is one closed-loop client in this process driving the
engine on ``local[<half the cores>]``.  It builds its inputs (tables from
``datagen``; op order, keys and write waves from the seed), sets up,
runs a timed window with tracing off, checks outputs outside the
window, and returns the end-to-end metrics.  A traced run adds a
fixed-work traced phase and returns the per-layer metrics instead.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import checks
import datagen
import eventlog
import tracing
from cascading_hbase_spark import catalog, streaming
from cascading_hbase_spark.keyed import index, matview, replica
from cascading_hbase_spark.keyed import table as keyed
from cascading_hbase_spark.operators import pipe, taps, zorder
from cascading_hbase_spark.operators.functions import (
    ExpressionFilter,
    ExpressionFunction,
)
from cascading_hbase_spark.plans import cascade
from cascading_hbase_spark.queries import QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
SF = 0.01
N_BUCKETS = 32
ZORDER = "write_zordered"
# The analytics pass: six of the 21 BENCH_QUERIES, one for each thing
# the pass must exercise (README), so that a run fits the run budget.
ANALYTICS_QUERIES = (
    "dedup_minhash_lsh",          # functions: MinHash LSH, ~1,900 py4j calls to build
    "setsim_prefix_jaccard",      # functions: prefix-filtered set similarity
    "join_star_revenue",          # Catalyst planning: four broadcast joins
    "copurchase_triangles",       # pinned (checkpointed) shared relations
    "tumbling_window_agg",        # events: timestamp normalisation, windows
    "multimodal_image_features",  # Arrow/pandas Python evaluation
)
# Set-ups per run; setup_s is their median.
SETUP_REPS = 3
# A traced run also probes the layers its own workload leaves out, by
# running a small fixed piece of the other workload, so that every
# per-layer time is measured in every traced run: these analytics
# entries (functions, Arrow/pandas evaluation, the z-order write), or a
# keyed_serve get, scan and upsert and the maintenance round on an
# sf PROBE_SF table.
PROBE_ENTRIES = ("dedup_minhash_lsh", "multimodal_image_features", ZORDER)
PROBE_SF = 0.001
TAIL_PCT = 75
# keyed_serve ops are dealt in shuffled decks of 16 gets, 3 scans and 1
# upsert (80/15/5), and windows end on a deck boundary, so every run
# measures exactly that mix.
DECK = ["get"] * 16 + ["scan"] * 3 + ["upsert"]
WARM_OPS = ["get"] * 2 + ["scan", "upsert"]
# Windows hold at least this much work: 2 analytics passes (12 reads,
# 2 writes), or 3 keyed_serve decks (57 reads and 3 upserts).
MIN_PASSES = 2
MIN_DECKS = 3
# Analytics entries digested once more after the window, chosen by seed.
FINAL_CHECKS = 3
GOLDEN = (5 ** 0.5 - 1) / 2


@dataclass
class Run:
    """State shared by a workload and the harness."""

    spark: object
    seed: int
    seconds: float
    work: str
    tracer: tracing.Tracer
    attempted: int = 0
    failed: int = 0
    check_s: float = 0.0  # output checks made inside a window
    setup_reps: int = SETUP_REPS
    latencies: dict = field(default_factory=dict)  # kind -> [s]
    extra: dict = field(default_factory=dict)

    def observe(self, kind: str, seconds: float, ok: bool) -> None:
        self.attempted += 1
        if ok:
            self.latencies.setdefault(kind, []).append(seconds)
        else:
            self.failed += 1

    @contextlib.contextmanager
    def checking(self):
        """An output check made between timed ops: its time is left out
        of the window, and a traced run neither traces it nor counts
        its jobs."""
        t0 = time.perf_counter()
        try:
            with self.tracer.untraced():
                yield
        finally:
            self.check_s += time.perf_counter() - t0

    def set_up(self, build) -> str:
        """Call ``build(d)`` ``setup_reps`` times, each on a fresh
        directory ``d``, and record each call's time in
        ``extra["setup_s"]``.  Returns the last directory, which the
        workload then serves."""
        times = []
        for i in range(self.setup_reps):
            d = os.path.join(self.work, f"setup{i}")
            t0 = time.perf_counter()
            build(d)
            times.append(time.perf_counter() - t0)
        self.extra["setup_s"] = times
        return d

    @contextlib.contextmanager
    def warming(self):
        """Time the warm-up that follows the set-ups."""
        t0 = time.perf_counter()
        yield
        self.extra["warm_s"] = time.perf_counter() - t0

    def window(self, unit, minimum: int) -> None:
        """Call ``unit`` while the window is open, at least ``minimum``
        times; the window's length leaves out checks made inside it."""
        t0, c0 = time.perf_counter(), self.check_s
        n = 0
        while n < minimum or time.perf_counter() - t0 - (self.check_s - c0) < self.seconds:
            unit()
            n += 1
        self.extra["window_s"] = time.perf_counter() - t0 - (self.check_s - c0)


def _samples(xs: list[float]) -> np.ndarray:
    if not xs:
        raise RuntimeError("no successful samples to summarise")
    return np.asarray(xs)


def _tail_mean(xs: list[float]) -> float:
    """Mean of the samples at or above the TAIL_PCT percentile."""
    a = _samples(xs)
    return float(a[a >= np.percentile(a, TAIL_PCT)].mean())


def _dir_bytes(path: str) -> int:
    return sum(checks.walk(path).values())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- analytics ---------------------------------------------------------


class Analytics:
    """Each pass runs ANALYTICS_QUERIES plus a 32-file z-order write of
    lineitem, in a seeded order per pass."""

    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "data")
        self.zdir = os.path.join(run.work, "zorder")
        self.entries = list(ANALYTICS_QUERIES) + [ZORDER]
        self.rng = random.Random(run.seed)
        self.bad: set[str] = set()
        self.timed_ok: dict[str, int] = {}  # entry -> timed runs counted correct
        self.storage = None
        self.rows_written = 0
        self.bytes_written = 0

    def setup(self) -> None:
        self.data = self.run.set_up(self.build)
        self.lineitem_rows = pq.read_metadata(
            os.path.join(self.data, "lineitem.parquet")).num_rows
        with open(FINGERPRINTS, encoding="utf-8") as f:
            self.expected = json.load(f)["entries"]
        # The warm pass is also the first output check: every entry's
        # result is digested once, outside the timed window.  It runs
        # serially: a concurrent warm pass left the timed passes slower
        # and halved their counted py4j calls (see README).
        with self.run.warming():
            for name in self.rng.sample(self.entries, len(self.entries)):
                self.check(name)

    def build(self, d: str) -> None:
        """One set-up: generate the inputs into ``d`` and open every
        table the way the queries do."""
        datagen.write_tables(d, SF)
        catalog.load_all(self.run.spark, d)

    def check(self, name: str) -> bool:
        """Digest the entry's result; a mismatch marks the entry bad."""
        got = self.checked_digest(name)
        if got == self.expected.get(name):
            return True
        self.bad.add(name)
        self.run.extra.setdefault("mismatches", {})[name] = got
        return False

    def checked_digest(self, name: str) -> dict:
        try:
            return self.result_digest(name)
        except Exception as e:  # any failure marks the entry failed
            return {"error": repr(e)}

    def result_digest(self, name: str) -> dict:
        spark = self.run.spark
        if name == ZORDER:
            self.write_zordered()
            return checks.digest(pq.read_table(self.zdir).to_pandas())
        return checks.spark_digest(QUERIES[name](spark, self.data))

    def write_zordered(self) -> int:
        """Rewrite lineitem z-ordered; returns the bytes written."""
        spark, tracer = self.run.spark, self.run.tracer
        with tracer.span("queries.build"):
            li = catalog.load_table(spark, self.data, "lineitem", spread="l_orderkey")
        with tracer.span("spark.exec") as s:
            zorder.write_zordered(li, self.zdir, ["l_partkey", "l_orderkey"], n_files=32)
        out = _dir_bytes(self.zdir)
        if s is not None:
            s.extra["output_bytes"] = out
        return out

    def entry(self, name: str) -> None:
        if name == ZORDER:
            self.bytes_written += self.write_zordered()
            self.rows_written += self.lineitem_rows
            return
        spark, tracer = self.run.spark, self.run.tracer
        with tracer.span("queries.build"):
            df = QUERIES[name](spark, self.data)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            _noop(df)

    def one_pass(self) -> None:
        for name in self.rng.sample(self.entries, len(self.entries)):
            t0 = time.perf_counter()
            try:
                self.entry(name)
                ok = name not in self.bad
            except Exception:
                ok = False
            kind = "write" if name == ZORDER else "read"
            self.run.observe(kind, time.perf_counter() - t0, ok)
            if ok:
                self.timed_ok[name] = self.timed_ok.get(name, 0) + 1

    def window(self) -> None:
        """Whole passes, started while the window is open; at least
        MIN_PASSES."""
        self.run.window(self.one_pass, MIN_PASSES)

    def fixed_work(self) -> None:
        self.one_pass()

    def write_bytes_per_row(self) -> float:
        return self.bytes_written / self.rows_written

    def probe(self) -> None:
        self.one_pass()

    def finish(self) -> None:
        """Digest FINAL_CHECKS entries, chosen by seed, once more after
        the timed passes, so that a result that goes wrong on second
        and later use is caught; such an entry fails every timed run
        it made."""
        for name in self.rng.sample(self.entries, FINAL_CHECKS):
            if name not in self.bad and not self.check(name):
                self.run.failed += self.timed_ok.pop(name, 0)
        self.run.extra["disk_bytes_per_live_row"] = 0.0


# --- keyed_serve ---------------------------------------------------------


class KeyedServe:
    """A 32-bucket keyed table built from orders, with a zone map on
    o_totalprice.  The op mix is 80% 3-key point gets, 15% range scans
    over 1% of the key range and 5% upserts of 1/64 of the key range."""

    KEY = "o_orderkey"

    def __init__(self, run: Run, sf: float | None = None):
        self.run = run
        self.sf = SF if sf is None else sf
        self.ckpt = os.path.join(run.work, "checkpoints")
        self.rng = random.Random(run.seed)
        self.upsert_phase = 0.0
        self.gets: list = []  # (keys, rows got, rows expected)
        self.upserts = 0
        self.rows_submitted = 0
        self.storage: checks.StorageTracker | None = None

    def setup(self) -> None:
        d = self.run.set_up(self.build)
        self.data = os.path.join(d, "data")
        self.tables = os.path.join(d, "tables")
        self.path = os.path.join(self.tables, "orders")
        self.orders_file = os.path.join(self.data, "orders.parquet")
        table = pq.read_table(self.orders_file)
        self.columns = table.column_names
        # the model: key -> row tuple, as the applied writes leave it
        cols = [table.column(c).to_pylist() for c in self.columns]
        self.model = {r[0]: r for r in zip(*cols)}
        self.prices = cols[self.columns.index("o_totalprice")]
        self.n = len(self.model)
        self.orders = self.run.spark.read.parquet(self.orders_file)
        # [lo, hi) key range of each bucket; keys are 0 .. n-1
        self.buckets = [
            (int(r.key_lo) if r.key_lo else 0, int(r.key_hi) if r.key_hi else self.n)
            for r in self.described
        ]
        self.storage = checks.StorageTracker(self.tables)
        with self.run.warming():
            for kind in WARM_OPS:  # checked with the rest
                self.op(kind, observe=False)
        self.storage = checks.StorageTracker(self.tables)
        self.rows_submitted = 0

    def build(self, d: str) -> None:
        """One set-up: generate orders into ``d`` and build the keyed
        table from it."""
        data = os.path.join(d, "data")
        datagen.write_tables(data, self.sf, only=("orders",))
        spark = self.run.spark
        path = os.path.join(d, "tables", "orders")
        os.makedirs(os.path.dirname(path))
        keyed.write_keyed(
            spark.read.parquet(os.path.join(data, "orders.parquet")), path, self.KEY,
            n_buckets=N_BUCKETS, zone_cols=["o_totalprice"],
        )
        self.described = keyed.describe_keyed(spark, path).collect()

    def _price_wave(self, lo: int, hi: int, delta: float):
        """Rows [lo, hi) with o_totalprice + delta, and the model update."""
        df = self.orders.filter(
            (F.col(self.KEY) >= lo) & (F.col(self.KEY) < hi)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(delta))
        base = {}
        for k in range(lo, hi):
            row = self.model[k]
            base[k] = row[:3] + (self.prices[k] + delta,) + row[4:]
        return df, base

    def _upsert_range(self) -> tuple[int, int]:
        """A 1/64 slice of the key range, moved back inside the bucket
        its start falls in, so that one upsert rewrites one bucket.
        Starts step by the golden ratio, so that a run's few upserts
        spread evenly over the key range and hit large and small buckets
        alike.  The sequence is the same in every run: upsert cost
        depends on the size of the bucket rewritten, and a seeded start
        made write_bytes_per_row differ by up to 14% between seeds."""
        width = self.n // 64
        self.upsert_phase = (self.upsert_phase + GOLDEN) % 1.0
        lo = int(self.upsert_phase * (self.n - width + 1))
        b_lo, b_hi = next((a, b) for a, b in self.buckets if a <= lo < b)
        lo = max(b_lo, min(lo, b_hi - width))
        return lo, min(lo + width, b_hi)

    def _scan_ok(self, lo: int, hi: int) -> bool:
        """Read a scanned range again before any other op, and compare
        it with the model."""
        try:
            with self.run.checking():
                rows = keyed.read_keyed(self.run.spark, self.path, start=lo, stop=hi).collect()
        except Exception:
            return False
        want = [self.model[k] for k in range(lo, hi) if k in self.model]
        return sorted(tuple(r) for r in rows) == want

    def op(self, kind: str, observe: bool = True) -> None:
        spark, rng = self.run.spark, self.rng
        if kind == "get":
            keys = rng.sample(range(self.n), 3)
            want = sorted(self.model[k] for k in keys)
            t0 = time.perf_counter()
            try:
                with self.run.tracer.span("keyed.get_keyed"):
                    rows = keyed.get_keyed(spark, self.path, keys).collect()
                ok = True
            except Exception:
                rows, ok = None, False
            dt = time.perf_counter() - t0
            if ok:  # compared with ``want`` in finish
                self.gets.append((keys, [tuple(r) for r in rows], want))
        elif kind == "scan":
            width = self.n // 100
            lo = rng.randrange(self.n - width)
            t0 = time.perf_counter()
            try:
                with self.run.tracer.span("keyed.read_keyed"):
                    _noop(keyed.read_keyed(spark, self.path, start=lo, stop=lo + width))
                ok = True
            except Exception:
                ok = False
            dt = time.perf_counter() - t0
            ok = ok and self._scan_ok(lo, lo + width)
        else:
            lo, hi = self._upsert_range()
            delta = rng.randint(1, 99_999) / 100.0
            df, rows = self._price_wave(lo, hi, delta)
            t0 = time.perf_counter()
            try:
                keyed.write_keyed(df, self.path, self.KEY, mode=keyed.SinkMode.APPEND)
                ok = True
            except Exception:
                ok = False
            dt = time.perf_counter() - t0
            if ok:
                self.model.update(rows)
            self.upserts += 1
            self.rows_submitted += len(rows)
            self.storage.update()
        if observe:
            self.run.observe("write" if kind == "upsert" else "read", dt, ok)
        elif not ok:
            self.run.failed += 1  # a warm-up op

    def window(self) -> None:
        """Whole decks, started while the window is open; at least
        MIN_DECKS."""
        self.run.window(self.fixed_work, MIN_DECKS)

    def fixed_work(self) -> None:
        for kind in self.rng.sample(DECK, len(DECK)):
            self.op(kind)

    def write_bytes_per_row(self) -> float:
        return self.storage.bytes_added / self.rows_submitted

    def probe(self) -> None:
        for kind in ("get", "scan", "upsert"):
            self.op(kind)
        self.maintenance()

    # --- checks, outside every timed window ---------------------------
    def _table_ok(self, path: str) -> bool:
        got = checks.spark_digest(keyed.read_keyed(self.run.spark, path))
        return got == self._model_digest()

    def _model_digest(self) -> dict:
        rows = list(self.model.values())
        pdf = pd.DataFrame(rows, columns=self.columns)
        pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"])
        return checks.digest(pdf)

    def finish(self) -> None:
        """Check every get against the model as of its call (scans were
        checked as they ran), and the whole table."""
        bad = sum(1 for _, got, want in self.gets if sorted(got) != want)
        if not self._table_ok(self.path):
            bad += max(1, self.upserts)
        self.run.failed += bad
        self.storage.update()
        self.run.extra["disk_bytes_per_live_row"] = (
            self.storage.live_bytes() / len(self.model)
        )

    # --- traced-only maintenance round ---------------------------------
    def maintenance(self) -> None:
        """One maintenance round over derived structures: a Cascade
        (connected in reversed order) of an ingest Flow and replica,
        aggregate-view and index maintenance, then a streaming-follower
        drain; plus the every-fourth-round merge, delete and compaction.
        Its outputs are checked against the model."""
        spark, run, rng = self.run.spark, self.run, self.rng
        rpath = os.path.join(self.tables, "replica")
        vpath = os.path.join(self.tables, "view")
        fpath = os.path.join(self.tables, "follower")
        fck = os.path.join(self.ckpt, "follower")
        index.create_index(spark, self.path, "o_orderpriority")
        matview.create_aggregate_view(
            spark, self.path, vpath, "o_orderstatus", sums={"revenue": "o_totalprice"})
        replica.create_replica(spark, self.path, rpath)
        streaming.stream_replica(spark, self.path, fpath, fck).awaitTermination()
        self.storage.update()

        lo = rng.randrange(self.n - self.n // N_BUCKETS)
        hi = lo + self.n // N_BUCKETS
        delta = rng.randint(1, 99_999) / 100.0
        _, rows = self._price_wave(lo, hi, delta)
        head = pipe.Pipe("orders")
        wave = pipe.Each(head, None, ExpressionFilter(
            f"{self.KEY} >= {lo} AND {self.KEY} < {hi}", remove_matches=False))
        wave = pipe.Each(wave, ["o_totalprice"], ExpressionFunction(
            "o_totalprice", f"o_totalprice + CAST({delta!r} AS DOUBLE)"), out=pipe.REPLACE)
        main = taps.KeyedTableTap(self.path, key=self.KEY)
        ingest = cascade.Flow({"orders": taps.ParquetTap(self.orders_file)}, main, wave,
                              sink_mode=taps.SinkMode.APPEND, name="ingest")
        idx_tap = taps.KeyedTableTap(index._index_path(self.path, "o_orderpriority"))
        flows = [
            ingest,
            cascade.MaintenanceFlow(main, taps.KeyedTableTap(rpath, key=self.KEY),
                                    lambda s: replica.sync_replica(s, self.path, rpath),
                                    name="sync"),
            cascade.MaintenanceFlow(main, taps.KeyedTableTap(vpath),
                                    lambda s: matview.refresh_aggregate_view(s, self.path, vpath),
                                    name="view"),
            cascade.MaintenanceFlow(main, idx_tap,
                                    lambda s: index.refresh_index(s, self.path, "o_orderpriority"),
                                    name="index"),
        ]
        t0 = time.perf_counter()
        cascade.CascadeConnector().connect(*reversed(flows)).complete(spark)
        with run.tracer.span("streaming.stream_replica_drain"):
            q = streaming.stream_replica(spark, self.path, fpath, fck)
            q.awaitTermination()
        run.extra["freshness_s"] = time.perf_counter() - t0
        run.extra["stream_batches"] = len(q.recentProgress)
        self.model.update(rows)
        self.rows_submitted += len(rows)
        self.storage.update()

        bad = 0
        want = self._model_digest()
        for path in (rpath, fpath):
            if checks.spark_digest(keyed.read_keyed(spark, path)) != want:
                bad += 1
        view = {r["o_orderstatus"]: (r["n_rows"], r["revenue"])
                for r in matview.read_aggregate_view(spark, vpath).collect()}
        agg: dict = {}
        for row in self.model.values():
            n, s = agg.get(row[2], (0, 0.0))
            agg[row[2]] = (n + 1, s + row[3])
        if set(view) != set(agg) or any(
            view[g][0] != agg[g][0] or abs(view[g][1] - agg[g][1]) > 1e-6 * abs(agg[g][1])
            for g in agg
        ):
            bad += 1
        urgent = {r[0] for r in index.index_lookup(
            spark, self.path, "o_orderpriority", "1-URGENT").select(self.KEY).collect()}
        if urgent != {k for k, r in self.model.items() if r[5] == "1-URGENT"}:
            bad += 1

        # every fourth round: 1% merge, 1% delete, compaction
        width = self.n // 100
        mlo = rng.randrange(self.n - width)
        mdelta = rng.randint(1, 99_999) / 100.0
        mdf, mrows = self._price_wave(mlo, mlo + width, mdelta)
        keyed.merge_keyed(spark, self.path, mdf.withColumn("_change", F.lit("update")))
        self.model.update(mrows)
        dlo = rng.randrange(self.n - width)
        dead = [k for k in range(dlo, dlo + width) if k in self.model]
        keyed.delete_keyed(spark, self.path, spark.createDataFrame(
            [(k,) for k in dead], f"{self.KEY} long"))
        for k in dead:
            del self.model[k]
        keyed.compact_keyed(spark, self.path)
        self.rows_submitted += len(mrows)
        self.storage.update()
        if not self._table_ok(self.path):
            bad += 1
        run.failed += bad


WORKLOADS = {"analytics": Analytics, "keyed_serve": KeyedServe}


def other_workload(run: Run, w):
    """Set up the workload other than ``w`` once, for the traced run's
    probe, on a Run of its own that shares ``run``'s session and
    tracer."""
    sub = Run(run.spark, run.seed, 0.0, os.path.join(run.work, "probe"),
              run.tracer, setup_reps=1)
    if isinstance(w, KeyedServe):
        other = Analytics(sub)
        other.entries = list(PROBE_ENTRIES)
    else:
        other = KeyedServe(sub, PROBE_SF)
    other.setup()
    return other


def merge_probe(run: Run, other) -> None:
    """Check the probe's outputs and count its ops into ``run``."""
    other.finish()
    run.attempted += other.run.attempted
    run.failed += other.run.failed
    for k in ("freshness_s", "stream_batches"):
        if k in other.run.extra:
            run.extra[k] = other.run.extra[k]


# --- metrics -------------------------------------------------------------


def end_to_end(run: Run, w) -> dict:
    reads, writes = run.latencies.get("read", []), run.latencies.get("write", [])
    return {
        "setup_s": (float(np.median(run.extra["setup_s"])), "s"),
        "ops_per_s": (run.attempted / run.extra["window_s"], "1/s"),
        "read_mean_s": (float(_samples(reads).mean()), "s"),
        "read_tail_s": (_tail_mean(reads), "s"),
        "write_p50_s": (float(np.median(_samples(writes))), "s"),
        "write_bytes_per_row": (w.write_bytes_per_row(), "B/row"),
    }


def per_layer(run: Run, w, log: eventlog.EventLog, windows: list, ops: dict,
              rss_mb: float) -> dict:
    tr = run.tracer
    log.jobs = {i: j for i, j in log.jobs.items() if j.group != tracing.CHECK_GROUP}
    by_span = eventlog.attribute(log, tr.spans, tracing.GROUP_PREFIX)

    def secs(spans):
        return sum(s.seconds for s in spans)

    def jobs(spans):
        return sum(len(by_span.get(i, ())) for i in tr.descendants(spans))

    m: dict = {}

    def fn(name: str, *parts: str) -> None:
        spans = tr.named(name)
        for p in parts:
            value = {
                "s": (secs(spans), "s"),
                "calls": (tr.calls(name), "count"),
                "jobs": (jobs(spans), "count"),
                "py4j_calls": (sum(s.py4j for s in spans), "count"),
            }[p]
            m[f"{name}_{p}"] = value

    m["session.get_session_s"] = (secs(tr.named("session.get_session")), "s")
    m["setup.warm_s"] = (run.extra["warm_s"], "s")
    fn("catalog.load_table", "calls", "s", "jobs")
    fn("queries.build", "s", "py4j_calls", "jobs")
    fns = tr.layer("functions")
    m["functions.build_s"] = (secs(fns), "s")
    m["functions.py4j_calls"] = (sum(s.py4j for s in fns), "count")
    m["spark.plan_s"] = (secs(tr.named("spark.plan")), "s")
    m["spark.exec_s"] = (secs(tr.named("spark.exec")), "s")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "task_failures": "count", "executor_run_s": "s",
             "input_bytes": "B", "shuffle_read_bytes": "B",
             "shuffle_write_bytes": "B", "spill_bytes": "B",
             "python_stage_run_s": "s"}
    jobs_in_phase = [j for win in windows for j in log.window(*win)]
    for k, v in log.totals(jobs_in_phase).items():
        m[f"spark.{k}"] = (v, units[k])
    m["operators.write_zordered_s"] = (secs(tr.named("operators.write_zordered")), "s")
    m["operators.output_bytes"] = (
        sum(s.extra.get("output_bytes", 0) for s in tr.spans), "B")
    m["operators.tap_write_s"] = (secs(tr.named("operators.tap_write")), "s")
    m["plans.cascade_s"] = (secs(tr.named("plans.cascade_complete")), "s")
    flows = tr.named("plans.flow_complete") + tr.named("plans.maintenanceflow_complete")
    m["plans.flow_s"] = (secs(flows), "s")
    m["plans.flows_run"] = (len(flows), "count")
    m["plans.freshness_s"] = (run.extra.get("freshness_s", 0.0), "s")
    fn("keyed.get_keyed", "s", "jobs", "py4j_calls")
    fn("keyed.read_keyed", "s", "jobs")
    fn("keyed.write_keyed", "s", "jobs", "py4j_calls")
    for name in ("merge_keyed", "delete_keyed", "compact_keyed"):
        fn(f"keyed.{name}", "s")
    m["controlplane.read_json_calls"] = (tr.calls("controlplane.read_json"), "count")
    m["controlplane.write_json_calls"] = (tr.calls("controlplane.write_json_atomic"), "count")
    m["controlplane.list_calls"] = (tr.calls("controlplane.list_names"), "count")
    m["controlplane.s"] = (secs(tr.layer("controlplane")), "s")
    for name in ("sync_replica", "refresh_aggregate_view", "refresh_index"):
        fn(f"keyed.{name}", "s", "jobs")
    m["streaming.stream_replica_drain_s"] = (
        secs(tr.named("streaming.stream_replica_drain")), "s")
    m["streaming.batches"] = (run.extra.get("stream_batches", 0), "count")
    st = w.storage
    m["storage.files_added"] = (st.files_added if st else 0, "count")
    m["storage.bytes_added"] = (st.data_bytes_added if st else 0, "B")
    m["storage.files_removed"] = (st.files_removed if st else 0, "count")
    m["storage.live_files"] = (st.live_files() if st else 0, "count")
    m["storage.live_generations"] = (st.live_generations() if st else 0, "count")
    m["storage.disk_bytes_per_live_row"] = (run.extra["disk_bytes_per_live_row"], "B/row")
    m["process.peak_rss_mb"] = (rss_mb, "MB")
    m["trace.untraced_ops_per_s"] = (ops["untraced"], "1/s")
    m["trace.traced_ops_per_s"] = (ops["traced"], "1/s")
    m["trace.overhead_frac"] = (ops["untraced"] / ops["traced"] - 1.0, "fraction")
    return m
