"""The three workloads: set-up, one timed operation, and output checks.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. ``setup`` builds the inputs from the
seed, writes the tables and runs warm-up operations; ``op`` runs one
timed operation and checks what it can check at once; ``finish`` runs the
checks that need the whole run (the per-monitor decisions persisted in
job_data).
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import Tracer, tree_cpu_s


def cpu_now() -> float:
    """CPU seconds used so far by this process, the JVM and its workers."""
    return tree_cpu_s(os.getpid())


@dataclass
class OpResult:
    latency_s: float  # the operation the user waits on
    cpu_s: float  # CPU time the program spent on it (driver, JVM, workers)
    units: int  # due monitors / requests / documents decided
    result_s: list[float] = field(default_factory=list)  # trigger -> result


class Checks:
    """Attempted and failed operations; a mismatch or a raise is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, attempted: int, failed: int, note: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and note and len(self.notes) < 20:
            self.notes.append(note)


def alert_check(owed: set, got: list, now) -> tuple[int, int]:
    """(attempted, failed) for one tick's deliveries: every owed
    (job_id, key) arrives exactly once, fired at ``now`` as a failure."""
    delivered = {(a.job_id, a.key) for a in got}
    dups = len(got) - len(delivered)
    wrong = sum(1 for a in got if a.fired_at != now or a.status != "failed")
    return len(owed | delivered) + dups, len(owed ^ delivered) + dups + wrong


def wrong_keys(expected: dict, got: dict) -> list:
    """Keys whose value differs, plus keys the program returned unasked."""
    return [k for k in expected if got.get(k) != expected[k]] + [k for k in got if k not in expected]


def percentile_ms(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile (``q`` in [0, 1]) of seconds, in ms; None
    without samples."""
    if not values:
        return None
    v = sorted(values)
    return 1000 * v[min(len(v) - 1, int(q * len(v)))]


def _utc(ts) -> pa.Array:
    return pa.array(pd.DatetimeIndex(ts).tz_localize("UTC"), type=pa.timestamp("us", tz="UTC"))


def _land(table: pa.Table, directory: str, name: str, staging: str) -> None:
    """Write a parquet file beside ``directory`` and rename it in, so a
    reader never sees a partial file."""
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def _metrics_table(series: list[str], values: np.ndarray, lo: int, hi: int) -> pa.Table:
    n = hi - lo
    minutes = np.tile(np.arange(lo, hi), len(series))
    return pa.table({
        "metric": pa.array(np.repeat(np.array(series, dtype=object), n)),
        "ts": _utc(pd.to_datetime(gen.T0) + pd.to_timedelta(minutes, unit="min")),
        "value": pa.array(values[:, lo:hi].reshape(-1)),
    })


class Workload:
    """One closed-loop client. ``store_dir``/``metrics_dir`` are walked by
    a traced run to count the bytes and files each operation writes."""

    store_dir: str | None = None
    metrics_dir: str | None = None
    nominal_s = 5.0  # one operation on a 4-core box; sets ops per --seconds

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, checks: Checks):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.checks = tracer, checks

    def trace_hooks(self) -> None:
        """Workload-specific patches a traced run adds."""

    def finish(self) -> None:
        """Checks that need the whole run."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def summary(self) -> dict:
        """Extra figures for the run's human-readable summary line."""
        return {}


# ---------------------------------------------------------------------------
# tick_live
# ---------------------------------------------------------------------------

class TickLive(Workload):
    """Each simulated minute lands one events file, ``ingest_to_metrics``
    appends it to the metrics table, the scheduler re-reads the table and
    ticks. A fleet of per-series monitors (distinct windows) sits beside
    monitors sharing three golden targets (one shared window each)."""

    def setup(self) -> None:
        from rearview_spark.monitors.notify import AlertRouter
        from rearview_spark.monitors.scheduler import MonitorScheduler
        from rearview_spark.monitors.schemas import METRICS, MONITORS
        from rearview_spark.monitors.store import JobStore

        self.inp = gen.make_live(self.seed)
        self.expected = gen.expected_live(self.inp, gen.MAX_TICKS)
        w = self.work
        self.src, self.metrics_dir = f"{w}/events", f"{w}/metrics"
        self.ckpt, self.staging = f"{w}/ingest_ckpt", f"{w}/staging"
        self.store_dir = f"{w}/store"
        os.makedirs(self.src)
        self._land_minutes(0, gen.HISTORY_MIN)  # ingested by the warm-up tick

        self.store = JobStore(self.spark, self.store_dir)
        rows = [tuple(m[f.name] for f in MONITORS.fields) for m in self.inp.monitors]
        self.store.save_monitors(self.spark.createDataFrame(rows, MONITORS))
        self.notifier = BenchNotifier()
        router = AlertRouter(default=self.notifier)
        for prefix in ("email", "pagerduty"):
            router.register(prefix, self.notifier)
        # every tick hands the scheduler a fresh read of the metrics table
        empty = self.spark.createDataFrame([], METRICS)
        self.sched = MonitorScheduler(self.spark, self.store, empty, router)
        self.ticks = 0
        self.deliveries = 0
        self.owed = 0
        self.op()  # warm-up tick; it also ingests the first 90 minutes

    def _land_minutes(self, lo: int, hi: int) -> None:
        ev = gen.events_frame(self.inp, lo, hi)
        table = pa.table({
            "event_id": pa.array(ev["event_id"], type=pa.int64()),
            "ts": _utc(ev["ts"]),
            "user_id": pa.array(ev["user_id"], type=pa.int64()),
            "event_type": pa.array(ev["event_type"], type=pa.string()),
            "value": pa.array(ev["value"], type=pa.float64()),
            "props": pa.array(ev["props"], type=pa.string()),
        })
        _land(table, self.src, f"minute-{lo:06d}.parquet", self.staging)

    def _ingest(self) -> None:
        from rearview_spark.streaming.ingest import ingest_to_metrics

        with self.tracer.span("ingest"):
            q = ingest_to_metrics(self.spark, self.src, self.metrics_dir, self.ckpt)
            q.awaitTermination()
        if self.tracer.enabled:
            self.tracer.add("ingest.rows", sum(p["numInputRows"] for p in q.recentProgress))

    def _read_metrics(self):
        # A DataFrame lists its files once, so every tick reads the table
        # afresh to see the minute that just landed.
        return self.spark.read.parquet(self.metrics_dir).select("metric", "ts", "value")

    def op(self) -> OpResult:
        k = self.ticks
        self.ticks += 1
        exp = self.expected[k]
        self._land_minutes(self.inp.tick_minute(k), self.inp.tick_minute(k) + 1)
        landed, c = time.perf_counter(), cpu_now()
        self._ingest()
        self.sched.metrics = self._read_metrics()
        mark = len(self.notifier.received)
        t = time.perf_counter()
        try:
            summary = self.sched.tick(exp["now"])
        except Exception as e:  # noqa: BLE001 - a raising tick is a failed operation
            self.checks.record(1 + len(exp["alerts"]), 1 + len(exp["alerts"]), f"tick {k}: {e!r}")
            return OpResult(time.perf_counter() - t, cpu_now() - c, 0)
        latency, cpu = time.perf_counter() - t, cpu_now() - c
        got = self.notifier.received[mark:]
        self.checks.record(1, int(summary["ran"] != len(self.inp.monitors)),
                           f"tick {k} ran {summary['ran']}")
        attempted, failed = alert_check(exp["alerts"], [a for a, _ in got], exp["now"])
        self.checks.record(attempted, failed, f"tick {k}: wrong alert deliveries")
        self.deliveries += len(got)
        self.owed += len(exp["alerts"])
        return OpResult(latency, cpu, summary["ran"], [r - landed for _, r in got])

    def finish(self) -> None:
        from pyspark.sql import functions as F

        rows = (
            self.store.read("job_data")
            .select("job_id", "created_at", F.col("data.status").alias("status"))
            .collect()
        )
        got = {(r["job_id"], r["created_at"]): r["status"] for r in rows}
        expected = {(j, exp["now"]): s for exp in self.expected[:self.ticks]
                    for j, s in exp["statuses"].items()}
        wrong = wrong_keys(expected, got)
        self.checks.record(len(expected), len(wrong), f"wrong monitor decisions {wrong[:5]}")

    def layer_metrics(self) -> dict[str, float]:
        return {
            "notify.duplicate_ratio": self.deliveries / self.owed if self.owed else 1.0,
        }


@dataclass
class BenchNotifier:
    """Records each delivery with the moment it arrived."""

    received: list = field(default_factory=list)

    def send(self, alert) -> None:
        self.received.append((alert, time.perf_counter()))


# ---------------------------------------------------------------------------
# dashboard_render
# ---------------------------------------------------------------------------

class DashboardRender(Workload):
    """Read-only mix of Graphite renders over 1 h, 1 day and 7 day windows,
    preview runs and dashboard page loads against a populated store.

    One operation is one dashboard load: every request of the mix, one
    after another. Request costs differ tenfold between kinds, so the
    median of single requests jumps between kinds from run to run; the
    time of the whole mix does not."""

    nominal_s = 2.0

    def setup(self) -> None:
        from rearview_spark.monitors import schemas
        from rearview_spark.monitors.store import JobStore

        self.inp = inp = gen.make_render(self.seed)
        self.metrics_dir = f"{self.work}/metrics"
        os.makedirs(self.metrics_dir)
        for d in range(gen.RENDER_DAYS):
            _land(_metrics_table(inp.series, inp.values, d * 1440, (d + 1) * 1440),
                  self.metrics_dir, f"day-{d}.parquet", f"{self.work}/staging")
        self.metrics = self.spark.read.schema(schemas.METRICS).parquet(self.metrics_dir)

        self.store_dir = f"{self.work}/store"
        self.store = JobStore(self.spark, self.store_dir)

        def df(rows, schema):
            return self.spark.createDataFrame(
                [tuple(r[f.name] for f in schema.fields) for r in rows], schema)

        self.store.save_monitors(df(inp.monitors, schemas.MONITORS))
        self.store.overwrite("job_errors", df(inp.job_errors, schemas.JOB_ERRORS))
        self.store.append("job_data", df(inp.job_data, schemas.JOB_DATA))

        self.expected = [self._expect(r) for r in inp.requests]
        self.request_s: list[float] = []
        # Warm-up: the first load is cold (about three times the steady
        # load) and the second still runs well above it.
        self.op()
        self.op()
        self.request_s.clear()

    def _expect(self, req: dict):
        kind = req["kind"]
        if kind == "render":
            return gen.expected_render(self.inp, req)
        if kind == "preview":
            return gen.expected_preview(self.inp, req)
        if kind == "overview":
            return gen.expected_overview(self.inp)
        return gen.expected_latest(self.inp)

    def op(self) -> OpResult:
        # every request runs before any output is checked, so the checks
        # fall outside the load's time
        start, c = time.perf_counter(), cpu_now()
        outputs = []
        for req in self.inp.requests:
            t = time.perf_counter()
            try:
                outputs.append(getattr(self, "_" + req["kind"])(req))
            except Exception as e:  # noqa: BLE001 - a raising request is a failed operation
                outputs.append(e)
            self.request_s.append(time.perf_counter() - t)
        latency, cpu = time.perf_counter() - start, cpu_now() - c
        for req, exp, got in zip(self.inp.requests, self.expected, outputs):
            if isinstance(got, Exception):
                self.checks.record(1, 1, f"{req}: {got!r}")
                continue
            ok = same_frame(got, exp) if req["kind"] == "render" else got == exp
            self.checks.record(1, int(not ok), f"{req}: wrong result")
        return OpResult(latency, cpu, len(self.inp.requests), [latency])

    def summary(self) -> dict:
        r = self.request_s
        return {"request_p50_ms": percentile_ms(r, 0.5),
                "request_p90_ms": percentile_ms(r, 0.9), "requests": len(r)}

    def _render(self, req: dict) -> pd.DataFrame:
        from rearview_spark.functions import graphite
        from rearview_spark.operators.timeseries import window_fetch

        end = self.inp.now
        start = end - dt.timedelta(minutes=req["minutes"])
        plan = graphite.compile_target(req["target"])
        lb, la = plan.lookback_s, plan.lookahead_s
        src = window_fetch(self.metrics, start - dt.timedelta(seconds=lb),
                           end + dt.timedelta(seconds=la))
        frame = plan(src)
        if lb or la:
            frame = window_fetch(frame, start, end)
        with self.tracer.span("graphite.execute"):
            rows = frame.collect()
        return pd.DataFrame([r.asDict() for r in rows], columns=["metric", "ts", "value"])

    def _preview(self, req: dict) -> tuple[str, int]:
        from rearview_spark.monitors import dashboard

        out = dashboard.preview_run(
            self.spark, self.metrics, [req["target"]], f"a.max() > {req['threshold']}",
            req["minutes"], self.inp.now,
        )
        return out["status"], len(out["graph_data"])

    def _overview(self, req: dict) -> list[tuple]:
        from rearview_spark.monitors import dashboard

        s = self.store
        with self.tracer.span("dashboard.overview"):
            rows = dashboard.dashboard_overview(
                s.read("monitors"), s.read("job_data"), s.read("job_errors")).collect()
        return sorted(
            (r["app_id"], r["n_jobs"], r["n_active"], r["n_failed"], r["n_error"],
             r["last_run"], r["n_open_incidents"]) for r in rows)

    def _latest(self, req: dict) -> set[tuple[int, int]]:
        from rearview_spark.monitors import dashboard

        with self.tracer.span("dashboard.latest_result"):
            rows = dashboard.latest_result_per_job(self.store.read("job_data")).collect()
        return {(r["job_id"], r["id"]) for r in rows}


def same_frame(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Render rows equal the oracle's: same series and timestamps, values
    equal up to float summation order."""
    got = got.sort_values(["metric", "ts"]).reset_index(drop=True)
    if len(got) != len(exp) or not (got["metric"] == exp["metric"]).all():
        return False
    if not (pd.to_datetime(got["ts"]).to_numpy() == exp["ts"].to_numpy()).all():
        return False
    return bool(np.allclose(got["value"].astype(float), exp["value"], rtol=1e-9, atol=1e-9))


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

class CorpusDedup(Workload):
    """``canonical_docs`` over a corpus with planted near-duplicate
    clusters: the keep/drop decision for every document. Touches no
    monitor code, so it is the no-change control for monitoring work."""

    def setup(self) -> None:
        self.inp = inp = gen.make_corpus(self.seed)
        self.corpus = f"{self.work}/corpus"
        os.makedirs(self.corpus)
        table = pa.table({"doc_id": pa.array(inp.doc_id), "text": pa.array(inp.text),
                          "n_chars": pa.array(inp.n_chars)})
        _land(table, self.corpus, "part-0.parquet", f"{self.work}/staging")
        self.keep = gen.expected_keep(inp)
        self.planted = gen.planted_pairs(inp)
        self.found: list[set] = []
        self.op()  # warm-up pass

    def trace_hooks(self) -> None:
        from rearview_spark.operators import dedup

        def recording(name, fn):
            traced = self.tracer.wrap(name, fn)

            def run(*args, **kwargs):
                pairs = traced(*args, **kwargs)
                if self.tracer.enabled:
                    with self.tracer.span("perfbench.recall_probe"):
                        ids = pairs.select("id_a", "id_b").collect()
                    self.found.append({(r[0], r[1]) for r in ids})
                return pairs

            return run

        self.tracer.patch(dedup, "minhash_near_duplicates", "dedup.near_duplicates", recording)

    def op(self) -> OpResult:
        from rearview_spark.operators import dedup

        t, c = time.perf_counter(), cpu_now()
        try:
            df = self.spark.read.parquet(self.corpus)
            with self.tracer.span("dedup.canonical"):
                rows = dedup.canonical_docs(df).select("doc_id", "keep").collect()
        except Exception as e:  # noqa: BLE001 - a raising pass fails every decision
            self.checks.record(len(self.keep), len(self.keep), f"dedup pass: {e!r}")
            return OpResult(time.perf_counter() - t, cpu_now() - c, len(self.keep))
        latency, cpu = time.perf_counter() - t, cpu_now() - c
        wrong = wrong_keys(self.keep, {r["doc_id"]: r["keep"] for r in rows})
        self.checks.record(len(self.keep), len(wrong), f"dedup: wrong keep/drop for docs {wrong[:5]}")
        return OpResult(latency, cpu, len(self.keep), [latency])

    def layer_metrics(self) -> dict[str, float]:
        if not self.found:
            return {}
        return {
            "dedup.verified_pairs": sum(len(f) for f in self.found) / len(self.found),
            "dedup.pair_recall": float(np.mean(
                [len(f & self.planted) / len(self.planted) for f in self.found])),
        }


WORKLOADS = {
    "tick_live": TickLive,
    "dashboard_render": DashboardRender,
    "corpus_dedup": CorpusDedup,
}
