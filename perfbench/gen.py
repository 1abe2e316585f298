"""Seeded inputs and correctness oracles for the perfbench workloads.

Everything here is numpy/pandas only: no Spark session is needed to build
a workload's inputs or its expected results, so tests can check that one
seed always gives the same inputs and the same expected answers, and the
benchmark can check every output of the program against an answer it
computed independently.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

T0 = dt.datetime(2024, 1, 1)
MINUTE = dt.timedelta(minutes=1)

# ---------------------------------------------------------------------------
# tick_live: a fleet of per-series monitors plus monitors sharing a few
# golden-signal targets, fed one minute of events per tick.
# ---------------------------------------------------------------------------

FLEET = 12  # monitors, each on its own series with its own 60-minute window
FLEET_WINDOW_MIN = 60
FLEET_THRESHOLD = 150.0
FLEET_TIMEOUT_MIN = 60  # the reference's default re-alert debounce
API_HOSTS = 4
GOLDEN_TARGETS = (
    "sumSeries(live.api.*.errors)",
    "live.checkout.latency",
    "live.queue.depth",
)
GOLDEN_THRESHOLDS = (150.0, 160.0, 170.0, 180.0)  # one monitor per target each
GOLDEN_WINDOW_MIN = 5
HISTORY_MIN = 90  # minutes ingested during set-up, before the first tick
MAX_TICKS = 60  # minutes of live data generated; a run stops before this
SPIKE = 250.0


def fleet_series(i: int) -> str:
    return f"live.fleet.s{i:02d}.latency"


def live_series() -> list[str]:
    return (
        [fleet_series(i) for i in range(FLEET)]
        + [f"live.api.h{h}.errors" for h in range(API_HOSTS)]
        + ["live.checkout.latency", "live.queue.depth"]
    )


@dataclass
class LiveInputs:
    series: list[str]
    values: np.ndarray  # (series, minute); minute m is at T0 + m minutes
    monitors: list[dict]  # one dict per MONITORS row

    def minute_ts(self, m: int) -> dt.datetime:
        return T0 + m * MINUTE

    def tick_minute(self, k: int) -> int:
        return HISTORY_MIN + k


def make_live(seed: int) -> LiveInputs:
    rng = np.random.default_rng([seed, 1])
    series = live_series()
    n_min = HISTORY_MIN + MAX_TICKS
    idx = {s: i for i, s in enumerate(series)}
    # Baselines sit >= 10 sigma-clipped units under every threshold, so only
    # planted spikes can fire a monitor and float summation order cannot
    # flip a decision.
    values = 100.0 + np.clip(rng.normal(0, 5, (len(series), n_min)), -20, 20)
    for h in range(API_HOSTS):
        values[idx[f"live.api.h{h}.errors"]] = 25.0 + np.clip(
            rng.normal(0, 2, n_min), -8, 8
        )
    # Golden targets: exactly one spikes in each live minute, rotating, so
    # every tick opens incidents on one target and resolves the previous.
    g0 = int(rng.integers(len(GOLDEN_TARGETS)))
    fleet_order = rng.permutation(FLEET)
    for k in range(MAX_TICKS):
        m = HISTORY_MIN + k
        g = (g0 + k) % len(GOLDEN_TARGETS)
        if g == 0:
            values[idx[f"live.api.h{int(rng.integers(API_HOSTS))}.errors"], m] += SPIKE
        else:
            values[idx[GOLDEN_TARGETS[g]], m] += SPIKE
        # every minute one more fleet series spikes and opens an incident;
        # the spike stays in that monitor's window for an hour (debounced)
        values[idx[fleet_series(int(fleet_order[k % FLEET]))], m] = SPIKE

    monitors = []
    for i in range(FLEET):
        monitors.append(_monitor_row(
            i + 1, [fleet_series(i)], f"a.max() > {FLEET_THRESHOLD}",
            FLEET_WINDOW_MIN, FLEET_TIMEOUT_MIN, [f"email:owner{i}@example.com"],
            app_id=1 + i % 3,
        ))
    for t, target in enumerate(GOLDEN_TARGETS):
        for k, th in enumerate(GOLDEN_THRESHOLDS):
            monitors.append(_monitor_row(
                100 + 10 * t + k, [target], f"a.tail(1).max() > {th}",
                GOLDEN_WINDOW_MIN, 0,
                [f"email:oncall{t}@example.com", f"pagerduty:svc{t}"],
                app_id=4,
            ))
    return LiveInputs(series, values, monitors)


def _monitor_row(id_, metrics, expr, minutes, timeout, keys, app_id) -> dict:
    return {
        "id": id_, "name": f"mon{id_}", "active": True, "last_run": None,
        "next_run": None, "cron_expr": "* * * * *", "status": "success",
        "user_id": 1, "alert_keys": keys, "deleted_at": None,
        "error_timeout": timeout, "description": f"monitor {id_}",
        "app_id": app_id, "metrics": metrics, "monitor_expr": expr,
        "minutes": minutes, "to_date": None, "created_at": T0, "updated_at": T0,
    }


def events_frame(inp: LiveInputs, lo: int, hi: int) -> pd.DataFrame:
    """Events for minutes [lo, hi): one event per series per minute, in the
    ingest source's EVENTS_SCHEMA column order."""
    n = len(inp.series)
    minutes = np.arange(lo, hi)
    ts = pd.to_datetime(T0) + pd.to_timedelta(np.repeat(minutes, n), unit="min")
    return pd.DataFrame({
        "event_id": np.repeat(minutes, n) * 1000 + np.tile(np.arange(n), len(minutes)),
        "ts": ts,
        "user_id": np.zeros(n * len(minutes), dtype=np.int64),
        "event_type": np.tile(np.array(inp.series, dtype=object), len(minutes)),
        "value": inp.values[:, lo:hi].T.reshape(-1),
        "props": np.full(n * len(minutes), "", dtype=object),
    })


def _run_status(inp: LiveInputs, mon: dict, m: int) -> str:
    idx = {s: i for i, s in enumerate(inp.series)}
    target = mon["metrics"][0]
    if mon["minutes"] == FLEET_WINDOW_MIN:  # a.max() over the trailing hour
        window = inp.values[idx[target], m - FLEET_WINDOW_MIN : m + 1]
        fired = window.max() > FLEET_THRESHOLD
    else:  # a.tail(1).max(): the newest minute only
        if target.startswith("sumSeries"):
            newest = sum(inp.values[idx[f"live.api.h{h}.errors"], m] for h in range(API_HOSTS))
        else:
            newest = inp.values[idx[target], m]
        fired = newest > float(mon["monitor_expr"].rsplit(">", 1)[1])
    return "failed" if fired else "success"


def expected_live(inp: LiveInputs, n_ticks: int) -> list[dict]:
    """Per tick: every monitor's run status and the (job_id, key) pairs the
    notifier must receive, replaying the scheduler's lifecycle rules
    (debounce by error_timeout, incidents open on failure, close on
    recovery)."""
    prev = {m["id"]: m["status"] for m in inp.monitors}
    open_alerted: dict[int, dt.datetime | None] = {}
    out = []
    for k in range(n_ticks):
        m = inp.tick_minute(k)
        now = inp.minute_ts(m)
        statuses, alerts = {}, set()
        for mon in inp.monitors:
            j = mon["id"]
            run = _run_status(inp, mon, m)
            statuses[j] = run
            if run == "success":
                if prev[j] in ("failed", "error"):
                    open_alerted.pop(j, None)
            else:
                last = open_alerted.get(j)
                timeout = mon["error_timeout"]
                debounced = (
                    last is not None and timeout > 0
                    and now < last + dt.timedelta(minutes=timeout)
                )
                if not debounced:
                    alerts.update((j, key) for key in mon["alert_keys"])
                if prev[j] not in ("failed", "error") or j not in open_alerted:
                    open_alerted[j] = None if debounced else now
                elif not debounced:
                    open_alerted[j] = now
            prev[j] = run
        out.append({"now": now, "statuses": statuses, "alerts": alerts})
    return out


# ---------------------------------------------------------------------------
# dashboard_render: Graphite render requests, previews and page loads
# ---------------------------------------------------------------------------

RENDER_HOSTS = 8
RENDER_DAYS = 8  # 7-day windows plus one day of timeShift look-back
RENDER_APPS = 6
RENDER_MONITORS = 60
RESULTS_PER_JOB = 4


@dataclass
class RenderInputs:
    series: list[str]
    values: np.ndarray  # (series, minute)
    now: dt.datetime  # end of every request window: the newest point
    requests: list[dict]
    monitors: list[dict]
    job_errors: list[dict]
    job_data: list[dict]


def make_render(seed: int) -> RenderInputs:
    rng = np.random.default_rng([seed, 2])
    n_min = RENDER_DAYS * 1440
    series, rows = [], []
    minute = np.arange(n_min)
    for h in range(RENDER_HOSTS):
        phase = rng.uniform(0, 2 * np.pi)
        series.append(f"web.h{h}.requests")
        rows.append(1000 + 200 * np.sin(2 * np.pi * minute / 1440 + phase)
                    + rng.normal(0, 20, n_min))
        series.append(f"web.h{h}.errors")
        rows.append(np.abs(rng.normal(5, 2, n_min)))
    values = np.vstack(rows)
    now = T0 + (n_min - 1) * MINUTE

    k = int(rng.integers(RENDER_HOSTS))  # the host the per-host panels show
    hour, day, week = 60, 1440, 7 * 1440
    catalog = [
        _render("sumSeries(web.*.requests)", hour),
        _render("sumSeries(web.*.requests)", day),
        _render("sumSeries(web.*.requests)", week),
        _render("movingAverage(sumSeries(web.*.errors), 5)", hour),
        _render("movingAverage(sumSeries(web.*.errors), 5)", day),
        _render(f"summarize(web.h{k}.requests, '1h', 'sum')", day),
        _render(f"summarize(web.h{k}.requests, '1h', 'sum')", week),
        _render("asPercent(web.*.errors)", hour),
        _render(f"timeShift(web.h{k}.requests, '-1d')", hour),
        _render(f"timeShift(web.h{k}.requests, '-1d')", day),
        {"kind": "preview", "target": f"web.h{k}.errors", "threshold": 50.0, "minutes": 60},
        {"kind": "preview", "target": f"web.h{k}.errors", "threshold": 2.0, "minutes": 60},
        {"kind": "overview"},
        {"kind": "latest"},
    ]
    # a dashboard's panels load in a fixed order; the seed picks the data
    requests = catalog

    monitors, job_errors, job_data = [], [], []
    for i in range(1, RENDER_MONITORS + 1):
        status = str(rng.choice(["success", "failed", "error"], p=[0.7, 0.2, 0.1]))
        deleted = rng.random() < 0.1
        last_run = None if rng.random() < 0.1 else now - int(rng.integers(1, 600)) * MINUTE
        row = _monitor_row(i, [f"web.h{i % RENDER_HOSTS}.errors"], "a.max() > 50", 60, 60,
                           [f"email:owner{i}@example.com"], app_id=1 + i % RENDER_APPS)
        row.update(status=status, active=bool(rng.random() < 0.8), last_run=last_run,
                   deleted_at=T0 if deleted else None)
        monitors.append(row)
        # history: one resolved incident on some monitors, and one open
        # incident on every live monitor that is currently failing
        if rng.random() < 0.3:
            job_errors.append(_error(len(job_errors) + 1, i, now - day * MINUTE, "resolved"))
        if status != "success" and not deleted:
            job_errors.append(_error(len(job_errors) + 1, i, now - hour * MINUTE, "triggered"))
        ages = rng.choice(np.arange(1, 1000), RESULTS_PER_JOB, replace=False)
        for r, age in enumerate(ages):
            at = now - int(age) * MINUTE
            job_data.append({"id": i * 100 + r, "job_id": i, "created_at": at,
                             "updated_at": at,
                             "data": {"status": status, "output": None, "graph_data": []}})
    return RenderInputs(series, values, now, requests, monitors, job_errors, job_data)


def _render(target: str, window_min: int) -> dict:
    return {"kind": "render", "target": target, "minutes": window_min}


def _error(id_, job_id, at, status) -> dict:
    return {"id": id_, "job_id": job_id, "created_at": at, "updated_at": at,
            "message": "alert", "status": status, "last_alerted_at": at}


def _glob(names: list[str], pattern: str) -> list[int]:
    rx = re.compile(re.escape(pattern).replace(r"\*", "[^.]*"))
    return [i for i, n in enumerate(names) if rx.fullmatch(n)]


def expected_render(inp: RenderInputs, req: dict) -> pd.DataFrame:
    """(metric, ts, value) rows a render request must return, sorted by
    metric then ts, computed with numpy over the generated arrays."""
    hi = len(inp.values[0]) - 1
    lo = hi - req["minutes"]
    ts = pd.to_datetime(T0) + pd.to_timedelta(np.arange(lo, hi + 1), unit="min")
    target = req["target"]
    names = inp.series

    def frame(metric_values: dict[str, np.ndarray], index=ts) -> pd.DataFrame:
        parts = [pd.DataFrame({"metric": m, "ts": index, "value": v})
                 for m, v in metric_values.items()]
        return pd.concat(parts).sort_values(["metric", "ts"]).reset_index(drop=True)

    def window(i: int) -> np.ndarray:
        return inp.values[i, lo:hi + 1]

    if m := re.fullmatch(r"sumSeries\((\S+)\)", target):
        total = sum(window(i) for i in _glob(names, m[1]))
        return frame({"sumSeries": total})
    if m := re.fullmatch(r"movingAverage\(sumSeries\((\S+)\), (\d+)\)", target):
        total = pd.Series(sum(window(i) for i in _glob(names, m[1])))
        return frame({"sumSeries": total.rolling(int(m[2]), min_periods=1).mean().to_numpy()})
    if m := re.fullmatch(r"summarize\((\S+), '1h', 'sum'\)", target):
        s = pd.Series(window(names.index(m[1])), index=ts)
        hourly = s.groupby(s.index.floor("h")).sum()
        return frame({m[1]: hourly.to_numpy()}, index=hourly.index)
    if m := re.fullmatch(r"asPercent\((\S+)\)", target):
        idx = _glob(names, m[1])
        total = sum(window(i) for i in idx)
        return frame({names[i]: window(i) / total * 100.0 for i in idx})
    if m := re.fullmatch(r"timeShift\((\S+), '-1d'\)", target):
        i = names.index(m[1])
        return frame({m[1]: inp.values[i, lo - 1440:hi + 1 - 1440]})
    raise ValueError(f"no oracle for target {target!r}")


def expected_preview(inp: RenderInputs, req: dict) -> tuple[str, int]:
    """(status, number of graph points) of a preview run."""
    hi = len(inp.values[0]) - 1
    w = inp.values[inp.series.index(req["target"]), hi - req["minutes"]:hi + 1]
    return ("failed" if w.max() > req["threshold"] else "success"), len(w)


def expected_overview(inp: RenderInputs) -> list[tuple]:
    """(app_id, n_jobs, n_active, n_failed, n_error, last_run,
    n_open_incidents) per application with live monitors."""
    live = [m for m in inp.monitors if m["deleted_at"] is None]
    app_of = {m["id"]: m["app_id"] for m in inp.monitors}
    out = []
    for app in sorted({m["app_id"] for m in live}):
        ms = [m for m in live if m["app_id"] == app]
        runs = [m["last_run"] for m in ms if m["last_run"] is not None]
        n_open = sum(1 for e in inp.job_errors
                     if e["status"] == "triggered" and app_of[e["job_id"]] == app)
        out.append((app, len(ms), sum(m["active"] for m in ms),
                    sum(m["status"] == "failed" for m in ms),
                    sum(m["status"] == "error" for m in ms),
                    max(runs) if runs else None, n_open))
    return out


def expected_latest(inp: RenderInputs) -> set[tuple[int, int]]:
    """(job_id, job_data id) of each job's newest result."""
    best: dict[int, dict] = {}
    for r in inp.job_data:
        cur = best.get(r["job_id"])
        if cur is None or (r["updated_at"], r["id"]) > (cur["updated_at"], cur["id"]):
            best[r["job_id"]] = r
    return {(j, r["id"]) for j, r in best.items()}


# ---------------------------------------------------------------------------
# corpus_dedup: a corpus with planted near-duplicate clusters
# ---------------------------------------------------------------------------

N_DOCS = 2000
VOCAB = 5000
DOC_WORDS = 120
CLUSTER_EVERY = 10  # every 10th distinct document gets near-duplicates
VARIANTS = 2  # each a one-word substitution: shingle Jaccard ~0.95 to its base


@dataclass
class CorpusInputs:
    doc_id: np.ndarray
    text: list[str]
    clusters: list[list[int]]  # planted near-duplicate groups (base first)

    @property
    def n_chars(self) -> np.ndarray:
        return np.array([len(t) for t in self.text], dtype=np.int64)


def make_corpus(seed: int) -> CorpusInputs:
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    text, clusters = [], []
    base_no = 0
    while len(text) < N_DOCS:
        base = list(rng.choice(vocab, DOC_WORDS))
        members = [len(text)]
        text.append(" ".join(base))
        if base_no % CLUSTER_EVERY == 0:
            for _ in range(VARIANTS):
                v = list(base)
                v[int(rng.integers(DOC_WORDS))] = str(rng.choice(vocab))
                members.append(len(text))
                text.append(" ".join(v))
            clusters.append(members)
        base_no += 1
    return CorpusInputs(np.arange(len(text), dtype=np.int64), text, clusters)


def expected_keep(inp: CorpusInputs) -> dict[int, bool]:
    """Keep the longest member of each planted cluster (ties: smallest id);
    every other document is its own canonical and is kept."""
    keep = {int(i): True for i in inp.doc_id}
    n_chars = inp.n_chars
    for members in inp.clusters:
        best = max(members, key=lambda d: (n_chars[d], -d))
        for d in members:
            keep[d] = d == best
    return keep


def planted_pairs(inp: CorpusInputs) -> set[tuple[int, int]]:
    return {
        (a, b) for members in inp.clusters
        for i, a in enumerate(members) for b in members[i + 1:]
    }
