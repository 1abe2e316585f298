"""Golden monitor scenarios (FIXTURES.md §8): threshold-fires,
threshold-holds, null-window error path, debounce-suppressed,
re-alert-after-timeout, recovery, backtest with to_date."""

from __future__ import annotations

import datetime as dt
import time

import pandas as pd

import pytest
from pyspark.sql import functions as F

from rearview_spark.monitors.cron import next_fire
from rearview_spark.monitors.dashboard import latest_result_per_job
from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors, evaluate_expr
from rearview_spark.monitors.lifecycle import transition
from rearview_spark.monitors.notify import AlertRouter, CollectingNotifier
from rearview_spark.monitors.schemas import MONITORS
from rearview_spark.monitors.scheduler import MonitorScheduler
from rearview_spark.monitors.store import JobStore

T0 = dt.datetime(2024, 1, 1, 0, 0)
NOW = T0 + dt.timedelta(minutes=60)


def make_metrics(spark, data: dict[str, list[float | None]], start=T0):
    rows = [
        (m, start + dt.timedelta(minutes=i), float(v) if v is not None else None)
        for m, vals in data.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "metric string, ts timestamp, value double")


def spec(id=1, metrics=("stats.req",), expr="a.mean() > 100", minutes=60, to_date=None):
    return MonitorSpec(
        id=id, metrics=list(metrics), monitor_expr=expr, minutes=minutes,
        to_date=to_date, name=f"mon{id}", description=f"monitor {id}",
    )


# --- evaluation layer --------------------------------------------------------

def test_threshold_fires(spark):
    m = make_metrics(spark, {"stats.req": [200.0] * 61})
    out = evaluate_monitors(spark, [spec()], m, NOW).collect()
    assert len(out) == 1
    r = out[0]
    assert r["status"] == "failed"
    assert "alert" in r["message"]
    assert len(r["graph_data"]) == 61
    assert r["graph_data"][0]["metric"] == "stats.req"


def test_threshold_holds(spark):
    m = make_metrics(spark, {"stats.req": [50.0] * 61})
    out = evaluate_monitors(spark, [spec()], m, NOW).collect()
    assert out[0]["status"] == "success"


def test_null_window_is_error(spark):
    # series exists but only outside the window -> graphite-error path
    m = make_metrics(spark, {"stats.req": [1.0] * 10}, start=T0 - dt.timedelta(days=2))
    out = evaluate_monitors(spark, [spec()], m, NOW).collect()
    assert out[0]["status"] == "error"
    assert "no data" in out[0]["message"]
    assert out[0]["graph_data"] is None


def test_all_null_window_is_error(spark):
    m = make_metrics(spark, {"stats.req": [None] * 61})
    out = evaluate_monitors(spark, [spec()], m, NOW).collect()
    assert out[0]["status"] == "error"


def test_expression_error_status(spark):
    m = make_metrics(spark, {"stats.req": [1.0] * 61})
    out = evaluate_monitors(spark, [spec(expr="a.nope()")], m, NOW).collect()
    assert out[0]["status"] == "error"
    assert "monitor_expr error" in out[0]["message"]


def test_bad_target_is_error(spark):
    m = make_metrics(spark, {"stats.req": [1.0] * 61})
    out = evaluate_monitors(spark, [spec(metrics=["noSuchFn(stats.req)"])], m, NOW).collect()
    assert out[0]["status"] == "error"
    assert "target" in out[0]["message"]
    assert out[0]["graph_data"] is None


def test_bad_second_target_is_error_beside_healthy_monitor(spark):
    # the first target compiles and the second does not: the monitor reads
    # 'error' and the healthy monitor in the same evaluation still runs
    m = make_metrics(spark, {"stats.req": [200.0] * 61})
    specs = [
        spec(id=1),
        spec(id=2, metrics=["stats.req", "noSuchFn(stats.req)"], expr="a.mean() > b.mean()"),
    ]
    out = {r["job_id"]: r for r in evaluate_monitors(spark, specs, m, NOW).collect()}
    assert out[1]["status"] == "failed"
    assert out[2]["status"] == "error"
    assert out[2]["message"].startswith("target 'noSuchFn(stats.req)'")
    assert out[2]["graph_data"] is None


def test_multi_target_binding(spark):
    m = make_metrics(spark, {"stats.a": [10.0] * 61, "stats.b": [4.0] * 61})
    s = spec(metrics=["stats.a", "stats.b"], expr="(a - b).max() > 5")
    out = evaluate_monitors(spark, [s], m, NOW).collect()
    assert out[0]["status"] == "failed"


def test_target_with_function_pipeline(spark):
    vals = [10.0] * 50 + [500.0] * 11
    m = make_metrics(spark, {"stats.req": vals})
    s = spec(metrics=["movingAverage(stats.req, 5)"], expr="a.max() > 100")
    out = evaluate_monitors(spark, [s], m, NOW).collect()
    assert out[0]["status"] == "failed"


def test_backtest_to_date(spark):
    # data only in the first hour; to_date points the window there
    m = make_metrics(spark, {"stats.req": [200.0] * 30})
    backtest_end = T0 + dt.timedelta(minutes=30)
    s = spec(to_date=backtest_end)
    out = evaluate_monitors(spark, [s], m, now=NOW + dt.timedelta(days=5)).collect()
    assert out[0]["status"] == "failed"
    assert out[0]["scheduled_ts"] == backtest_end


def test_many_monitors_one_job(spark):
    m = make_metrics(spark, {"stats.a": [200.0] * 61, "stats.b": [1.0] * 61})
    specs = [
        spec(id=1, metrics=["stats.a"]),
        spec(id=2, metrics=["stats.b"]),
        spec(id=3, metrics=["stats.missing"]),
    ]
    out = {r["job_id"]: r["status"] for r in evaluate_monitors(spark, specs, m, NOW).collect()}
    assert out == {1: "failed", 2: "success", 3: "error"}


def test_expr_sandbox_blocks_dunder():
    with pytest.raises(ValueError):
        evaluate_expr("().__class__", {})
    with pytest.raises(Exception):
        evaluate_expr("open('/etc/passwd')", {})


def test_expr_sandbox_blocks_attribute_walks():
    """The round-1 escapes (ADVICE r01): module-object traversal through
    the whitelisted np/pd names must die at the first non-whitelisted
    attribute hop."""
    for evil in [
        "pd.io.common.os.system('true')",
        "np.ctypeslib.ctypes",
        "pd.compat.os.environ",
        "np.f2py",
        "a.to_pickle('/tmp/x')",
    ]:
        with pytest.raises(ValueError, match="not allowed"):
            evaluate_expr(evil, {"a": pd.Series([1.0])})


def test_expr_sandbox_blocks_lambda_and_fstrings():
    with pytest.raises(ValueError, match="not allowed"):
        evaluate_expr("(lambda: 1)()", {})
    with pytest.raises(ValueError, match="not allowed"):
        evaluate_expr("f'{a}'", {"a": 1})


def test_expr_sandbox_allows_documented_surface():
    a = pd.Series([10.0, 20.0, 30.0])
    b = pd.Series([1.0, 2.0, 3.0])
    assert not evaluate_expr("a.mean() > 100", {"a": a})
    assert bool(evaluate_expr("(a - b).max() > 5", {"a": a, "b": b}))
    assert evaluate_expr("np.percentile(a, 50)", {"a": a}) == 20.0
    assert evaluate_expr("math.sqrt(a.max()) < 6", {"a": a})
    assert evaluate_expr("a.rolling(2).mean().max() > 24", {"a": a})
    assert evaluate_expr("sorted([x for x in a])[0]", {"a": a}) == 10.0


def test_expr_sandbox_wall_clock_guard():
    start = time.monotonic()
    with pytest.raises(TimeoutError, match="wall-clock"):
        evaluate_expr(
            "sum(x * x for x in range(10 ** 10))", {}, timeout_s=1.0
        )
    assert time.monotonic() - start < 5.0


def test_monitor_expr_timeout_yields_error_status(spark):
    m = make_metrics(spark, {"stats.req": [200.0] * 61})
    s = spec(expr="sum(x * x for x in range(10 ** 10))")
    out = evaluate_monitors(spark, [s], m, NOW).collect()
    assert out[0]["status"] == "error"
    assert "monitor_expr error" in out[0]["message"]


def test_timeshift_monitor_compares_against_prior_day(spark):
    """Canonical timeShift use (ADVICE r01): today vs same window
    yesterday.  Data exists for both days; the shifted series must be
    fetched from BEFORE the monitor window, not come back empty."""
    two_days = [100.0] * 1440 + [300.0] * 1440  # day 1 flat 100, day 2 flat 300
    m = make_metrics(spark, {"stats.req": two_days})
    now = T0 + dt.timedelta(days=2)
    s = spec(
        metrics=['divideSeries(stats.req, timeShift(stats.req, "-1d"))'],
        expr="a.mean() > 2",  # 300/100 = 3 -> fires
        minutes=60,
        to_date=now,
    )
    out = evaluate_monitors(spark, [s], m, now).collect()
    assert out[0]["status"] == "failed", out[0]["message"]
    # with no prior-day data at all, the ratio has no rows -> error path
    s2 = spec(
        id=2,
        metrics=['divideSeries(stats.req, timeShift(stats.req, "-1d"))'],
        expr="a.mean() > 2",
        minutes=30,
        to_date=T0 + dt.timedelta(minutes=30),  # shifted fetch predates data
    )
    out2 = evaluate_monitors(spark, [s2], m, now).collect()
    assert out2[0]["status"] == "error"  # divide by empty shift -> no rows


def test_shared_window_key_injective(spark):
    """Targets legally contain commas — two monitors whose comma-joined
    metrics collide must still bind their own variables (ADVICE r01)."""
    m = make_metrics(spark, {"stats.a": [200.0] * 61, "stats.b": [1.0] * 61})
    specs = [
        spec(id=1, metrics=["scale(stats.a, 2)"]),           # a -> 400s
        spec(id=2, metrics=["scale(stats.a", "2)"]),          # invalid split
    ]
    out = {r["job_id"]: r for r in evaluate_monitors(spark, specs, m, NOW).collect()}
    assert out[1]["status"] == "failed"          # 400 > 100 fires
    assert out[2]["status"] == "error"           # bad target -> its own error
    assert "target" in out[2]["message"]


# --- lifecycle state machine -------------------------------------------------

def test_transition_first_failure_alerts():
    tr = transition("success", None, "failed", NOW, 60)
    assert tr.new_status == "failed" and tr.should_alert and tr.incident == "open"
    assert tr.new_last_alerted_at == NOW


def test_transition_debounce_suppresses():
    recent = NOW - dt.timedelta(minutes=10)
    tr = transition("failed", recent, "failed", NOW, 60)
    assert not tr.should_alert
    assert tr.new_last_alerted_at == recent


def test_transition_realert_after_timeout():
    old = NOW - dt.timedelta(minutes=61)
    tr = transition("failed", old, "failed", NOW, 60)
    assert tr.should_alert and tr.new_last_alerted_at == NOW


def test_transition_zero_timeout_always_alerts():
    tr = transition("failed", NOW - dt.timedelta(seconds=30), "failed", NOW, 0)
    assert tr.should_alert


def test_transition_recovery_closes():
    tr = transition("failed", NOW, "success", NOW, 60)
    assert tr.new_status == "success" and tr.incident == "close" and not tr.should_alert


# --- end-to-end scheduler goldens -------------------------------------------

def monitor_row(id=1, cron="* * * * *", expr="a.mean() > 100", error_timeout=60,
                alert_keys=("email:ops@example.com",), metrics=("stats.req",),
                status="success", active=True):
    return (
        id, f"mon{id}", active, None, None, cron, status, 1,
        list(alert_keys), None, error_timeout, f"monitor {id}", 1,
        list(metrics), expr, 60, None, T0, T0,
    )


@pytest.fixture()
def store(spark, tmp_path):
    return JobStore(spark, str(tmp_path / "jobstore"))


def test_scheduler_fire_debounce_realert_recover(spark, store):
    # spiky series: high for first 2h, low afterwards
    m = make_metrics(spark, {"stats.req": [200.0] * 120 + [10.0] * 120})
    collector = CollectingNotifier()
    router = AlertRouter(default=collector)
    store.save_monitors(spark.createDataFrame([monitor_row(error_timeout=60)], MONITORS))
    sched = MonitorScheduler(spark, store, m, router)

    # t=60min: fires
    s1 = sched.tick(T0 + dt.timedelta(minutes=60))
    assert s1 == {"ran": 1, "alerts": 1}
    errors = store.read("job_errors").collect()
    assert len(errors) == 1 and errors[0]["status"] == "triggered"

    # t=90min: still failing, within 60-min debounce -> suppressed
    s2 = sched.tick(T0 + dt.timedelta(minutes=90))
    assert s2 == {"ran": 1, "alerts": 0}

    # t=121min: past debounce -> re-alerts (window still mostly high)
    s3 = sched.tick(T0 + dt.timedelta(minutes=121))
    assert s3 == {"ran": 1, "alerts": 1}

    # t=200min: window is low -> recovery closes the incident
    s4 = sched.tick(T0 + dt.timedelta(minutes=200))
    assert s4 == {"ran": 1, "alerts": 0}
    errors = store.read("job_errors").collect()
    assert len(errors) == 1 and errors[0]["status"] == "resolved"
    mon = store.read("monitors").collect()[0]
    assert mon["status"] == "success"
    assert len(collector.sent) == 2
    assert collector.sent[0].key == "email:ops@example.com"

    # job_data accumulated one row per tick
    assert store.read("job_data").count() == 4
    latest = latest_result_per_job(store.read("job_data")).collect()
    assert len(latest) == 1 and latest[0]["data"]["status"] == "success"


def test_scheduler_respects_cron_and_next_run(spark, store):
    m = make_metrics(spark, {"stats.req": [10.0] * 240})
    store.save_monitors(
        spark.createDataFrame([monitor_row(cron="*/15 * * * *")], MONITORS)
    )
    sched = MonitorScheduler(spark, store, m)
    t1 = T0 + dt.timedelta(minutes=60)
    assert sched.tick(t1)["ran"] == 1
    nr = store.read("monitors").collect()[0]["next_run"]
    assert nr == next_fire("*/15 * * * *", t1)
    # before next_run: nothing due
    assert sched.tick(t1 + dt.timedelta(minutes=1))["ran"] == 0
    # at next_run: due again
    assert sched.tick(nr)["ran"] == 1


def test_scheduler_skips_inactive_and_deleted(spark, store):
    m = make_metrics(spark, {"stats.req": [10.0] * 120})
    rows = [monitor_row(id=1, active=False), monitor_row(id=2)]
    df = spark.createDataFrame(rows, MONITORS)
    df = df.withColumn(
        "deleted_at",
        F.when(F.col("id") == 2, F.lit(NOW)).otherwise(F.lit(None).cast("timestamp")),
    )
    store.save_monitors(df)
    sched = MonitorScheduler(spark, store, m)
    assert sched.tick(NOW)["ran"] == 0


def test_store_versioned_swap_and_cas(spark, store):
    from rearview_spark.monitors.store import ConcurrentWriteError

    df1 = spark.createDataFrame([monitor_row(id=1)], MONITORS)
    assert store.save_monitors(df1) == 1
    assert store.save_monitors(df1, expect_version=1) == 2
    with pytest.raises(ConcurrentWriteError):
        store.save_monitors(df1, expect_version=1)  # stale snapshot
    assert store.read("monitors").count() == 1
    assert store.current_version("monitors")[0] == 2
    # the pointer always names a fully-written version: the previous one
    # is retained until the next swap, so a crash mid-write can't lose
    # the table (round 1's rmtree-then-rename window, ADVICE r01)
    vdir = store._versions_dir("monitors")
    assert (vdir / "v00000002").exists()


def test_store_reads_legacy_unversioned_dir(spark, tmp_path):
    root = tmp_path / "legacy_store"
    df = spark.createDataFrame([monitor_row(id=7)], MONITORS)
    df.write.parquet(str(root / "monitors"))  # round-1 layout: bare dir
    st = JobStore(spark, str(root))
    assert st.current_version("monitors") == (0, root / "monitors")
    assert st.read("monitors").collect()[0]["id"] == 7
    # first overwrite migrates to versioned layout and drops the legacy dir
    st.save_monitors(df, expect_version=0)
    assert st.current_version("monitors")[0] == 1
    assert not (root / "monitors").exists()
    assert st.read("monitors").collect()[0]["id"] == 7


def test_overlapping_ticks_exactly_once(spark, tmp_path):
    """VERDICT r01 #5: two ticks computed from the same monitors snapshot
    must produce ONE status transition, ONE job_data row, ONE alert — the
    loser aborts whole at the CAS, before persisting or dispatching."""
    import threading

    from rearview_spark.monitors.store import ConcurrentWriteError

    barrier = threading.Barrier(2, timeout=180)

    class RacingStore(JobStore):
        def overwrite(self, table, df, expect_version=None, sidecars=None):
            if table == "monitors" and expect_version is not None:
                # rendezvous: both ticks computed from the same snapshot
                # before either swaps
                barrier.wait()
            return super().overwrite(table, df, expect_version, sidecars)

    st = RacingStore(spark, str(tmp_path / "race_store"))
    m = make_metrics(spark, {"stats.req": [200.0] * 120})
    collector = CollectingNotifier()
    st.save_monitors(spark.createDataFrame([monitor_row()], MONITORS))
    sched = MonitorScheduler(spark, st, m, AlertRouter(default=collector))

    now = T0 + dt.timedelta(minutes=60)
    outcomes: list[object] = []

    def run_tick():
        try:
            outcomes.append(sched.tick(now))
        except ConcurrentWriteError as e:
            outcomes.append(e)

    threads = [threading.Thread(target=run_tick) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    done = [o for o in outcomes if isinstance(o, dict)]
    aborted = [o for o in outcomes if isinstance(o, ConcurrentWriteError)]
    assert len(done) == 1 and len(aborted) == 1, outcomes
    assert done[0] == {"ran": 1, "alerts": 1}
    mons = st.read("monitors").collect()
    assert len(mons) == 1 and mons[0]["status"] == "failed"
    assert st.read("job_data").count() == 1  # no duplicate persistence
    assert st.read("job_errors").count() == 1  # single opened incident
    assert len(collector.sent) == 1  # no duplicate alert


def test_alert_outbox_survives_crash_between_cas_and_dispatch(spark, tmp_path):
    """VERDICT r03 #5: a process death AFTER the monitors CAS but BEFORE
    dispatch must not lose the alert — the outbox rides the same pointer
    flip, and the next tick's opening drain delivers it."""
    st = JobStore(spark, str(tmp_path / "outbox_store"))
    m = make_metrics(spark, {"stats.req": [200.0] * 240})
    collector = CollectingNotifier()
    st.save_monitors(spark.createDataFrame([monitor_row(error_timeout=60)], MONITORS))
    sched = MonitorScheduler(spark, st, m, AlertRouter(default=collector))

    # simulate the crash: kill the process right after the CAS commit by
    # making the drain (the first post-CAS dispatch touchpoint) die
    real_drain = sched._drain_outbox
    calls = {"n": 0}

    def dying_drain():
        calls["n"] += 1
        if calls["n"] == 2:  # first call = opening drain; second = post-CAS
            raise RuntimeError("simulated SIGKILL before dispatch")
        return real_drain()

    sched._drain_outbox = dying_drain
    now = T0 + dt.timedelta(minutes=60)
    with pytest.raises(RuntimeError, match="simulated SIGKILL"):
        sched.tick(now)
    # transitions committed, alert NOT delivered — but it is durable
    assert st.read("monitors").collect()[0]["status"] == "failed"
    assert len(collector.sent) == 0
    assert len(st.pending_alerts()) == 1

    # "restart": a fresh scheduler's next tick redelivers the owed alert
    sched2 = MonitorScheduler(spark, st, m, AlertRouter(default=collector))
    s = sched2.tick(now + dt.timedelta(minutes=30))
    # stranded alert from t=60 delivered; t=90 itself is debounced
    assert s == {"ran": 1, "alerts": 1}
    assert len(collector.sent) == 1
    assert collector.sent[0].fired_at == now
    # drained: nothing pending, and a re-tick doesn't double-send
    assert st.pending_alerts() == []
    sched2.tick(now + dt.timedelta(minutes=31))
    assert len(collector.sent) == 1


def _recovery_run(spark, root: str, crash: bool) -> dict:
    """One monitor fails at 60 min and recovers at 200 min; ticks at 60,
    200, 201 and 202. With ``crash``, the process dies in the job_data
    append of the recovering tick — the first step after its commit — and
    a fresh store and scheduler run the last two ticks."""
    m = make_metrics(spark, {"stats.req": [200.0] * 120 + [10.0] * 120})
    st = JobStore(spark, root)
    st.save_monitors(spark.createDataFrame([monitor_row(error_timeout=60)], MONITORS))
    sched = MonitorScheduler(spark, st, m, AlertRouter(default=CollectingNotifier()))
    sched.tick(T0 + dt.timedelta(minutes=60))
    recovers = T0 + dt.timedelta(minutes=200)
    if crash:
        def dying_append(run_results, now):
            raise RuntimeError("simulated SIGKILL after the commit")

        st.append_job_data = dying_append
        with pytest.raises(RuntimeError, match="simulated SIGKILL"):
            sched.tick(recovers)
        st = JobStore(spark, root)
        sched = MonitorScheduler(spark, st, m, AlertRouter(default=CollectingNotifier()))
    else:
        sched.tick(recovers)
    for minute in (201, 202):
        sched.tick(T0 + dt.timedelta(minutes=minute))
    return {
        "monitors": st.read_rows("monitors"),
        "job_errors": st.read_rows("job_errors"),
        "pending": st.pending_alerts(),
        "job_data": sorted((r["job_id"], r["created_at"]) for r in st.read("job_data").collect()),
    }


@pytest.fixture(scope="module")
def recovery_runs(spark, tmp_path_factory):
    """(crash-free run, run that crashed after the recovering commit)."""
    root = tmp_path_factory.mktemp("recovery")
    return (
        _recovery_run(spark, str(root / "clean"), crash=False),
        _recovery_run(spark, str(root / "crashed"), crash=True),
    )


def test_crash_after_recovery_commit_resolves_the_incident(recovery_runs):
    """A crash right after the tick where a monitor recovers must not
    leave its incident ``triggered`` while the monitor reads ``success``:
    the incident close rides the same commit as the status change."""
    clean, crashed = recovery_runs
    assert [r["status"] for r in clean["job_errors"]] == ["resolved"]
    assert [r["status"] for r in clean["monitors"]] == ["success"]
    assert clean["pending"] == []
    for table in ("monitors", "job_errors", "pending"):
        assert crashed[table] == clean[table], table


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP item 4: a crash in the job_data append loses that tick's "
    "row for good, because the commit already advanced next_run",
)
def test_crash_after_recovery_commit_keeps_its_job_data_row(recovery_runs):
    clean, crashed = recovery_runs
    assert len(clean["job_data"]) == 4
    assert crashed["job_data"] == clean["job_data"]


def test_tick_commits_once(spark, tmp_path, monkeypatch):
    """A tick takes one claim and flips one CURRENT pointer: the monitor
    rows, job_errors and the outbox are one monitors version, and no
    job_errors version chain appears in the store."""
    import os

    claims: list[str] = []
    flips: list[str] = []

    class CountingStore(JobStore):
        def _claim(self, table, *args):
            claims.append(table)
            return super()._claim(table, *args)

    real_replace = os.replace

    def counting_replace(src, dst):
        if str(dst).endswith(".CURRENT"):
            flips.append(os.path.basename(dst))
        return real_replace(src, dst)

    root = tmp_path / "one_commit"
    st = CountingStore(spark, str(root))
    st.save_monitors(spark.createDataFrame([monitor_row()], MONITORS))
    m = make_metrics(spark, {"stats.req": [200.0] * 120})
    sched = MonitorScheduler(spark, st, m, AlertRouter(default=CollectingNotifier()))
    claims.clear()
    monkeypatch.setattr(os, "replace", counting_replace)
    assert sched.tick(NOW) == {"ran": 1, "alerts": 1}
    monkeypatch.undo()

    assert claims == ["monitors"]
    assert flips == ["monitors.CURRENT"]
    assert sorted(p.name for p in root.iterdir()) == [
        "alert_dispatches", "job_data", "monitors.CURRENT", "monitors.versions",
    ]
    version, version_dir = st.current_version("monitors")
    assert version == 2
    assert sorted(p.name for p in version_dir.iterdir() if p.name.startswith("_")) == [
        "_job_errors", "_outbox",
    ]
    assert [r["status"] for r in st.read_rows("job_errors")] == ["triggered"]


def test_store_reclaims_stale_claim_after_hard_crash(spark, tmp_path):
    """ADVICE r03 (medium): a hard crash between claim creation and the
    pointer swap must not wedge the table forever. A claim older than the
    TTL with CURRENT still below its version is reclaimed."""
    from rearview_spark.monitors.store import ConcurrentWriteError

    st = JobStore(spark, str(tmp_path / "reclaim_store"), claim_ttl_s=0.0)
    df = spark.createDataFrame([monitor_row(id=1)], MONITORS)
    assert st.save_monitors(df) == 1
    # simulate the orphan: claim for v2 exists, version dir half-written,
    # CURRENT still points at v1 (claimer hard-crashed)
    vdir = st._versions_dir("monitors")
    (vdir / "v00000002.claim").touch()
    (vdir / "v00000002").mkdir()
    (vdir / "v00000002" / "part-junk.parquet").write_bytes(b"partial")
    # next writer reclaims and succeeds
    assert st.save_monitors(df, expect_version=1) == 2
    assert st.read("monitors").count() == 1
    # with a real TTL, a fresh claim is NOT stolen (live-writer guard)
    st2 = JobStore(spark, str(tmp_path / "reclaim_store"), claim_ttl_s=60.0)
    (vdir / "v00000003.claim").touch()
    with pytest.raises(ConcurrentWriteError):
        st2.save_monitors(df, expect_version=2)


def test_webhook_notifier_delivers_payload():
    """S6 with a real transport: the webhook notifier POSTs the alert
    JSON to a live local HTTP server; the delivered body is asserted."""
    import http.server
    import threading

    from rearview_spark.monitors.notify import WebhookNotifier

    received: list[tuple[str, bytes]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        router = AlertRouter()
        router.register("webhook", WebhookNotifier())
        n = router.dispatch(
            7, [f"webhook:http://127.0.0.1:{port}/hook"], "alert: cpu high", NOW, "failed"
        )
        assert n == 1
        assert len(received) == 1
        path, body = received[0]
        assert path == "/hook"
        import json

        payload = json.loads(body)
        assert payload == {
            "job_id": 7,
            "message": "alert: cpu high",
            "fired_at": NOW.isoformat(),
            "status": "failed",
        }
    finally:
        srv.shutdown()
        srv.server_close()

    # delivery failure surfaces instead of dropping silently
    import pytest as _pytest

    with _pytest.raises(Exception):
        WebhookNotifier(url=f"http://127.0.0.1:{port}/down", timeout_s=1.0).send(
            __import__("rearview_spark.monitors.notify", fromlist=["Alert"]).Alert(
                1, "webhook", "m", NOW, "failed"
            )
        )


def test_observe_metrics(spark):
    from rearview_spark.monitors.observe import TickMetrics, observed_run_results

    m = make_metrics(spark, {"stats.a": [200.0] * 61, "stats.b": [1.0] * 61})
    specs = [spec(id=1, metrics=["stats.a"]), spec(id=2, metrics=["stats.b"])]
    results = evaluate_monitors(spark, specs, m, NOW)
    observed, obs = observed_run_results(results)
    observed.collect()
    got = obs.get
    assert got["runs"] == 2 and got["failed"] == 1 and got["errors"] == 0

    lines = TickMetrics(ran=2, alerts=1, failed=1, tick_seconds=0.5).to_statsd_lines()
    assert "rearview.scheduler.ran:2|c" in lines
    assert "rearview.scheduler.tick_ms:500|ms" in lines


def test_claim_fencing_aborts_stalled_writer(spark, tmp_path):
    """ADVICE r04 (medium): a writer whose write stalls past the claim TTL
    loses its claim to a reclaimer; fencing (writer token re-verified
    immediately before publish) makes the stalled writer ABORT instead of
    double-publishing the same version."""
    from rearview_spark.monitors.store import ConcurrentWriteError

    root = str(tmp_path / "fence_store")
    st = JobStore(spark, root, claim_ttl_s=0.0)
    thief = JobStore(spark, root, claim_ttl_s=0.0)
    df1 = spark.createDataFrame([monitor_row(id=1)], MONITORS)
    df2 = spark.createDataFrame([monitor_row(id=2)], MONITORS)
    assert st.save_monitors(df1) == 1

    orig_owns = st._owns_claim
    stolen = {"done": False}

    def owns_after_theft(claim, token):
        # simulate the stall: TTL expires and a second writer reclaims the
        # claim and publishes v2 while our write is in flight
        if not stolen["done"]:
            stolen["done"] = True
            assert thief.save_monitors(df2, expect_version=1) == 2
        return orig_owns(claim, token)

    st._owns_claim = owns_after_theft
    with pytest.raises(ConcurrentWriteError, match="reclaimed"):
        st.save_monitors(df1, expect_version=1)
    # the thief's publish is intact — exactly one v2, with the thief's rows
    assert st.current_version("monitors")[0] == 2
    assert [r["id"] for r in st.read("monitors").collect()] == [2]
    # and the table is not wedged: the next writer proceeds normally
    st._owns_claim = orig_owns
    assert st.save_monitors(df1, expect_version=2) == 3


def test_outbox_carried_forward_across_unrelated_saves(spark, tmp_path):
    """ADVICE r04 (medium): undispatched outbox rows and open incidents
    must survive a commit that carries neither (e.g. a user registering a
    monitor between a crash and the next tick's opening drain), whether
    it is a save_monitors call or a plain overwrite of the monitors."""
    st = JobStore(spark, str(tmp_path / "carry_store"))
    mons = spark.createDataFrame([monitor_row(id=1)], MONITORS)
    owed = {
        "id": 11, "job_id": 1, "alert_keys": ["email:ops@example.com"],
        "message": "boom", "status": "failed", "fired_at": T0,
    }
    incident = {
        "id": 1, "job_id": 1, "created_at": T0, "updated_at": T0,
        "message": "boom", "status": "triggered", "last_alerted_at": T0,
    }
    st.save_monitors(mons)
    st.save_monitors(mons, expect_version=1, outbox=[owed], job_errors=[incident])
    # unrelated config writes WITHOUT outbox= — must not discard the alert
    # or the incident
    st.save_monitors(mons, expect_version=2)
    assert [r["id"] for r in st.pending_alerts()] == [11]
    assert st.read_rows("job_errors") == [incident]
    st.overwrite("monitors", mons, expect_version=3)
    assert [r["id"] for r in st.pending_alerts()] == [11]
    assert st.read_rows("job_errors") == [incident]
    # a later save with NEW outbox rows unions (deduped by id)
    owed2 = [owed, {**owed, "id": 12, "message": "still down", "fired_at": NOW}]
    st.save_monitors(mons, expect_version=4, outbox=owed2)
    assert sorted(r["id"] for r in st.pending_alerts()) == [11, 12]
    # dispatched rows stop being carried
    st.mark_alert_dispatched(11, NOW)
    st.mark_alert_dispatched(12, NOW)
    st.save_monitors(mons, expect_version=5)
    assert st.pending_alerts() == []
    assert st.read_rows("job_errors") == [incident]


def test_old_job_errors_table_carried_into_first_commit(spark, tmp_path):
    """A store written while job_errors had its own version chain (and
    the monitors versions no ``_job_errors`` sidecar) keeps its incidents:
    the old table is read until the first commit, which carries it in."""
    from rearview_spark.monitors.schemas import JOB_ERRORS
    from rearview_spark.monitors.store import VersionedParquetTables, to_arrow

    root = tmp_path / "old_layout"
    mons = [dict(zip(MONITORS.fieldNames(), monitor_row(id=1)))]
    incident = {
        "id": 1, "job_id": 1, "created_at": T0, "updated_at": T0,
        "message": "boom", "status": "triggered", "last_alerted_at": T0,
    }
    old = VersionedParquetTables(spark, str(root))
    old.overwrite("monitors", to_arrow(mons, MONITORS))
    old.overwrite("job_errors", to_arrow([incident], JOB_ERRORS))

    st = JobStore(spark, str(root))
    assert st.read_rows("job_errors") == [incident]
    assert st.save_monitors(to_arrow(mons, MONITORS), expect_version=1) == 2
    _, version_dir = st.current_version("monitors")
    assert st.current_version("job_errors") == (2, version_dir / "_job_errors")
    assert st.read_rows("job_errors") == [incident]
    assert [r.asDict() for r in st.read("job_errors").collect()] == [incident]


def test_crash_mid_drain_redelivers_only_the_unsent_alert(spark, store):
    """Two alerts owed; the first send succeeds (and is marked), then the
    process dies before the second. The next tick delivers only the
    unsent one: marking is per alert, after each send."""

    class DiesOnSecondSend:
        def __init__(self):
            self.sent = []

        def send(self, alert):
            if self.sent:
                raise RuntimeError("simulated SIGKILL mid-drain")
            self.sent.append(alert)

    m = make_metrics(spark, {"stats.req": [200.0] * 120})
    rows = [monitor_row(id=i, cron="*/15 * * * *") for i in (1, 2)]
    store.save_monitors(spark.createDataFrame(rows, MONITORS))
    dying = DiesOnSecondSend()
    with pytest.raises(RuntimeError, match="mid-drain"):
        MonitorScheduler(spark, store, m, AlertRouter(default=dying)).tick(NOW)
    assert len(dying.sent) == 1
    unsent = {1, 2} - {dying.sent[0].job_id}
    assert {r["job_id"] for r in store.pending_alerts()} == unsent

    # restart one minute later: nothing is due (*/15), the drain runs
    collector = CollectingNotifier()
    sched = MonitorScheduler(spark, store, m, AlertRouter(default=collector))
    assert sched.tick(NOW + dt.timedelta(minutes=1)) == {"ran": 0, "alerts": 1}
    assert {a.job_id for a in collector.sent} == unsent
    assert store.pending_alerts() == []


def _spark_jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _tick_jobs(spark, tmp_path, n_firing: int, extra_rows=()):
    """Spark jobs of one tick over 5 healthy monitors, ``n_firing`` of
    them alerting, plus ``extra_rows``; returns (scheduler, jobs, alerts)."""
    m = make_metrics(spark, {"stats.req": [200.0] * 120})
    name = f"fire{n_firing}-extra{len(extra_rows)}"
    st = JobStore(spark, str(tmp_path / name))
    rows = [
        monitor_row(
            id=i, cron="*/15 * * * *",
            expr="a.mean() > 100" if i <= n_firing else "a.mean() > 1000",
        )
        for i in range(1, 6)
    ]
    st.save_monitors(spark.createDataFrame(rows + list(extra_rows), MONITORS))
    collector = CollectingNotifier()
    sched = MonitorScheduler(spark, st, m, AlertRouter(default=collector))
    # job groups are per session: name this one after the test's tmp dir
    jobs = _spark_jobs(spark, f"tick-{tmp_path.name}-{name}", lambda: sched.tick(NOW))
    return sched, jobs, len(collector.sent)


def test_tick_spark_jobs_do_not_grow_with_alerts(spark, tmp_path):
    """The control plane (monitors swap, outbox, dispatch log, job_errors)
    runs on the driver: a tick delivering 5 alerts launches as many Spark
    jobs as one delivering 1, and a tick with nothing due and nothing owed
    launches none."""
    _, one_alert, sent = _tick_jobs(spark, tmp_path, 1)
    assert sent == 1
    sched, five_alerts, sent = _tick_jobs(spark, tmp_path, 5)
    assert sent == 5
    assert five_alerts == one_alert
    idle = _spark_jobs(
        spark, "tick-idle", lambda: sched.tick(NOW + dt.timedelta(minutes=1))
    )
    assert idle == 0


def test_tick_spark_jobs_do_not_grow_with_graphite_errors(spark, tmp_path):
    """Graphite-error monitors (a window with no data, a second target
    that does not compile) get their rows from the same evaluation as the
    healthy ones: the tick launches as many Spark jobs as without them."""
    _, healthy, _ = _tick_jobs(spark, tmp_path, 1)
    graphite_errors = [
        monitor_row(id=6, cron="*/15 * * * *", metrics=("stats.none",)),
        monitor_row(
            id=7, cron="*/15 * * * *", metrics=("stats.req", "noSuchFn(stats.req)")
        ),
    ]
    _, with_errors, sent = _tick_jobs(spark, tmp_path, 1, graphite_errors)
    assert sent == 3
    assert with_errors == healthy


def test_tick_and_preview_release_the_evaluation_cache(spark, store):
    from rearview_spark.monitors.dashboard import preview_run

    m = make_metrics(spark, {"stats.req": [200.0] * 120})
    # monitor 2 has no data: its window group holds only the anchor row
    rows = [monitor_row(id=1), monitor_row(id=2, metrics=("stats.none",))]
    store.save_monitors(spark.createDataFrame(rows, MONITORS))
    sched = MonitorScheduler(spark, store, m)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    assert sched.tick(NOW)["ran"] == 2
    assert persistent().size() == before
    out = preview_run(spark, m, ["stats.req"], "a.mean() > 100", 60, NOW)
    assert out["status"] == "failed"
    assert persistent().size() == before
    # a caller that reads the frame once (the gate queries) holds no cache
    specs = [spec(id=1), spec(id=2, metrics=["stats.none"])]
    assert len(evaluate_monitors(spark, specs, m, NOW).collect()) == 2
    assert persistent().size() == before


@pytest.mark.parametrize("writer", ["spark", "arrow"])
def test_read_rows_equals_spark_collect(spark, tmp_path, writer):
    """Driver reads of the config tables equal Spark's collect() for
    versions written by either writer (Spark: INT96 timestamps; Arrow:
    UTC micros), with null timestamps, array<string> keys (null, empty,
    several) and empty tables."""
    from rearview_spark.monitors.schemas import ALERT_OUTBOX, JOB_ERRORS
    from rearview_spark.monitors.store import to_arrow

    st = JobStore(spark, str(tmp_path / writer))
    assert [st.read_rows(t) for t in ("monitors", "job_errors", "_outbox")] == [[], [], []]

    def frame(rows, schema):
        if writer == "spark":
            return spark.createDataFrame(rows, schema)
        return to_arrow([dict(zip(schema.fieldNames(), r)) for r in rows], schema)

    t1 = dt.datetime(2024, 3, 9, 23, 59, 58, 123456)
    mons = [monitor_row(id=1), monitor_row(id=2, alert_keys=()), monitor_row(id=3)]
    mons[1] = mons[1][:3] + (t1, t1) + mons[1][5:]  # last_run, next_run set
    mons[2] = mons[2][:8] + (None,) + mons[2][9:]  # alert_keys null
    owed = [
        (11, 1, ["email:a@example.com", "pagerduty:K"], "boom", "failed", t1),
        (12, 2, None, None, "error", T0),
    ]
    errs = [
        (1, 1, T0, t1, "boom", "triggered", None),
        (2, 2, T0, T0, None, "resolved", t1),
    ]
    st.overwrite(
        "monitors",
        frame(mons, MONITORS),
        sidecars={"_outbox": frame(owed, ALERT_OUTBOX), "_job_errors": frame(errs, JOB_ERRORS)},
    )
    _, version_dir = st.current_version("monitors")
    assert st.current_version("job_errors") == (1, version_dir / "_job_errors")
    spark_reads = {
        "monitors": st.read("monitors"),
        "job_errors": st.read("job_errors"),
        "_outbox": spark.read.schema(ALERT_OUTBOX).parquet(str(version_dir / "_outbox")),
    }
    for table, df in spark_reads.items():
        got = sorted(st.read_rows(table), key=lambda r: r["id"])
        assert got == sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])
        assert len(got) in (2, 3)
    assert st.read_rows("monitors")[1]["alert_keys"] == []
    assert st.read_rows("monitors")[1]["next_run"] == t1

    st.overwrite("job_errors", frame([], JOB_ERRORS))  # an empty version
    assert st.read_rows("job_errors") == [] == st.read("job_errors").collect()


def _local_http_server():
    """(server, port, received, headers) — tiny live HTTP sink for
    provider-envelope tests; caller shuts it down."""
    import http.server
    import threading

    received: list[tuple[str, bytes, dict]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body, dict(self.headers)))
            self.send_response(202)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1], received


def test_pagerduty_events_v2_envelope():
    """VERDICT r04 next-round #4: real PagerDuty Events-v2 payload over a
    live local HTTP server — trigger on failure, resolve on recovery,
    stable per-job dedup_key tying the two to one incident."""
    import json

    from rearview_spark.monitors.notify import PagerDutyNotifier

    srv, port, received = _local_http_server()
    try:
        pd = PagerDutyNotifier(endpoint=f"http://127.0.0.1:{port}/v2/enqueue")
        router = AlertRouter()
        router.register("pagerduty", pd)
        router.dispatch(7, ["pagerduty:SVCKEY123"], "cpu high", NOW, "failed")
        router.dispatch(7, ["pagerduty:SVCKEY123"], "recovered", NOW, "success")
        assert len(received) == 2
        trig = json.loads(received[0][1])
        assert trig["routing_key"] == "SVCKEY123"
        assert trig["event_action"] == "trigger"
        assert trig["dedup_key"] == "rearview-job-7"
        assert trig["payload"]["summary"] == "cpu high"
        assert trig["payload"]["severity"] == "critical"
        assert trig["payload"]["source"] == "rearview-spark"
        assert trig["payload"]["timestamp"] == NOW.isoformat()
        assert trig["payload"]["custom_details"] == {"job_id": 7, "status": "failed"}
        res = json.loads(received[1][1])
        assert res["event_action"] == "resolve"
        assert res["dedup_key"] == trig["dedup_key"]  # same incident
        assert received[0][2]["Content-Type"] == "application/json"
    finally:
        srv.shutdown()
        srv.server_close()
    # a key with no integration key fails loudly
    from rearview_spark.monitors.notify import Alert

    with pytest.raises(ValueError, match="integration key"):
        PagerDutyNotifier().envelope(Alert(1, "pagerduty", "m", NOW, "failed"))


def test_campfire_speak_envelope():
    import base64
    import json

    from rearview_spark.monitors.notify import CampfireNotifier

    srv, port, received = _local_http_server()
    try:
        cf = CampfireNotifier(base_url=f"http://127.0.0.1:{port}", token="tok123")
        router = AlertRouter()
        router.register("campfire", cf)
        router.dispatch(9, ["campfire:4242"], "disk full", NOW, "failed")
        path, body, headers = received[0]
        assert path == "/room/4242/speak.json"
        msg = json.loads(body)["message"]
        assert msg["type"] == "TextMessage"
        assert msg["body"] == "[rearview] job 9 failed: disk full"
        expect = base64.b64encode(b"tok123:X").decode()
        assert headers["Authorization"] == f"Basic {expect}"
    finally:
        srv.shutdown()
        srv.server_close()


def _local_smtp_server():
    """(server, port, sessions) — minimal live SMTP server (socket-level,
    stdlib) for email-transport tests; caller shuts it down."""
    import socketserver
    import threading

    sessions: list[dict] = []

    class SmtpHandler(socketserver.StreamRequestHandler):
        def _reply(self, line: str) -> None:
            self.wfile.write((line + "\r\n").encode())

        def handle(self):
            sess = {"mail_from": None, "rcpt_to": [], "data": b""}
            self._reply("220 testsmtp ready")
            while True:
                line = self.rfile.readline()
                if not line:
                    break
                cmd = line.strip().decode(errors="replace")
                verb = cmd.split(":", 1)[0].split(" ", 1)[0].upper()
                if verb in ("EHLO", "HELO"):
                    self._reply("250 testsmtp")
                elif verb == "MAIL":
                    sess["mail_from"] = cmd.split(":", 1)[1].strip()
                    self._reply("250 OK")
                elif verb == "RCPT":
                    sess["rcpt_to"].append(cmd.split(":", 1)[1].strip())
                    self._reply("250 OK")
                elif verb == "DATA":
                    self._reply("354 end with .")
                    while True:
                        dl = self.rfile.readline()
                        if dl.rstrip(b"\r\n") == b".":
                            break
                        sess["data"] += dl
                    sessions.append(sess)
                    self._reply("250 accepted")
                elif verb == "QUIT":
                    self._reply("221 bye")
                    break
                else:
                    self._reply("250 OK")

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), SmtpHandler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1], sessions


def test_email_notifier_delivers_over_smtp():
    """S6 email transport: a minimal live SMTP server (socket-level,
    stdlib) receives the message; envelope + headers + body asserted."""
    from rearview_spark.monitors.notify import EmailNotifier

    srv, port, sessions = _local_smtp_server()
    try:
        em = EmailNotifier(host="127.0.0.1", port=port, sender="rv@example.com")
        router = AlertRouter()
        router.register("email", em)
        router.dispatch(3, ["email:ops@example.com"], "latency high", NOW, "failed")
        assert len(sessions) == 1
        s = sessions[0]
        assert s["mail_from"] == "<rv@example.com>"
        assert s["rcpt_to"] == ["<ops@example.com>"]
        text = s["data"].decode()
        assert "Subject: [rearview] job 3 failed" in text
        assert "To: ops@example.com" in text
        assert "latency high" in text
        assert f"fired_at: {NOW.isoformat()}" in text
    finally:
        srv.shutdown()
        srv.server_close()
    # missing recipient fails loudly
    from rearview_spark.monitors.notify import Alert

    with pytest.raises(ValueError, match="recipient"):
        EmailNotifier().message(Alert(1, "email", "m", NOW, "failed"))


def test_default_router_wiring():
    """default_router() registers all four transports with zero manual
    register() calls; unknown config sections fail loudly."""
    from rearview_spark.monitors.notify import (
        CampfireNotifier,
        EmailNotifier,
        JsonlNotifier,
        PagerDutyNotifier,
        WebhookNotifier,
        default_router,
    )

    r = default_router()
    assert isinstance(r._by_prefix["email"], EmailNotifier)
    assert isinstance(r._by_prefix["pagerduty"], PagerDutyNotifier)
    assert isinstance(r._by_prefix["campfire"], CampfireNotifier)
    assert isinstance(r._by_prefix["webhook"], WebhookNotifier)
    assert isinstance(r.default, CollectingNotifier)
    # kwargs flow into the dataclasses; None opts a transport out
    r2 = default_router(
        {
            "email": {"host": "mta.internal", "sender": "rv@corp"},
            "campfire": None,
            "default": JsonlNotifier("/tmp/x.jsonl"),
        }
    )
    assert r2._by_prefix["email"].host == "mta.internal"
    assert "campfire" not in r2._by_prefix
    assert isinstance(r2.default, JsonlNotifier)
    with pytest.raises(ValueError, match="unknown config sections"):
        default_router({"slack": {}})


def test_scheduler_end_to_end_default_router_delivery(spark, store):
    """VERDICT r05 next-round #3: one scheduler tick drives
    evaluate → CAS + outbox commit → drain → REAL transports, with the
    router built by default_router() from a config dict alone (no manual
    register()). A breaching monitor routed to pagerduty: + email: keys
    lands as an Events-v2 trigger on a live local HTTP server and as an
    SMTP message on a live local SMTP server; an unknown-prefix key falls
    through to the default sink instead of failing the drain."""
    import json

    from rearview_spark.monitors.notify import default_router

    http_srv, http_port, received = _local_http_server()
    smtp_srv, smtp_port, sessions = _local_smtp_server()
    try:
        router = default_router(
            {
                "pagerduty": {"endpoint": f"http://127.0.0.1:{http_port}/v2/enqueue"},
                "email": {"host": "127.0.0.1", "port": smtp_port, "sender": "rv@example.com"},
            }
        )
        m = make_metrics(spark, {"stats.req": [200.0] * 120})  # always breaching
        store.save_monitors(
            spark.createDataFrame(
                [
                    monitor_row(
                        alert_keys=(
                            "pagerduty:SVCKEY123",
                            "email:ops@example.com",
                            "nosuch:key",
                        )
                    )
                ],
                MONITORS,
            )
        )
        sched = MonitorScheduler(spark, store, m, router)
        summary = sched.tick(NOW)
        assert summary == {"ran": 1, "alerts": 3}

        # PagerDuty leg: Events-v2 trigger on the live server
        assert len(received) == 1
        path, body, headers = received[0]
        assert path == "/v2/enqueue"
        env = json.loads(body)
        assert env["routing_key"] == "SVCKEY123"
        assert env["event_action"] == "trigger"
        assert env["dedup_key"] == "rearview-job-1"

        # email leg: real SMTP session
        assert len(sessions) == 1
        assert sessions[0]["rcpt_to"] == ["<ops@example.com>"]
        assert "Subject: [rearview] job 1 failed" in sessions[0]["data"].decode()

        # unknown prefix: observable on the default sink, drain not failed
        assert [a.key for a in router.default.sent] == ["nosuch:key"]

        # outbox fully drained — nothing owed after the tick
        assert store.pending_alerts() == []
    finally:
        http_srv.shutdown()
        http_srv.server_close()
        smtp_srv.shutdown()
        smtp_srv.server_close()


def test_robust_z_helper_in_monitor_expr(spark):
    # calm series + one spike: the stock robust alert fires; without the
    # spike it holds; a constant series (MAD=0) yields NaN -> no alert.
    calm = [10.0, 10.5, 9.5, 10.2, 9.8] * 12
    m = make_metrics(spark, {"stats.req": calm + [500.0]})
    s = spec(expr="robust_z(a).abs().max() > 3.5", minutes=61)
    out = evaluate_monitors(spark, [s], m, NOW).collect()
    assert out[0]["status"] == "failed"

    m2 = make_metrics(spark, {"stats.req": calm + [10.1]})
    assert (
        evaluate_monitors(spark, [s], m2, NOW).collect()[0]["status"] == "success"
    )

    m3 = make_metrics(spark, {"stats.req": [7.0] * 61})
    assert (
        evaluate_monitors(spark, [s], m3, NOW).collect()[0]["status"] == "success"
    )


def test_seasonal_scores_to_lifecycle_golden(spark, store):
    """Golden fires/suppresses fixture for the seasonal-MAD x lifecycle
    composition (VERDICT_r15 #7; the gate is monitor_seasonal_lifecycle).

    Hand-computed series: 8 days x 24 hourly slots, slot s baseline
    100+s, day jitter {0,1,-1,2,-2,1,-1,0} -> every slot's median is its
    baseline and MAD = 1, so |robust_z| <= 0.6745*2 = 1.349 everywhere.
    Day 6, slot 3 is replaced by 112.0 = slot 12's exact baseline — a
    value a GLOBAL robust detector calls unremarkable (asserted below)
    but that is +9 against slot 3's own history: with the outlier in
    place slot 3's median shifts to 103.5 and MAD to 1.0, so
    z = 0.6745*8.5 = 5.73 > 3.5 while every other slot-3 day stays at
    |z| <= 0.6745*2.5 = 1.69. The scores feed the REAL scheduler as
    metric seasonal.m; ticks at :30 avoid window-boundary ambiguity:
    03:30 fire -> 04:30 debounce-suppress (< error_timeout=90) ->
    05:30 re-alert (>= 90 min, anomaly still in the 180-min window) ->
    06:30 recovery (anomaly aged out)."""
    from rearview_spark.operators.anomaly import mad_anomalies, seasonal_mad_scores

    jit = [0.0, 1.0, -1.0, 2.0, -2.0, 1.0, -1.0, 0.0]
    rows = []
    for d in range(8):
        for s in range(24):
            v = 100.0 + s + jit[d]
            if d == 6 and s == 3:
                v = 112.0
            rows.append(("m", T0 + dt.timedelta(days=d, hours=s), v))
    hourly = spark.createDataFrame(rows, "metric string, ts timestamp, value double")

    anom_ts = T0 + dt.timedelta(days=6, hours=3)
    # the injected value is invisible to a global (slot-blind) robust
    # detector — that discrimination is the point of the seasonal op
    assert not [
        r for r in mad_anomalies(hourly, threshold=3.5).collect()
        if r["ts"] == anom_ts
    ]

    scores = seasonal_mad_scores(hourly, period=24).select(
        F.lit("seasonal.m").alias("metric"),
        "ts",
        F.col("robust_z").alias("value"),
    )
    by_ts = {r["ts"]: r["value"] for r in scores.collect()}
    assert by_ts[anom_ts] == pytest.approx(0.6745 * 8.5)
    assert max(abs(v) for t, v in by_ts.items() if t != anom_ts) < 3.5

    collector = CollectingNotifier()
    router = AlertRouter(default=collector)
    mon = (
        1, "seasonal", True, None, None, "* * * * *", "success", 1,
        ["email:ops@example.com"], None, 90, "seasonal z", 1,
        ["seasonal.m"], "a.abs().max() > 3.5", 180, None, T0, T0,
    )
    store.save_monitors(spark.createDataFrame([mon], MONITORS))
    sched = MonitorScheduler(spark, store, scores, router)

    base = T0 + dt.timedelta(days=6)
    assert sched.tick(base + dt.timedelta(hours=3, minutes=30))["alerts"] == 1
    assert sched.tick(base + dt.timedelta(hours=4, minutes=30))["alerts"] == 0
    assert sched.tick(base + dt.timedelta(hours=5, minutes=30))["alerts"] == 1
    assert sched.tick(base + dt.timedelta(hours=6, minutes=30))["alerts"] == 0

    assert len(collector.sent) == 2
    errors = store.read("job_errors").collect()
    assert len(errors) == 1 and errors[0]["status"] == "resolved"
    statuses = [
        r["data"]["status"]
        for r in store.read("job_data").orderBy("created_at").collect()
    ]
    assert statuses == ["failed", "failed", "failed", "success"]


# --- SCD Type-2 history maintenance --------------------------------------------

def test_scd2_from_changes_versions_and_noop_rows(spark):
    import datetime as _dt

    from rearview_spark.operators.scd import scd2_from_changes

    t = lambda m: _dt.datetime(2024, 1, 1, 0, m, 0)
    changes = spark.createDataFrame(
        [
            (1, "gold", t(0)),
            (1, "gold", t(5)),    # no-op observation: not a version
            (1, "silver", t(10)),
            (1, "gold", t(20)),   # back to gold IS a new version
            (2, "basic", t(3)),
        ],
        "k long, tier string, ts timestamp",
    )
    hist = sorted(
        (r["k"], r["tier"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None)
        for r in scd2_from_changes(changes, "k", ["tier"], "ts").collect()
    )
    assert hist == [
        (1, "gold", 0, 10),
        (1, "gold", 20, None),
        (1, "silver", 10, 20),
        (2, "basic", 3, None),
    ]


def test_scd2_merge_idempotent_and_inserts(spark):
    import datetime as _dt

    from rearview_spark.operators.scd import scd2_from_changes, scd2_merge

    t = lambda m: _dt.datetime(2024, 1, 1, 0, m, 0)
    base = spark.createDataFrame(
        [(1, "gold", t(0)), (1, "silver", t(10))], "k long, tier string, ts timestamp"
    )
    history = scd2_from_changes(base, "k", ["tier"], "ts")
    updates = spark.createDataFrame(
        [(1, "bronze", t(30)), (1, "silver", t(12)), (3, "new", t(7))],
        "k long, tier string, eff timestamp",
    )
    merged = scd2_merge(history, updates, "k", ["tier"], "eff")
    rows = sorted(
        (r["k"], r["tier"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None)
        for r in merged.collect()
    )
    assert rows == [
        (1, "bronze", 30, None),   # change applied, old current closed
        (1, "gold", 0, 10),        # closed history untouched
        (1, "silver", 10, 30),     # same-attr update at t12 was a no-op
        (3, "new", 7, None),       # new key inserted
    ]
    # replaying the SAME batch changes nothing
    again = scd2_merge(merged, updates, "k", ["tier"], "eff")
    rows2 = sorted(
        (r["k"], r["tier"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None)
        for r in again.collect()
    )
    assert rows2 == rows


def test_scd2_foreach_batch_recurrence_and_retry(spark, tmp_path):
    """Three micro-batches through the versioned-snapshot recurrence:
    the final history equals scd2_from_changes over the concatenated
    stream (no late arrivals across batches), and replaying batch 1
    (at-least-once retry) rewrites it byte-identical."""
    import datetime as _dt

    from rearview_spark.operators.scd import scd2_foreach_batch, scd2_from_changes

    t = lambda m: _dt.datetime(2024, 1, 1, 0, m, 0)
    hist_dir = str(tmp_path / "scd2")
    cb = scd2_foreach_batch(spark, hist_dir, "k", ["tier"], "eff")
    batches = [
        [(1, "gold", t(0)), (2, "basic", t(1))],
        [(1, "silver", t(10)), (3, "new", t(11))],
        [(1, "silver", t(20)), (2, "plus", t(21))],  # no-op + change
    ]
    for i, rows in enumerate(batches):
        cb(spark.createDataFrame(rows, "k long, tier string, eff timestamp"), i)

    def snap(v):
        return sorted(
            (r["k"], r["tier"], r["valid_from"].minute,
             r["valid_to"].minute if r["valid_to"] else None)
            for r in spark.read.parquet(f"{hist_dir}/v={v}").collect()
        )

    final = snap(2)
    stream = spark.createDataFrame(
        [r for b in batches for r in b], "k long, tier string, ts timestamp"
    )
    want = sorted(
        (r["k"], r["tier"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None)
        for r in scd2_from_changes(stream, "k", ["tier"], "ts").collect()
    )
    assert final == want
    # retry of batch 1 must not read its own output and must land identical
    before = snap(1)
    cb(spark.createDataFrame(batches[1], "k long, tier string, eff timestamp"), 1)
    assert snap(1) == before
