"""The monitor scheduler: cron-driven evaluation loop (SURVEY.md §3.1).

Reference lifecycle per tick (reconstructed from Rakefile:4-7 preload,
celluloid timer actors Gemfile.lock:160, jobs.next_run/last_run
db/schema.rb:55,62):

  select due jobs (R7) -> compute/persist next_run -> fetch windows ->
  evaluate -> persist job_data -> status transition + debounce ->
  open/close job_errors -> fan out alerts.

This class drives the same steps split into a data plane and a control
plane. Spark runs the data plane: evaluation of every due monitor
(``evaluate_monitors``), the tick's one summary collect, and the job_data
append that carries the graph series. The driver runs the control plane
with pyarrow: the due-monitor read, the tick's one commit (the monitors
swap with its job_errors and alert-outbox sidecars, see ``store.py``)
and the dispatch log are config-scale, so they cost no Spark job. A tick
with nothing due and nothing owed launches no Spark job at all. Time is
injected (``tick(now)``) so golden tests and backtests replay
deterministically — the same mechanism serves the reference's `to_date`
historical runs (db/schema.rb:68).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from rearview_spark.monitors.cron import next_fire
from rearview_spark.monitors.evaluate import MonitorSpec, evaluate_monitors
from rearview_spark.monitors.lifecycle import RESOLVED, TRIGGERED, transition
from rearview_spark.monitors.notify import AlertRouter
from rearview_spark.monitors.schemas import MONITORS
from rearview_spark.monitors.store import JobStore, to_arrow


class MonitorScheduler:
    def __init__(
        self,
        spark: SparkSession,
        store: JobStore,
        metrics: DataFrame,
        router: AlertRouter | None = None,
    ):
        self.spark = spark
        self.store = store
        self.metrics = metrics
        self.router = router or AlertRouter()

    # -- due-job selection (R2/R6/R7 access paths) --------------------------

    def due_monitors(self, now: dt.datetime) -> list[dict]:
        return [
            m
            for m in self.store.read_rows("monitors")
            if m["active"]
            and m["deleted_at"] is None
            and (m["next_run"] is None or m["next_run"] <= now)
        ]

    # -- one tick -----------------------------------------------------------

    def tick(self, now: dt.datetime) -> dict:
        """Run all due monitors once. Returns a summary dict.

        Exactly-once under overlapping ticks: the monitors-table version
        is snapshotted with the due list and the open incidents, and
        every persist/dispatch happens only AFTER the compare-and-swap on
        that version succeeds (``_apply_results``).  A second tick
        computed from the same snapshot fails the CAS with
        ``ConcurrentWriteError`` before it appends job_data or sends any
        alert — its work is discarded whole, never half-applied.

        Crash contract: the tick commits once. Its monitor rows,
        job_errors rows and owed alerts ride ONE monitors pointer flip,
        so a process death leaves all or none of them. A death after the
        commit leaves the owed alerts in the outbox (each is marked in
        the dispatch log after its send); the next tick's opening drain
        delivers them, re-sending only the unmarked tail. A death before
        the job_data append loses that row: ``next_run`` has advanced.

        Result-sink shape (the 10^5-monitor question): the collect below
        pulls ONE summary row per due monitor — job id, status and
        message, never the series data. The tick caches the evaluation
        result, so the collect and the job_data write share one
        evaluation; the series data stays in that cache, lands in job_data
        via the Spark writer and is released when the tick ends. The
        config tables the tick then rewrites (monitors, job_errors, the
        outbox) are read and committed on the driver with pyarrow. That
        makes the tick's driver traffic O(active monitors), ~100 B/row:
        10^5 due monitors collect ~10 MB and iterate a trivial Python
        loop, comfortably inside one driver. The scale-out past that is
        sharding ticks by ``pmod(monitor_id, n_shards)`` (each shard an
        independent scheduler over a disjoint config slice — the CAS key
        is per-table, so give each shard its own store prefix), NOT a
        foreachBatch rewrite: transitions need read-your-writes against
        the open-error table inside one commit, which a streaming sink
        can't give without re-introducing the same per-shard serial
        point.
        """
        # drain alerts stranded by a predecessor that died mid-dispatch
        stranded = self._drain_outbox()
        monitors_version, _ = self.store.current_version("monitors")
        due = self.due_monitors(now)
        if not due:
            return {"ran": 0, "alerts": stranded}
        # read after the version snapshot, before evaluation: a commit in
        # between moves the version and fails this tick's CAS
        errors = self.store.read_rows("job_errors")

        specs = [MonitorSpec.from_row(r) for r in due]
        results = evaluate_monitors(self.spark, specs, self.metrics, now).cache()
        try:
            by_id = {
                r["job_id"]: r
                for r in results.select("job_id", "status", "message").collect()
            }
            self._apply_results(due, errors, by_id, results, monitors_version, now)
        finally:
            # the evaluation result is cached for the collect above and
            # the job_data write; holding it past the tick would pin one
            # cached relation per tick for the life of the scheduler
            results.unpersist()
        n_alerts = self._drain_outbox()
        return {"ran": len(due), "alerts": n_alerts + stranded}

    def _apply_results(
        self,
        due: list[dict],
        errors: list[dict],
        by_id: dict,
        results: DataFrame,
        monitors_version: int,
        now: dt.datetime,
    ) -> None:
        """Status transitions + debounce (S4/S5) on the driver — the due
        list is config-scale and the heavy work already ran in Spark —
        then the tick's one CAS-gated commit and its job_data append."""
        open_errors = {r["job_id"]: r for r in errors if r["status"] == TRIGGERED}
        new_error_rows: list[dict] = []
        closed_job_ids: set[int] = set()
        updated_monitors: list[dict] = []
        deferred_alerts: list[tuple] = []
        next_error_id = max((r["id"] for r in errors), default=0) + 1

        for mon in due:
            res = by_id.get(mon["id"])
            if res is None:
                continue
            prev_alerted = None
            if mon["id"] in open_errors:
                prev_alerted = open_errors[mon["id"]]["last_alerted_at"]
            tr = transition(
                mon["status"], prev_alerted, res["status"], now, mon["error_timeout"] or 0
            )
            if tr.incident == "open" or (
                tr.new_status in ("failed", "error") and mon["id"] not in open_errors
            ):
                new_error_rows.append(
                    {
                        "id": next_error_id, "job_id": mon["id"],
                        "created_at": now, "updated_at": now,
                        "message": res["message"], "status": TRIGGERED,
                        "last_alerted_at": now if tr.should_alert else None,
                    }
                )
                next_error_id += 1
            elif tr.incident == "close":
                closed_job_ids.add(mon["id"])
            elif tr.new_status in ("failed", "error") and tr.should_alert:
                # re-alert on an already-open incident: bump last_alerted_at
                open_errors[mon["id"]]["last_alerted_at"] = now
                open_errors[mon["id"]]["updated_at"] = now

            if tr.should_alert:
                deferred_alerts.append(
                    (mon["id"], mon["alert_keys"], res["message"] or "", tr.new_status)
                )

            mon = dict(mon)
            mon["status"] = tr.new_status
            mon["last_run"] = now
            if mon["cron_expr"]:
                mon["next_run"] = next_fire(mon["cron_expr"], now)
            updated_monitors.append(mon)

        # CAS gate: the monitors swap is the tick's serialization point.
        # An overlapped tick that computed from the same snapshot raises
        # ConcurrentWriteError HERE — before any job_data row is appended
        # or any alert leaves the process. The incidents and the owed
        # alerts ride the same pointer flip as sidecars, so from this
        # commit onward they survive a crash together with the statuses.
        ids = {m["id"] for m in updated_monitors}
        monitors = [m for m in self.store.read_rows("monitors") if m["id"] not in ids]
        self.store.save_monitors(
            to_arrow(monitors + updated_monitors, MONITORS),
            expect_version=monitors_version,
            outbox=self._outbox_rows(deferred_alerts, now),
            job_errors=self._merge_errors(
                errors, open_errors, new_error_rows, closed_job_ids, now
            ),
        )
        self.store.append_job_data(results, now)  # persist job_data (S8)

    # -- outbox (at-least-once alert delivery) ------------------------------

    @staticmethod
    def _alert_id(job_id: int, fired_at: dt.datetime) -> int:
        """Deterministic 63-bit id: a tick re-run after a crash writes the
        SAME ids, so duplicated outbox rows collapse in the drain's dedup
        and an alert marked dispatched is never re-sent."""
        import hashlib

        h = hashlib.md5(f"{job_id}|{fired_at.isoformat()}".encode()).digest()
        return int.from_bytes(h[:8], "big") >> 1

    def _outbox_rows(self, deferred_alerts: list[tuple], now: dt.datetime) -> list[dict]:
        return [
            {
                "id": self._alert_id(job_id, now), "job_id": job_id,
                "alert_keys": alert_keys, "message": message,
                "status": new_status, "fired_at": now,
            }
            for job_id, alert_keys, message, new_status in deferred_alerts
        ]

    def _drain_outbox(self) -> int:
        """Dispatch every pending outbox alert, marking each in the
        dispatch log AFTER its send — a crash mid-drain redelivers only
        the unsent tail on the next tick."""
        n = 0
        for row in self.store.pending_alerts():
            n += self.router.dispatch(
                row["job_id"], row["alert_keys"], row["message"],
                row["fired_at"], row["status"],
            )
            self.store.mark_alert_dispatched(row["id"], row["fired_at"])
        return n

    # -- job_errors merge ----------------------------------------------------

    @staticmethod
    def _merge_errors(
        current: list[dict],
        open_errors: dict[int, dict],
        new_rows: list[dict],
        closed_job_ids: set[int],
        now: dt.datetime,
    ) -> list[dict]:
        """The job_errors rows after this tick: closed incidents resolved,
        re-alerted ones bumped, new ones appended."""
        rows = []
        for d in current:
            if d["status"] == TRIGGERED and d["job_id"] in closed_job_ids:
                d = {**d, "status": RESOLVED, "updated_at": now}
            elif d["status"] == TRIGGERED and d["job_id"] in open_errors:
                d = open_errors[d["job_id"]]
            rows.append(d)
        return rows + new_rows

    # -- simulated run loop (tests / backtest) ------------------------------

    def run_between(self, start: dt.datetime, end: dt.datetime, step_minutes: int = 1) -> list[dict]:
        """Advance simulated time, ticking at each step — deterministic
        replay for goldens and `to_date` backtests."""
        out = []
        t = start
        while t <= end:
            out.append(self.tick(t))
            t += dt.timedelta(minutes=step_minutes)
        return out
