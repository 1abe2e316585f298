"""Parquet-backed persistence for the monitor tables.

The reference persists through ActiveRecord into MySQL/Postgres
(config/database.yml:1-20): job_data appends (db/schema.rb:29-36),
job_errors insert/update (:38-48), jobs.status/next_run updates (:55-62).
Our store keeps the same tables as parquet directories, with the RDBMS's
transactional properties re-created file-system-first (SURVEY.md §4.2 #4):

- **Crash-safe swap** — every overwrite writes a fresh versioned
  directory and then atomically repoints a CURRENT pointer file
  (``os.replace``); there is no window where the table is deleted but
  its replacement not yet in place (round 1's rmtree-then-rename was).
- **Version guard (CAS)** — ``overwrite(..., expect_version=)`` fails
  with ``ConcurrentWriteError`` when the table moved since the caller's
  snapshot, and the claim file (O_CREAT|O_EXCL) serializes two writers
  racing to produce the same next version.  The scheduler claims the
  monitors table first thing in a tick, so an overlapped tick aborts
  before persisting job_data or dispatching alerts — the exactly-once
  status-transition contract under concurrent ticks.
- **Append-only job_data** never mutates; ids are content-derived
  (xxhash64(job_id, scheduled_ts)) so a re-run of the same tick writes
  the same ids instead of colliding per-batch counters.

Who writes what. The config tables — ``monitors``, ``job_errors``, the
``_outbox`` of owed alerts and the ``alert_dispatches`` log — hold one row
per monitor, incident or owed alert, so the tick reads and rewrites them on
the driver with pyarrow (:meth:`JobStore.read_rows`, :func:`to_arrow`).
A Spark job costs far more in scheduling and planning than the few
kilobytes such a read or write moves, and the dispatch log alone would
take one job per alert. Spark writes the data plane — ``job_data``
appends, whose rows carry every monitor's graph series — and any
caller-supplied DataFrame. Both writers produce the same layout (parquet
part files under the same version dirs), so ``read()`` and every
dashboard Spark read see one table either way, and stores written before
the split stay readable (Spark's INT96 timestamps included).

One commit per tick. ``job_errors`` and the outbox are the
``_job_errors`` and ``_outbox`` sidecars of the monitors version, so ONE
claim and ONE ``CURRENT`` flip commit a tick's status changes, incidents
and owed alerts — the one transaction the reference wraps them in. A
commit not given incidents or alerts carries the current ones forward,
so a user's monitor edit drops neither. A store written before
``_job_errors`` existed serves its old ``job_errors`` table until the
first commit carries it in.

The mechanism is split generic-core / typed-store: the schema-agnostic
:class:`VersionedParquetTables` is the parquet implementation of the
``rearview_spark.sources.table_format`` contract (whose module docstring
maps it onto a transactional table format); :class:`JobStore` adds the
monitor schemas and the reference's typed operations on top.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from rearview_spark.monitors import schemas

_TS = T.TimestampType()


def to_arrow(rows: list[dict], schema: T.StructType) -> pa.Table:
    """Driver rows (dicts, as :meth:`JobStore.read_rows` returns them) as
    an Arrow table that Spark reads back exactly as it would read
    ``createDataFrame(rows, schema)`` written by Spark. Timestamps go
    through pyspark's own conversion, so a naive datetime means the same
    instant here as in ``createDataFrame``, and are stored as UTC
    microseconds (parquet ``TIMESTAMP(MICROS, UTC)``, Spark's
    ``TimestampType``)."""
    cols = {}
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        if not f.nullable and any(v is None for v in vals):
            raise ValueError(f"{f.name}: None in a non-nullable field")
        if isinstance(f.dataType, T.TimestampType):
            micros = pa.array([_TS.toInternal(v) for v in vals], pa.int64())
            cols[f.name] = micros.cast(pa.timestamp("us", tz="UTC"))
        else:
            cols[f.name] = pa.array(vals, to_arrow_type(f.dataType))
    return pa.table(cols)


def _rows(table: pa.Table, schema: T.StructType) -> list[dict]:
    """Arrow table -> dicts equal to ``[r.asDict() for r in collect()]``
    under ``schema``. Timestamps of either writer (Spark's INT96 ns,
    Arrow's UTC micros) become UTC micros and then pyspark's naive
    local-time datetimes."""
    cols = []
    for f in schema.fields:
        col = table.column(f.name)
        if isinstance(f.dataType, T.TimestampType):
            micros = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
            cols.append([_TS.fromInternal(v) for v in micros.to_pylist()])
        elif isinstance(f.dataType, T.MapType):
            cols.append([None if v is None else dict(v) for v in col.to_pylist()])
        else:
            cols.append(col.to_pylist())
    names = schema.fieldNames()
    return [dict(zip(names, vals)) for vals in zip(*cols)]


def _write_arrow(table: pa.Table, dir_path: Path) -> None:
    """One part file into ``dir_path``, staged under a dot name (hidden
    from Spark and pyarrow readers) and renamed in: a reader never sees a
    half-written file."""
    dir_path.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = dir_path / f".{name}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, dir_path / name)


def _write_version(data: DataFrame | pa.Table, dir_path: Path) -> None:
    if isinstance(data, pa.Table):
        _write_arrow(data, dir_path)
    else:
        data.write.mode("overwrite").parquet(str(dir_path))


def _parquet_files(path: Path | None) -> pads.Dataset | None:
    """The parquet files under ``path`` (``.``/``_``-prefixed names —
    sidecars, markers, temp files — skipped), or None when there are
    none."""
    if path is None or not path.exists():
        return None
    files = pads.dataset(path, format="parquet")
    return files if files.files else None


def _read_rows(path: Path | None, schema: T.StructType) -> list[dict]:
    files = _parquet_files(path)
    return [] if files is None else _rows(files.to_table(), schema)


class ConcurrentWriteError(RuntimeError):
    """The table version moved past the caller's snapshot (lost-update
    guard), or another writer claimed the same next version."""


class VersionedParquetTables:
    """Schema-agnostic core of the versioned-parquet mechanism: the
    CURRENT-pointer swap, O_EXCL claim/CAS, TTL orphan reclaim, staging
    dirs, sidecars, and pruning documented in the module docstring.
    This is the parquet implementation of the transactional-table
    contract (`rearview_spark.sources.table_format.TableFormat`); every
    crash/replay test that drives :class:`JobStore` exercises exactly
    this class's machinery."""

    def __init__(self, spark: SparkSession, root: str, claim_ttl_s: float = 60.0):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # A claim file older than this with CURRENT still below its version
        # is treated as a hard-crashed writer's orphan and reclaimed. The
        # TTL protects a LIVE writer mid-write (config tables write in
        # seconds); tests set 0 to exercise the reclaim path directly.
        self.claim_ttl_s = claim_ttl_s

    # -- versioned table layout ---------------------------------------------
    #
    # root/<table>.versions/v00000003/   <- parquet data, one dir per version
    # root/<table>.versions/v00000003.claim  <- writer's exclusive claim
    # root/<table>.CURRENT               <- pointer file, atomically replaced
    # root/<table>/                      <- legacy unversioned dir (read-only
    #                                       fallback, version 0)

    def _versions_dir(self, table: str) -> Path:
        return self.root / f"{table}.versions"

    def _pointer(self, table: str) -> Path:
        return self.root / f"{table}.CURRENT"

    def _legacy_path(self, table: str) -> Path:
        return self.root / table

    def current_version(self, table: str) -> tuple[int, Path | None]:
        """(version number, data path) of the table's current contents.
        0/None means empty; 0/path means a legacy unversioned dir."""
        ptr = self._pointer(table)
        if ptr.exists():
            vname = ptr.read_text().strip()
            return int(vname[1:]), self._versions_dir(table) / vname
        legacy = self._legacy_path(table)
        if legacy.exists() and any(legacy.iterdir()):
            return 0, legacy
        return 0, None

    def read_table(self, table: str, schema) -> DataFrame:
        """Current snapshot under an explicit schema (empty frame when
        the table has never been written)."""
        _, path = self.current_version(table)
        if path is None:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(str(path))

    def append(
        self, table: str, df: DataFrame | pa.Table, partition_by: tuple = ()
    ) -> None:
        # Appends target the legacy dir: part-file names are unique per
        # write, so concurrent appends are additive (never lost), and
        # versioned overwrite is reserved for the mutable config tables.
        # ``partition_by`` serves partition-pruned append-only stores
        # (the incremental-dedup pfx= layout); an Arrow table is one
        # driver-written part file, unpartitioned.
        if isinstance(df, pa.Table):
            if partition_by:
                raise ValueError("partition_by needs a Spark DataFrame")
            _write_arrow(df, self._legacy_path(table))
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(self._legacy_path(table)))

    def _claim(self, table: str, vdir: Path, vname: Path, nxt: int, token: str) -> Path:
        """Take the O_EXCL claim for version ``nxt`` and record ``token``
        (the fencing identity) inside it; on conflict, reclaim a
        hard-crashed writer's orphan (claim older than ``claim_ttl_s``
        with CURRENT still below ``nxt`` — a live writer finishes its
        config-scale write well inside the TTL) and retry once."""
        import time

        claim = vdir / f"{vname.name}.claim"
        for attempt in (0, 1):
            try:
                fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                    os.fsync(fd)
                finally:
                    os.close(fd)
                return claim
            except FileExistsError:
                cur_now, _ = self.current_version(table)
                try:
                    age = time.time() - claim.stat().st_mtime
                except FileNotFoundError:
                    continue  # owner just released it; retry the claim
                if attempt == 0 and cur_now < nxt and age >= self.claim_ttl_s:
                    # orphan: the claimer died between claim and pointer
                    # swap. Remove its published-name dir, any stranded
                    # writer staging dirs for this version, and the claim,
                    # then retry. If the "orphan" is actually a live-but-
                    # stalled writer, the token it wrote into the claim is
                    # now gone, so its pre-publish fencing check fails and
                    # it aborts instead of racing us (ADVICE r04 #1).
                    shutil.rmtree(vname, ignore_errors=True)
                    for stranded in vdir.glob(f"{vname.name}.w-*"):
                        shutil.rmtree(stranded, ignore_errors=True)
                    claim.unlink(missing_ok=True)
                    continue
                raise ConcurrentWriteError(
                    f"{table}: version {nxt} already claimed by another writer"
                ) from None
        raise ConcurrentWriteError(f"{table}: could not claim version {nxt}")

    def _owns_claim(self, claim: Path, token: str) -> bool:
        try:
            return claim.read_text() == token
        except FileNotFoundError:
            return False

    def overwrite(
        self,
        table: str,
        df: DataFrame | pa.Table,
        expect_version: int | None = None,
        sidecars: dict[str, DataFrame | pa.Table] | None = None,
    ) -> int:
        """Atomic versioned swap; returns the new version number.

        ``df`` and each sidecar are a Spark DataFrame (written by Spark)
        or a driver-built ``pyarrow.Table`` (written by pyarrow, no Spark
        job); either lands as parquet part files in the same staging dir,
        so claim, CAS, fencing, pointer flip and prune do not depend on
        which writer produced the data.

        With ``expect_version`` this is a compare-and-swap: it fails if
        the table has moved since the caller read that version, and the
        O_EXCL claim file closes the race of two writers who both saw
        the same current version.

        ``sidecars`` maps underscore-prefixed subdir names to frames
        written INSIDE the new version dir before the pointer swap — the
        pointer flip commits table + sidecars atomically together (the
        underscore prefix hides them from the table's own parquet read).
        :class:`JobStore` commits job_errors and the pending-alert outbox
        this way, in the same write as the monitor rows.
        """
        cur, _ = self.current_version(table)
        if expect_version is not None and cur != expect_version:
            raise ConcurrentWriteError(
                f"{table}: version moved {expect_version} -> {cur}"
            )
        nxt = cur + 1
        vname_s = f"v{nxt:08d}"
        vdir = self._versions_dir(table)
        vdir.mkdir(exist_ok=True)
        token = uuid.uuid4().hex
        claim = self._claim(table, vdir, vdir / vname_s, nxt, token)
        # Each writer stages into its OWN token-suffixed dir — two writers
        # can never interleave part files in one directory, even across a
        # TTL reclaim (ADVICE r04 #1: the old shared-dir write could
        # publish a mix of two writers' files). The stem still parses as
        # version ``nxt``, so _prune collects abandoned staging dirs.
        wdir = vdir / f"{vname_s}.w-{token}"
        tmp = self.root / f".{table}.CURRENT.{uuid.uuid4().hex}"
        published = False
        try:
            _write_version(df, wdir)
            for sub, sdf in (sidecars or {}).items():
                assert sub.startswith("_"), "sidecar dirs must be underscore-hidden"
                _write_version(sdf, wdir / sub)
            # Fencing: re-verify we still own the claim IMMEDIATELY before
            # publishing. A reclaimer that stole the claim (TTL expiry
            # during a stalled write) deleted/replaced the claim file, so
            # the token no longer matches and we abort rather than
            # double-publish version ``nxt``.
            if not self._owns_claim(claim, token):
                raise ConcurrentWriteError(
                    f"{table}: claim for version {nxt} was reclaimed by another "
                    "writer during a stalled write; aborting publish"
                )
            os.rename(wdir, vdir / vname_s)  # fails if the thief published first
            published = True
            tmp.write_text(vname_s)
            # Re-verify ownership once more between the rename and the
            # pointer flip: a TTL reclaimer firing in that gap rmtrees the
            # just-renamed vname dir, and flipping CURRENT afterwards would
            # point at deleted/being-rewritten data (ADVICE r05 #2). This
            # shrinks the window to the single os.replace syscall; the
            # residual race is inherent to TTL-based file locking — a
            # reclaimer can always fire between any check and the flip.
            # Deployments must set claim_ttl_s >> worst-case publish time.
            if not self._owns_claim(claim, token):
                raise ConcurrentWriteError(
                    f"{table}: claim for version {nxt} was reclaimed between "
                    "publish and pointer flip; aborting"
                )
            os.replace(tmp, self._pointer(table))  # atomic on POSIX
        except BaseException:
            # A claim whose write never advanced CURRENT would wedge the
            # table: every later overwrite computes the same next version
            # and hits the O_EXCL claim forever (ADVICE r02).  Release the
            # claim, drop the staging/version dirs, and clear the temp
            # pointer so the next attempt can re-claim litter-free — but
            # ONLY what this writer still owns: after a claim theft the
            # published-name dir and the claim belong to the thief.
            shutil.rmtree(wdir, ignore_errors=True)
            tmp.unlink(missing_ok=True)
            if self._owns_claim(claim, token):
                if published:
                    shutil.rmtree(vdir / vname_s, ignore_errors=True)
                claim.unlink(missing_ok=True)
            raise
        self._prune(table, keep_from=nxt - 1)
        return nxt

    def _prune(self, table: str, keep_from: int) -> None:
        """Drop versions older than the previous one (kept for readers
        holding the prior snapshot) and the legacy dir once versioned."""
        vdir = self._versions_dir(table)
        for p in vdir.iterdir():
            stem = p.name.split(".")[0]
            if stem.startswith("v") and stem[1:].isdigit() and int(stem[1:]) < keep_from:
                shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
        legacy = self._legacy_path(table)
        if legacy.exists() and self._pointer(table).exists():
            shutil.rmtree(legacy, ignore_errors=True)


class JobStore(VersionedParquetTables):
    """Monitor-table persistence: the generic versioned core plus the
    schema map and the reference's typed operations (the monitors commit
    with its ``_job_errors`` and ``_outbox`` sidecars, job_data appends,
    dispatch log)."""

    SCHEMAS = {
        "monitors": schemas.MONITORS,
        "job_data": schemas.JOB_DATA,
        "job_errors": schemas.JOB_ERRORS,
        "_outbox": schemas.ALERT_OUTBOX,
        "applications": schemas.APPLICATIONS,
        "users": schemas.USERS,
    }
    # tables committed inside the monitors version -> their sidecar dir
    SIDECARS = {"job_errors": "_job_errors", "_outbox": "_outbox"}

    def current_version(self, table: str) -> tuple[int, Path | None]:
        """A sidecar table's version is the monitors version holding it;
        without the sidecar (an older store), the table's own."""
        sub = self.SIDECARS.get(table)
        if sub is not None:
            version, path = super().current_version("monitors")
            if path is not None and (path / sub).exists():
                return version, path / sub
        return super().current_version(table)

    def read(self, table: str) -> DataFrame:
        return self.read_table(table, self.SCHEMAS[table])

    def read_rows(self, table: str) -> list[dict]:
        """A config table's current rows on the driver, read with pyarrow;
        equal to ``[r.asDict() for r in read(table).collect()]``.
        ``job_data`` is fact-scale and stays a Spark read."""
        if table == "job_data":
            raise ValueError("job_data is fact-scale: read it with read()")
        return _read_rows(self.current_version(table)[1], self.SCHEMAS[table])

    def overwrite(
        self,
        table: str,
        df: DataFrame | pa.Table,
        expect_version: int | None = None,
        sidecars: dict[str, DataFrame | pa.Table] | None = None,
    ) -> int:
        """As :meth:`VersionedParquetTables.overwrite`. Writing
        ``job_errors`` commits a new monitors version with the current
        monitor rows. A monitors commit carries forward each sidecar it
        is not given: the current ``_job_errors``, and the ``_outbox``
        rows not yet dispatched."""
        if table == "job_errors":
            sidecars = {"_job_errors": df}
            table, df = "monitors", to_arrow(self.read_rows("monitors"), schemas.MONITORS)
        if table == "monitors":
            sidecars = dict(sidecars or {})
            if "_job_errors" not in sidecars:
                sidecars["_job_errors"] = to_arrow(
                    self.read_rows("job_errors"), schemas.JOB_ERRORS
                )
            if "_outbox" not in sidecars:
                sidecars["_outbox"] = to_arrow(self._pending(), schemas.ALERT_OUTBOX)
        return super().overwrite(table, df, expect_version, sidecars)

    # -- typed operations ---------------------------------------------------

    def save_monitors(
        self,
        df: DataFrame | pa.Table,
        expect_version: int | None = None,
        outbox: list[dict] | None = None,
        job_errors: list[dict] | None = None,
    ) -> int:
        """Commit a monitors version: the monitor rows, the ``job_errors``
        rows (the current ones when ``job_errors`` is None) and the
        ``outbox`` rows, all in ONE pointer flip — status transitions,
        incidents and the alerts they owe become visible atomically
        together.

        Still-undispatched rows from the PREVIOUS version's outbox are
        always carried forward into the new sidecar (union, deduped by
        deterministic id). Without this, any save_monitors call between a
        crash and the next tick's opening drain — e.g. a user registering
        a monitor — would silently discard the owed alerts, and the
        at-least-once guarantee would hold only if the scheduler were the
        sole writer (ADVICE r04 #2)."""
        owed = {r["id"]: r for r in self._pending()}
        for r in outbox or ():
            owed.setdefault(r["id"], r)
        sidecars = {"_outbox": to_arrow(list(owed.values()), schemas.ALERT_OUTBOX)}
        if job_errors is not None:
            sidecars["_job_errors"] = to_arrow(job_errors, schemas.JOB_ERRORS)
        return self.overwrite("monitors", df, expect_version, sidecars)

    def pending_alerts(self) -> list[dict]:
        """Outbox rows not yet marked dispatched, oldest first."""
        return sorted(self._pending(), key=lambda r: (r["fired_at"], r["id"]))

    def _pending(self) -> list[dict]:
        outbox = self.read_rows("_outbox")
        if not outbox:
            return []
        done = self._dispatched_ids()
        pending = {}
        for r in outbox:
            if r["id"] not in done:
                pending.setdefault(r["id"], r)
        return list(pending.values())

    def _dispatched_ids(self) -> set[int]:
        # Only the id column: files written by Spark (INT96 timestamps) and
        # by pyarrow (UTC micros) differ in their dispatched_at type.
        files = _parquet_files(self._legacy_path("alert_dispatches"))
        if files is None:
            return set()
        return set(files.to_table(columns=["id"]).column("id").to_pylist())

    def mark_alert_dispatched(self, alert_id: int, now: dt.datetime) -> None:
        """Append one dispatch-log row: a single driver-written file,
        renamed into place, so marking costs no Spark job."""
        self.append(
            "alert_dispatches",
            to_arrow([{"id": alert_id, "dispatched_at": now}], schemas.ALERT_DISPATCHES),
        )

    def append_job_data(self, run_results: DataFrame, now: dt.datetime) -> None:
        """Materialize run results as job_data rows (R12/S8).

        ``id`` is xxhash64(job_id, scheduled_ts): unique per (job, tick)
        and *deterministic*, so an idempotent re-run of a tick reproduces
        the same ids (round 1's monotonically_increasing_id restarted per
        batch and collided across ticks, ADVICE r01)."""
        from pyspark.sql import functions as F

        rows = run_results.select(
            F.xxhash64(F.col("job_id"), F.col("scheduled_ts")).alias("id"),
            F.col("job_id"),
            F.lit(now).alias("created_at"),
            F.lit(now).alias("updated_at"),
            F.struct(
                F.col("status"),
                F.col("output"),
                F.col("graph_data"),
            ).alias("data"),
        )
        self.append("job_data", rows)
