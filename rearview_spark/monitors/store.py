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

Config tables are dimension-scale: full rewrite per tick is bounded and
cheap.

**Control and config tables on the driver.** The alert outbox sidecar,
the ``alert_dispatches`` log and ``job_errors`` are born on the driver
(the tick builds their rows in Python) and consumed there (the drain and
the lifecycle loop iterate them). The tick also reads the monitors table
for its due list and swaps in the updated rows. These tables hold tens
to thousands of rows, and through Spark each read or write would cost a
job or more (schedule, scan, collect) for a few kilobytes of I/O. In the
tick their files are read and written with pyarrow instead
(:func:`arrow_table`, :func:`arrow_rows`, :meth:`JobStore.read_arrow`),
under the declared schemas (``pyspark.sql.pandas.types.to_arrow_schema``,
timestamps ``timestamp[us, UTC]``), so ``JobStore.read`` and the
dashboards keep reading the same files through Spark, and files Spark
wrote (INT96 timestamps) still read on the driver. The data plane —
window fetch, evaluation and job_data — stays on Spark, and so do the
monitors-table writes users make with ``save_monitors(DataFrame)``.

The mechanism is split generic-core / typed-store: the schema-agnostic
:class:`VersionedParquetTables` is the parquet implementation behind
``rearview_spark.sources.table_format`` (the single place the
Delta/Iceberg deployment swap is documented); :class:`JobStore` adds the
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
from pyspark.sql.pandas.types import to_arrow_schema

from rearview_spark.monitors import schemas


def arrow_table(rows, schema: T.StructType) -> pa.Table:
    """Driver rows (tuples, dicts or Rows of a flat schema) as an Arrow
    table under ``schema``. Values convert exactly as
    ``spark.createDataFrame`` converts them (``toInternal``: a naive
    datetime is local wall-clock time), so a file written here reads
    back through Spark as the rows a Spark write would have stored."""
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    cols = list(zip(*internal)) if internal else [()] * len(arrow)
    return pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def arrow_rows(table: pa.Table, schema: T.StructType) -> list:
    """Rows of an Arrow table under ``schema``, as Spark's ``collect``
    returns them (``fromInternal``: timestamps back to naive local)."""
    cols = [
        table.column(f.name).cast(pa.int64()).to_pylist()
        if isinstance(f.dataType, T.TimestampType)
        else table.column(f.name).to_pylist()
        for f in schema.fields
    ]
    return [schema.fromInternal(t) for t in zip(*cols)]


def read_arrow(path: Path, schema: T.StructType) -> pa.Table:
    """A parquet directory read on the driver, cast to ``schema``. Files
    starting with ``.`` or ``_`` are skipped, as Spark skips them; files
    Spark wrote (INT96 timestamps, ``element``-named lists) cast to the
    declared types file by file."""
    arrow = to_arrow_schema(schema)
    if not path.exists():
        return arrow.empty_table()
    return pads.dataset(str(path), schema=arrow, format="parquet").to_table()


class ConcurrentWriteError(RuntimeError):
    """The table version moved past the caller's snapshot (lost-update
    guard), or another writer claimed the same next version."""


def _write(payload: DataFrame | pa.Table, path: Path) -> None:
    if isinstance(payload, pa.Table):
        path.mkdir(parents=True)
        pq.write_table(payload, path / "part-00000.parquet")
    else:
        payload.write.mode("overwrite").parquet(str(path))


class VersionedParquetTables:
    """Schema-agnostic core of the versioned-parquet mechanism: the
    CURRENT-pointer swap, O_EXCL claim/CAS, TTL orphan reclaim, staging
    dirs, sidecars, and pruning documented in the module docstring.
    This is the in-sandbox implementation of the transactional-table
    contract (`rearview_spark.sources.table_format.TableFormat`) — the
    one place the Delta/Iceberg deployment boundary is named; every
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

    def append(self, table: str, df: DataFrame, partition_by: tuple = ()) -> None:
        # Appends target the legacy dir: Spark part-file names are unique
        # per write, so concurrent appends are additive (never lost), and
        # versioned overwrite is reserved for the mutable config tables.
        # ``partition_by`` serves partition-pruned append-only stores
        # (the incremental-dedup pfx= layout).
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

        The payload and each sidecar are a Spark DataFrame (written by a
        Spark job) or a ``pyarrow.Table`` (written by the driver as one
        parquet file); either way they land in the same staging dir and
        commit through the same claim and pointer flip.

        With ``expect_version`` this is a compare-and-swap: it fails if
        the table has moved since the caller read that version, and the
        O_EXCL claim file closes the race of two writers who both saw
        the same current version.

        ``sidecars`` maps underscore-prefixed subdir names to frames
        written INSIDE the new version dir before the pointer swap — the
        pointer flip commits table + sidecars atomically together (the
        underscore prefix hides them from the table's own parquet read).
        The scheduler uses this to make the pending-alert outbox part of
        the same committed write as the status transitions.
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
            _write(df, wdir)
            for sub, sdf in (sidecars or {}).items():
                assert sub.startswith("_"), "sidecar dirs must be underscore-hidden"
                _write(sdf, wdir / sub)
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
    schema map and the reference's typed operations (save_monitors with
    the atomic outbox sidecar, job_data appends, dispatch log)."""

    SCHEMAS = {
        "monitors": schemas.MONITORS,
        "job_data": schemas.JOB_DATA,
        "job_errors": schemas.JOB_ERRORS,
        "applications": schemas.APPLICATIONS,
        "users": schemas.USERS,
    }

    def read(self, table: str) -> DataFrame:
        return self.read_table(table, self.SCHEMAS[table])

    def read_arrow(self, table: str) -> pa.Table:
        """The current snapshot as an Arrow table, read without Spark
        (empty when the table has never been written)."""
        _, path = self.current_version(table)
        schema = self.SCHEMAS[table]
        if path is None:
            return to_arrow_schema(schema).empty_table()
        return read_arrow(path, schema)

    def read_rows(self, table: str) -> list:
        """The current snapshot as driver rows, read without Spark — for
        the control tables the tick consumes on the driver."""
        return arrow_rows(self.read_arrow(table), self.SCHEMAS[table])

    # -- typed operations ---------------------------------------------------

    def save_monitors(
        self,
        df: DataFrame | pa.Table,
        expect_version: int | None = None,
        outbox: DataFrame | pa.Table | None = None,
    ) -> int:
        """Swap the monitors table; when ``outbox`` is given, its rows are
        committed in the SAME pointer flip (sidecar ``_outbox``) — the
        status transitions and the alerts they owe become visible
        atomically together. ``df`` is a user's DataFrame (a Spark write)
        or the scheduler's merged ``pyarrow.Table`` (a driver write);
        both go through the same claim, CAS and pointer flip.

        Still-undispatched rows from the PREVIOUS version's outbox are
        always carried forward into the new sidecar (union, deduped by
        deterministic id). Without this, any save_monitors call between a
        crash and the next tick's opening drain — e.g. a user registering
        a monitor — would silently discard the owed alerts, and the
        at-least-once guarantee would hold only if the scheduler were the
        sole writer. With nothing owed, no sidecar is written."""
        if isinstance(outbox, DataFrame):
            rows = outbox.select(schemas.ALERT_OUTBOX.fieldNames()).collect()
            outbox = arrow_table(rows, schemas.ALERT_OUTBOX)
        owed = self.read_outbox()
        if outbox is not None:
            owed = pa.concat_tables([owed, outbox])
        owed = self._undispatched(owed)
        sidecars = {"_outbox": owed} if owed.num_rows else None
        return self.overwrite("monitors", df, expect_version, sidecars=sidecars)

    def read_outbox(self) -> pa.Table:
        """The current monitors version's alert outbox, read on the
        driver (empty when the version carried none)."""
        _, path = self.current_version("monitors")
        if path is None:
            return to_arrow_schema(schemas.ALERT_OUTBOX).empty_table()
        return read_arrow(path / "_outbox", schemas.ALERT_OUTBOX)

    def _undispatched(self, outbox: pa.Table) -> pa.Table:
        """``outbox`` minus the ids in the dispatch log, first row per id
        (ids are deterministic, so duplicates are re-runs of one alert)."""
        if not outbox.num_rows:
            return outbox
        seen = set(
            read_arrow(self._legacy_path("alert_dispatches"), schemas.ALERT_DISPATCHES)
            .column("id").to_pylist()
        )
        keep = []
        for i, alert_id in enumerate(outbox.column("id").to_pylist()):
            if alert_id not in seen:
                seen.add(alert_id)
                keep.append(i)
        return outbox.take(pa.array(keep, pa.int64()))

    def pending_alerts(self) -> list:
        """Outbox rows not yet marked dispatched, oldest first."""
        rows = arrow_rows(self._undispatched(self.read_outbox()), schemas.ALERT_OUTBOX)
        return sorted(rows, key=lambda r: (r["fired_at"], r["id"]))

    def mark_alert_dispatched(self, alert_id: int, now: dt.datetime) -> None:
        """Log one send: a parquet file of one row, written under a
        dot-prefixed name (hidden from both readers) and renamed into
        place, so a crash mid-write leaves the alert unmarked rather
        than the log unreadable."""
        log = self._legacy_path("alert_dispatches")
        log.mkdir(exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(
            arrow_table([(alert_id, now)], schemas.ALERT_DISPATCHES), log / f".{name}"
        )
        os.replace(log / f".{name}", log / name)

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

    def latest_job_data(self) -> DataFrame:
        """R8 — latest result per job via row_number window."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("job_id").orderBy(F.col("updated_at").desc(), F.col("id").desc())
        return (
            self.read("job_data")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
