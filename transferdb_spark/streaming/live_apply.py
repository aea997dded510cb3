"""`all`-mode LIVE sink: redo-SQL micro-batches applied to a live
target transactionally, with a per-table SCN checkpoint.

This is the reference's full incremental loop
(module/migrate/sql/oracle/o2m/incr.go:61-247) on Structured
Streaming, with ONE loop and ONE per-batch body (apply_redo_batch):

1. parse each (scn, xid, sql_redo) row executor-side
   (streaming/redo.redo_stream_to_changes, mapInPandas) and drop
   ERROR rows;
2. group into per-(table, xid) units (group_table_transactions) and
   translate them to the target dialect (translate_transactions_df);
3. repartition the units by table, commit-SCN-sorted within each
   partition — the reference's per-table worker map
   (module/migrate/sql/oracle/o2m/apply.go:58-233);
4. gate each unit on the per-table SCN checkpoint
   (state.store.IncrSyncMeta, the incr_sync_meta twin);
5. apply each unit as one target transaction (_apply_unit —
   rollback-whole, UPDATE = DELETE+REPLACE in one txn);
6. advance each table's SCN to its contiguous-success watermark
   (safe_table_watermarks) and append failures to the error log;
7. halt on any failure when on_error='halt'.

Two transports for step 5, chosen by the target's type:

- JdbcSink — applied DRIVER-side. JDBC lives behind py4j, which only
  exists on the driver, so the statements must cross it; the driver
  pulls translated units one PARTITION at a time via toLocalIterator
  (never collect()) and applies them over one connection wrapped in a
  DBAPI-shaped adapter.
- a zero-argument DBAPI factory (psycopg2/pymysql/sqlite3…) — applied
  EXECUTOR-side by apply_changes_distributed (mapInPandas), one
  connection per partition; the driver sees only the tiny
  (table, xid, scn, status) rows.

A source transaction touching two tables therefore commits as two
target transactions on either transport, exactly as the reference
relaxes cross-table atomicity.

The structured MERGE path (streaming/incr.py) remains the preferred
sink when before/after images are available; this is the text-redo
path the reference runs when they are not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.modes.apply import error_line
from transferdb_spark.sources.jdbc import JdbcSink
from transferdb_spark.state.store import IncrSyncMeta
from transferdb_spark.streaming.redo import (
    group_table_transactions,
    redo_stream_to_changes,
    translate_transactions_df,
)

APPLY_STATUS_COLUMNS = ["table_name", "xid", "commit_scn", "status", "error", "worker_pid"]
APPLY_STATUS_SCHEMA = (
    "table_name string, xid string, commit_scn long, status string, "
    "error string, worker_pid long"
)
ALREADY_APPLIED = "already applied (target meta)"


def _sql_str(v: str) -> str:
    """Portable single-quoted SQL literal (quote doubling) for the
    tiny meta-table point queries — table/xid values come from parsed
    redo identifiers, but escape anyway."""
    return "'" + str(v).replace("'", "''") + "'"


def _safe_rollback(conn) -> None:
    """rollback() that tolerates autocommit/odd DBAPI connections —
    some drivers raise on rollback outside a transaction, which would
    otherwise mask the error that triggered the rollback."""
    try:
        conn.rollback()
    except Exception:  # noqa: BLE001 — nothing to roll back
        pass


class _JdbcCursor:
    def __init__(self, statement):
        self._st = statement
        self._rs = None

    def execute(self, sql: str) -> None:
        self._rs = self._st.getResultSet() if self._st.execute(sql) else None

    def fetchone(self):
        if self._rs is None or not self._rs.next():
            return None
        n = self._rs.getMetaData().getColumnCount()
        return tuple(self._rs.getObject(i) for i in range(1, n + 1))

    def close(self) -> None:
        self._st.close()


class _JdbcConnection:
    """DBAPI-shaped view of one py4j java.sql.Connection (autocommit
    off), so the JDBC transport runs the same unit body as DBAPI
    targets."""

    def __init__(self, conn):
        conn.setAutoCommit(False)
        self._conn = conn

    def cursor(self) -> _JdbcCursor:
        return _JdbcCursor(self._conn.createStatement())

    def commit(self) -> None:
        self._conn.commit()

    def rollback(self) -> None:
        self._conn.rollback()

    def close(self) -> None:
        self._conn.close()


def ensure_apply_meta_table(conn, meta_table: str) -> None:
    """Create the TARGET-side applied-transaction meta table if absent,
    then VERIFY it is usable. The composite PRIMARY KEY doubles as a
    uniqueness guard: even if two racing task attempts both pass the
    SELECT probe, the second INSERT violates the PK and its whole
    transaction rolls back — the data rows can never land twice.

    DBAPI drivers expose no portable IF NOT EXISTS or error codes, so
    the CREATE failure cannot be classified as 'already exists' vs
    'no DDL privilege' by inspection. Instead the CREATE error is
    tolerated ONLY if a probe SELECT against the table then succeeds;
    otherwise ONE clear error surfaces here, at stream start — not a
    per-unit SELECT failure deep inside the apply loop."""
    create_err: Exception | None = None
    try:
        cur = conn.cursor()
        try:
            cur.execute(
                f"CREATE TABLE {meta_table} ("
                "table_name VARCHAR(128) NOT NULL, "
                "xid VARCHAR(128) NOT NULL, "
                "commit_scn BIGINT NOT NULL, "
                "PRIMARY KEY (table_name, xid, commit_scn))"
            )
        finally:
            cur.close()
        conn.commit()
    except Exception as e:  # noqa: BLE001 — classified by the probe below
        create_err = e
        _safe_rollback(conn)
    try:
        cur = conn.cursor()
        try:
            cur.execute(
                f"SELECT table_name FROM {meta_table} WHERE commit_scn = -1"
            )
            cur.fetchone()
        finally:
            cur.close()
        _safe_rollback(conn)  # end the read txn cleanly
    except Exception as probe_err:
        raise RuntimeError(
            f"apply meta table {meta_table!r} is not usable on the target "
            f"(create: {create_err or 'ok'}; probe: {probe_err}). Grant DDL "
            "or pre-create the table, or pass meta_table=None for "
            "at-least-once apply."
        ) from (create_err or probe_err)


def _apply_unit(conn, table: str, xid: str, scn: int, stmts, gate: int,
                meta_table: str | None) -> tuple[str, str]:
    """Apply ONE (table, xid) unit as one target transaction; returns
    its (status, error).

    A unit at or below the table's SCN gate is 'skipped' untouched; a
    comment-only unit (UNTRANSLATABLE quarantine) is 'skipped' with
    its comment as the error. With ``meta_table`` a unit whose
    (table, xid, commit_scn) row already exists on the target is
    'skipped' too, and an applied unit inserts that row in the SAME
    transaction as its data. Any statement failure rolls the whole
    unit back and reports it 'failed' — never raises."""
    if scn <= gate:
        return "skipped", ""
    runnable = [
        s2
        for s2 in (s.strip().rstrip(";").strip() for s in stmts)
        if s2 and not s2.startswith("--")
    ]
    if not runnable:
        return "skipped", "; ".join(stmts)[:500]
    if meta_table:
        # target-side exactly-once probe: committed by a prior attempt
        # of this very unit?
        cur = conn.cursor()
        try:
            cur.execute(
                f"SELECT 1 FROM {meta_table} WHERE table_name = {_sql_str(table)} "
                f"AND xid = {_sql_str(xid)} AND commit_scn = {scn}"
            )
            seen = cur.fetchone() is not None
        finally:
            cur.close()
        _safe_rollback(conn)  # end the read txn cleanly
        if seen:
            return "skipped", ALREADY_APPLIED
    try:
        cur = conn.cursor()
        try:
            for s in runnable:
                cur.execute(s)
            if meta_table:
                # same-transaction checkpoint row — commits or rolls
                # back WITH the data
                cur.execute(
                    f"INSERT INTO {meta_table} (table_name, xid, commit_scn) "
                    f"VALUES ({_sql_str(table)}, {_sql_str(xid)}, {scn})"
                )
        finally:
            cur.close()
        conn.commit()
        return "applied", ""
    except Exception as e:  # noqa: BLE001 — rollback + quarantine
        _safe_rollback(conn)
        return "failed", error_line(e)


def _apply_units(units, connect, gates: dict[str, int], meta_table: str | None) -> list[dict]:
    """Apply (table_name, xid, commit_scn, stmts) units in order over
    ONE lazily opened connection; one status row per unit."""
    pid = os.getpid()
    out: list[dict] = []
    conn = None
    try:
        for table, xid, scn, stmts in units:
            scn = int(scn)
            if conn is None:
                conn = connect()
                if meta_table:
                    ensure_apply_meta_table(conn, meta_table)
            status, error = _apply_unit(
                conn, table, xid, scn, list(stmts), gates.get(table, -1), meta_table
            )
            out.append(dict(zip(APPLY_STATUS_COLUMNS, (table, xid, scn, status, error, pid))))
    finally:
        if conn is not None:
            conn.close()
    return out


def _table_units(
    changes: DataFrame, target_schema: str, dialect: str, num_partitions: int | None
) -> DataFrame:
    """(table_name, xid, commit_scn, stmts) apply units, repartitioned
    BY TABLE and commit-SCN-sorted within each partition."""
    units = translate_transactions_df(
        group_table_transactions(changes), target_schema, dialect=dialect
    )
    n = num_partitions or units.sparkSession.sparkContext.defaultParallelism
    return units.repartition(n, "table_name").sortWithinPartitions(
        "table_name", "commit_scn", "xid"
    )


def apply_changes_distributed(
    changes: DataFrame,
    connect,
    target_schema: str = "",
    dialect: str = "ansi",
    num_partitions: int | None = None,
    resume_scns: dict[str, int] | None = None,
    meta_table: str | None = None,
) -> DataFrame:
    """Executor-side transactional apply — no driver round-trip for
    row data at all. ``connect`` is a zero-arg factory returning a
    DBAPI connection (psycopg2/pymysql/sqlite3…), cloudpickled to the
    executors; each partition opens ONE connection and applies its
    units in commit-SCN order.

    Ordering contract (the reference's own, apply.go:58-77 — its
    worker map is keyed by TABLE and its SCN checkpoint is per-table):
    apply units are (table, xid) groups, repartitioned BY TABLE and
    sorted by commit_scn within each partition, so every table sees
    its changes in commit order while distinct tables apply
    concurrently across executors. Cross-table atomicity of one source
    txn is intentionally relaxed exactly as the reference relaxes it.

    Returns the (table_name, xid, commit_scn, status, error,
    worker_pid) status relation — the ONLY thing that should ever be
    collected; safe_table_watermarks turns it into the per-table
    checkpoint. ``resume_scns`` is the per-TABLE gate ({table:
    high_scn}, IncrSyncMeta.highs()); units at or below it are
    reported 'skipped' without touching the target.

    ``meta_table`` (exactly-once hardening): when set, each applied
    unit ALSO inserts its (table, xid, commit_scn) row into this
    TARGET-side meta table inside the SAME transaction — the
    reference's incr_sync_meta stance, where the checkpoint lives in
    the target database, not beside the driver. A Spark task retry,
    speculative duplicate, or stage recomputation that re-runs a
    partition after some units committed finds their meta rows (a
    point SELECT per unit, PK-indexed) and reports them 'skipped'
    instead of re-executing — the driver-side checkpoint alone cannot
    gate these, because it only advances after the batch. Without
    ``meta_table`` the apply is at-least-once under task retries
    (disable spark.speculation for this stage)."""
    parts = _table_units(changes, target_schema, dialect, num_partitions)
    gates = dict(resume_scns or {})

    def apply_partition(batches):
        import pandas as pd

        units = (
            u
            for pdf in batches
            for u in zip(pdf["table_name"], pdf["xid"], pdf["commit_scn"], pdf["stmts"])
        )
        rows = _apply_units(units, connect, gates, meta_table)
        if rows:
            yield pd.DataFrame(rows, columns=APPLY_STATUS_COLUMNS)

    return parts.mapInPandas(apply_partition, schema=APPLY_STATUS_SCHEMA)


def safe_table_watermarks(status_rows) -> tuple[dict[str, int], list[dict]]:
    """Contiguous-success SCN watermark per table, from COLLECTED
    status rows (the tiny (table, xid, scn, status, error) relation —
    one row per transaction unit, never row data).

    A failed transaction must replay on redelivery, so a table's
    checkpoint may only advance to min(failed commit_scn) - 1 — never
    past the first failure (the reference hard-fails the whole round
    on any apply error, o2m/apply.go getIncrResult; this is the
    quarantine-mode equivalent that still guarantees the failed txn is
    not permanently gated out). Returns (watermarks, error_rows) where
    error_rows are every failed/quarantined status row for the
    append-only error log."""
    max_applied: dict[str, int] = {}
    min_failed: dict[str, int] = {}
    errors: list[dict] = []
    for r in status_rows:
        t, scn = r["table_name"], int(r["commit_scn"])
        if r["status"] == "applied" or r["error"] == ALREADY_APPLIED:
            # a target-meta skip is PROOF of a prior commit — count it,
            # so a replayed batch lets the checkpoint catch up past
            # units a held watermark forced it to revisit
            max_applied[t] = max(max_applied.get(t, -1), scn)
            continue
        if r["status"] == "failed":
            min_failed[t] = min(min_failed.get(t, scn), scn)
        elif not r["error"]:
            continue  # SCN-gated skip
        # failed, or quarantined (untranslatable) — log; only a failure
        # holds the SCN
        errors.append(
            {
                "table_name": t,
                "xid": r["xid"],
                "commit_scn": scn,
                "status": r["status"],
                "error": r["error"],
            }
        )
    highs = {}
    for t, h in max_applied.items():
        highs[t] = min(h, min_failed[t] - 1) if t in min_failed else h
    return {t: h for t, h in highs.items() if h >= 0}, errors


def apply_redo_batch(
    batch: DataFrame,
    target,
    meta: IncrSyncMeta,
    target_schema: str = "",
    dialect: str = "ansi",
    num_partitions: int | None = None,
    meta_table: str | None = None,
    on_error: str = "halt",
) -> list:
    """One micro-batch of (scn, xid, sql_redo) rows, steps 1-7 of the
    module docstring; returns the status rows.

    ``target`` picks the transport: a JdbcSink applies driver-side
    over one py4j connection, pulling the sorted units through
    toLocalIterator — driver memory is bounded by ONE partition of
    translated statement text, never the batch's change payload; a
    zero-argument DBAPI factory applies executor-side
    (apply_changes_distributed), with ONE collect of the tiny status
    relation — collecting twice would recompute mapInPandas and re-run
    the apply.

    ``meta`` is THE source of truth for replay gating. Each table's
    SCN advances only AFTER the apply, to its contiguous-success
    watermark: a crash before the merge replays the batch, which the
    gate, the rollback-whole units and (opt-in) ``meta_table`` make
    idempotent; a failed unit holds its table's SCN and is persisted
    to the error log, so it replays instead of being silently gated
    out. ``meta_table`` needs DDL (or a pre-created table) on the
    target — see apply_changes_distributed.

    ``on_error='halt'`` (default — the reference hard-fails on any
    apply error) raises after persisting the error log + watermarks;
    'continue' quarantines and keeps consuming."""
    changes = redo_stream_to_changes(batch.select("scn", "sql_redo")).join(
        batch.select("scn", "xid"), "scn"
    ).filter("operation <> 'ERROR'")
    gates = meta.highs()
    if isinstance(target, JdbcSink):
        from transferdb_spark.catalog.jdbc_catalog import _connect

        spark = batch.sparkSession
        units = _table_units(changes, target_schema, dialect, num_partitions)
        status = _apply_units(
            units.toLocalIterator(),
            lambda: _JdbcConnection(
                _connect(spark, target.url, target.driver, target.user, target.password)
            ),
            gates,
            meta_table,
        )
    elif callable(target):
        status = apply_changes_distributed(
            changes,
            target,
            target_schema=target_schema,
            dialect=dialect,
            num_partitions=num_partitions,
            resume_scns=gates,
            meta_table=meta_table,
        ).collect()
    else:
        raise TypeError(
            f"target must be a JdbcSink or a zero-argument DBAPI connection "
            f"factory, not {type(target).__name__}"
        )
    highs, errors = safe_table_watermarks(status)
    if highs:
        meta.merge(highs)
    meta.record_errors(errors)
    failed = [e for e in errors if e["status"] == "failed"]
    if failed and on_error == "halt":
        raise RuntimeError(
            f"redo apply failed for {len(failed)} transaction(s); "
            f"first: table={failed[0]['table_name']} "
            f"xid={failed[0]['xid']} scn={failed[0]['commit_scn']} "
            f"error={failed[0]['error']}"
        )
    return status


def run_redo_apply_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    target,
    meta: IncrSyncMeta,
    target_schema: str = "",
    dialect: str = "ansi",
    num_partitions: int | None = None,
    meta_table: str | None = None,
    on_error: str = "halt",
):
    """Stream a JSON-lines redo feed ((scn, xid, sql_redo) rows, one
    file per log drop — the LogMiner file-batch shape T1 polls)
    through apply_redo_batch into ``target`` (a JdbcSink or a DBAPI
    connection factory), checkpointing per-table SCNs in ``meta``."""

    def sink_batch(batch: DataFrame, _batch_id: int) -> None:
        apply_redo_batch(
            batch, target, meta, target_schema=target_schema, dialect=dialect,
            num_partitions=num_partitions, meta_table=meta_table, on_error=on_error,
        )

    return (
        spark.readStream.schema("scn long, xid string, sql_redo string")
        .json(source_dir)
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
