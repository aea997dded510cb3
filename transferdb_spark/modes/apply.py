"""Live DDL/fix-SQL apply — execute generated statements against a
JDBC target (the reference writer's direct-DB branch,
module/reverse/write.go:40-140 `RWriteDB`; the compare
fix flow likewise lands as executable SQL, module/compare/file.go).

Everything here is driver-side: the statement lists are the SMALL
outputs of reverse/check/compare (DDL text, bounded fix-SQL), never
row data — bulk repair rows go through operators/diff.repair_statements
streaming to a sink. Per-statement failures are quarantined with the
statement text (error_log_detail semantics, reference
reverse.go:210-258): one bad object must not abort a 500-table apply.

Redo (CDC) transactions are not applied here: streaming/live_apply
owns that loop, with its per-table SCN checkpoint. It shares only
error_line, the one quarantine-message extractor.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from transferdb_spark.sources.jdbc import JdbcSink


@dataclass
class ApplyResult:
    applied: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)  # comment-only
    failed: list[tuple[str, str]] = field(default_factory=list)  # (stmt, error)

    @property
    def ok(self) -> bool:
        return not self.failed


def error_line(e: BaseException) -> str:
    """One-line apply error for a quarantine record. py4j wraps the
    SQLException — surface the database's own message, not the
    wrapper's generic first line; an exception with an empty message
    reports its type name."""
    msg = str(getattr(e, "java_exception", None) or e).strip()
    return (msg.splitlines()[0] if msg else type(e).__name__)[:500]


def _executable(stmt: str) -> str:
    """Normalize one statement for executeUpdate: drop pure-comment
    lines, trailing semicolon/whitespace. Returns '' if nothing
    executable remains."""
    lines = [
        ln for ln in stmt.splitlines() if not ln.strip().startswith("--")
    ]
    s = "\n".join(lines).strip()
    return s[:-1].rstrip() if s.endswith(";") else s


def apply_sql(
    spark: SparkSession,
    sink: JdbcSink,
    statements: list[str],
    continue_on_error: bool = True,
) -> ApplyResult:
    """Execute each statement over one JDBC connection's worth of
    driver-side round trips. Statements run IN ORDER (DDL generators
    already emit creates < indexes < FKs); a failure is recorded and —
    matching the reference's never-abort flow — the apply continues
    unless continue_on_error=False."""
    res = ApplyResult()
    for raw in statements:
        stmt = _executable(raw)
        if not stmt:
            res.skipped.append(raw)
            continue
        try:
            sink.execute(spark, stmt)
            res.applied.append(stmt)
        except Exception as e:  # noqa: BLE001 — quarantine, don't abort
            res.failed.append((stmt, error_line(e)))
            if not continue_on_error:
                break
    return res


def apply_reverse_ddl(
    spark: SparkSession,
    sink: JdbcSink,
    catalog,
    rules=None,
) -> ApplyResult:
    """reverse --apply: generate ANSI DDL for the whole catalog and
    execute it against the live target. Quarantined/incompatible
    objects stay in the ReverseResult's compatibility notes (they are
    comments, so apply_sql skips them)."""
    from transferdb_spark.modes.reverse import reverse_tables_ansi

    rev = reverse_tables_ansi(catalog, rules)
    res = apply_sql(spark, sink, rev.ddl)
    res.skipped.extend(rev.compatibility)
    res.failed.extend(("-- generation --", e) for e in rev.errors)
    return res
