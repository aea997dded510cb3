"""Structured Streaming tests for the `all` mode (T1-T6 semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from transferdb_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "events").drop("props")


@pytest.fixture()
def source_dir(tmp_path, events):
    """Seed a streaming source directory with one 'redo log' file."""
    d = str(tmp_path / "source")
    events.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def test_rollup_stream_matches_batch(spark, tmp_path, source_dir, events):
    from transferdb_spark.streaming.incr import run_rollup_to_memory

    q = run_rollup_to_memory(spark, source_dir, str(tmp_path / "ckpt"), name="t_rollup")
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM t_rollup").collect()
    }
    expected = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expected


def test_cdc_apply_exactly_once(spark, tmp_path, source_dir, events):
    from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "cdc_ckpt")

    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(target).count()
    assert n1 == events.count()

    # re-run with the same checkpoint: no new offsets -> no duplicates
    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n1


def test_cdc_apply_dedupes_redelivered_records(spark, tmp_path, source_dir, events):
    """Re-read redo (the reference's ≥/> SCN dance) must be a no-op."""
    from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

    target = str(tmp_path / "target2")
    ckpt = str(tmp_path / "cdc_ckpt2")
    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q.awaitTermination(120)

    # drop a second log file that re-delivers old events + 10 new ones
    redelivered = events.limit(50)
    new = events.limit(10).withColumn("event_id", F.col("event_id") + 1_000_000)
    redelivered.unionByName(new).coalesce(1).write.mode("append").parquet(source_dir)

    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(target)
    assert total.count() == events.count() + 10  # old rows not duplicated
    assert total.select("event_id").distinct().count() == total.count()


def test_cdc_apply_upsert_and_no_target_rescan(spark, tmp_path, source_dir, events):
    """The apply must (a) never read the target — per-batch IO is
    O(batch), not O(target) — and (b) land updates for already-applied
    business keys, which the old full-target anti-join silently dropped."""
    import inspect

    from transferdb_spark.streaming import incr
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream,
        cdc_current_state,
        stream_events,
    )

    # plan/IO guard: the batch function must not scan the target
    src = inspect.getsource(incr.apply_cdc_stream)
    assert "spark.read" not in src and "left_anti" not in src

    target = str(tmp_path / "target3")
    ckpt = str(tmp_path / "cdc_ckpt3")
    q = apply_cdc_stream(
        stream_events(spark, source_dir), target, ckpt, key="user_id"
    )
    q.awaitTermination(120)
    state1 = cdc_current_state(spark, target, key="user_id")
    n_users = state1.count()
    u0 = state1.orderBy("user_id").first()

    # a later record for an existing user = an UPDATE: higher SCN, new value
    upd = (
        events.filter(F.col("user_id") == u0["user_id"])
        .limit(1)
        .withColumn("event_id", F.lit(5_000_000).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(123456.789))
    )
    upd.coalesce(1).write.mode("append").parquet(source_dir)
    q2 = apply_cdc_stream(
        stream_events(spark, source_dir), target, ckpt, key="user_id"
    )
    q2.awaitTermination(120)

    state2 = cdc_current_state(spark, target, key="user_id")
    assert state2.count() == n_users  # upsert, not insert
    got = state2.filter(F.col("user_id") == u0["user_id"]).first()
    assert got["value"] == 123456.789 and got["event_id"] == 5_000_000


def test_redo_parser_roundtrip():
    """T5 — LogMiner redo text → structured stmt → MySQL translation
    (reference sqlparser.go:34-189 + translate.go:149-334)."""
    from transferdb_spark.streaming.redo import parse_redo, translate_stmt

    ins = parse_redo(
        """insert into "MARVIN"."T1"("ID","NAME","TS") values ('1','it''s ok',TO_DATE('2024-01-02 03:04:05', 'YYYY-MM-DD HH24:MI:SS'));"""
    )
    assert (ins.operation, ins.schema, ins.table) == ("INSERT", "MARVIN", "T1")
    assert ins.data == {"ID": "1", "NAME": "it's ok", "TS": "2024-01-02 03:04:05"}
    assert translate_stmt(ins) == [
        "REPLACE INTO `marvin`.`t1` (`id`, `name`, `ts`) VALUES (1, 'it''s ok', '2024-01-02 03:04:05');"
    ]

    upd = parse_redo(
        """update "MARVIN"."T1" set "NAME" = 'x', "V" = NULL where "ID" = '1' and "NAME" = 'old' and "V" IS NULL;"""
    )
    assert upd.operation == "UPDATE"
    assert upd.data == {"NAME": "x", "V": None}
    assert upd.before == {"ID": "1", "NAME": "old", "V": None}
    sqls = translate_stmt(upd)
    assert sqls[0] == "BEGIN;" and sqls[-1] == "COMMIT;"
    assert "DELETE FROM `marvin`.`t1` WHERE `id` = 1 AND `name` = 'old' AND `v` IS NULL;" in sqls
    assert "REPLACE INTO `marvin`.`t1` (`id`, `name`, `v`) VALUES (1, 'x', NULL);" in sqls

    dele = parse_redo("""delete from "MARVIN"."T1" where "ID" = '7';""")
    assert dele.operation == "DELETE" and dele.before == {"ID": "7"}
    assert translate_stmt(dele) == ["DELETE FROM `marvin`.`t1` WHERE `id` = 7;"]

    trunc = parse_redo('truncate table "MARVIN"."T1"')
    assert trunc.operation == "TRUNCATE"
    assert translate_stmt(trunc) == ["TRUNCATE TABLE `marvin`.`t1`;"]
    drop = parse_redo('drop table "MARVIN"."T1"')
    assert translate_stmt(drop) == ["DROP TABLE `marvin`.`t1`;"]


def test_redo_stream_to_changes_distributed(spark):
    """Executor-side parse: change rows come back typed, bad statements
    are quarantined as ERROR rows, and the apply path can fold the
    change log into a final state."""
    from transferdb_spark.streaming.redo import redo_stream_to_changes

    redo = [
        (100, """insert into "M"."ACC"("ID","BAL") values ('1','10');"""),
        (101, """insert into "M"."ACC"("ID","BAL") values ('2','20');"""),
        (102, """update "M"."ACC" set "BAL" = '15' where "ID" = '1' and "BAL" = '10';"""),
        (103, """delete from "M"."ACC" where "ID" = '2' and "BAL" = '20';"""),
        (104, "garbage not sql"),
    ]
    df = spark.createDataFrame(redo, "scn long, sql_redo string")
    changes = redo_stream_to_changes(df).collect()
    by_scn = {r["scn"]: r for r in changes}
    assert by_scn[100]["operation"] == "INSERT"
    assert by_scn[102]["operation"] == "UPDATE"
    assert by_scn[104]["operation"] == "ERROR"  # quarantined, not raised

    # fold the change log into final state (latest-wins apply semantics)
    import json as j

    state: dict[str, dict] = {}
    for r in sorted((r for r in changes if r["operation"] != "ERROR"), key=lambda r: r["scn"]):
        data, before = j.loads(r["data_json"]), j.loads(r["before_json"])
        if r["operation"] == "INSERT":
            state[data["ID"]] = data
        elif r["operation"] == "UPDATE":
            state[before["ID"]] = {**before, **data}
        elif r["operation"] == "DELETE":
            state.pop(before["ID"], None)
    assert state == {"1": {"ID": "1", "BAL": "15"}}


def test_op_filter_gate(spark, events):
    from transferdb_spark.streaming.incr import OP_WHITELIST, filter_ops

    out = filter_ops(events, min_scn=500)
    rows = out.collect()
    assert all(r["event_id"] > 500 for r in rows)
    assert {r["event_type"] for r in rows} <= set(OP_WHITELIST)


def test_session_windows_match_batch(spark, tmp_path, source_dir, events):
    """Streaming session windows == batch session_window aggregation."""
    from transferdb_spark.streaming.incr import run_sessions_to_memory

    q = run_sessions_to_memory(spark, source_dir, str(tmp_path / "ck_sess"), name="t_sessions")
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("session_value"),
        )
        .select("user_id", F.col("win.start").alias("session_start"), "n_events", "session_value")
    )
    want = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in batch.collect()
    }
    assert got == want


def test_dedup_stream_drops_redelivered(spark, tmp_path, events):
    """Events delivered twice across micro-batches survive exactly once."""
    from transferdb_spark.streaming.incr import dedup_stream, stream_events

    src = str(tmp_path / "dup_src")
    half = events.filter("event_id < 500")
    half.coalesce(1).write.mode("overwrite").parquet(src)
    # redeliver the same records (new file, same keys) + fresh ones
    half.coalesce(1).write.mode("append").parquet(src)
    events.filter("event_id >= 500 AND event_id < 600").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = (
        dedup_stream(stream, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT event_id, COUNT(*) c FROM t_dedup GROUP BY 1 HAVING c > 1")
    assert got.count() == 0
    assert spark.sql("SELECT COUNT(*) c FROM t_dedup").collect()[0]["c"] == 600


def test_stream_dimension_enrichment(spark, tmp_path, source_dir, events, sf_dir):
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.incr import enrich_stream_with_dimension, stream_events

    # dimension: event_type -> weight
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 0)],
        "event_type string, weight int",
    )
    stream = stream_events(spark, source_dir)
    q = (
        enrich_stream_with_dimension(stream, dim, "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_enrich")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("SELECT COUNT(*) c, COUNT(weight) w FROM t_enrich").collect()[0]
    assert out["c"] == events.count()
    assert out["w"] == out["c"]  # every type resolved


def test_attribution_join_matches_batch(spark, tmp_path, events):
    """Stream-stream range join equals the batch join over the same data."""
    from transferdb_spark.streaming.incr import attribution_join_stream, stream_events

    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    clicks = events.filter("event_type = 'click'")
    purchases = events.filter("event_type = 'purchase'")
    clicks.coalesce(1).write.mode("overwrite").parquet(clicks_dir)
    purchases.coalesce(1).write.mode("overwrite").parquet(purch_dir)

    joined = attribution_join_stream(
        stream_events(spark, clicks_dir), stream_events(spark, purch_dir)
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_attr")
        .option("checkpointLocation", str(tmp_path / "ck_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.sql("SELECT click_id, purchase_id FROM t_attr")
    expected = (
        clicks.alias("c")
        .join(
            purchases.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
    )
    assert expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdc_log_compaction(spark, tmp_path, source_dir, events):
    """Compaction keeps the current state bit-identical while cutting
    the log to one snapshot dir — read cost tracks live keys, not
    history — and later batches still apply on top."""
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream,
        cdc_current_state,
        compact_cdc_log,
        stream_events,
    )

    target = str(tmp_path / "target_c")
    ckpt = str(tmp_path / "ckpt_c")
    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q.awaitTermination(120)

    # second log drop -> second batch dir (history grows)
    upd = events.limit(20).withColumn("event_id", F.col("event_id") + 2_000_000)
    upd.coalesce(1).write.mode("append").parquet(source_dir)
    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q2.awaitTermination(120)

    before = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in cdc_current_state(spark, target, key="user_id").collect()
    }
    n_dirs_before = len([d for d in os.listdir(target) if d.startswith("batch_id=")])
    assert n_dirs_before >= 2

    stats = compact_cdc_log(spark, target, key="user_id")
    assert stats["dirs_removed"] == n_dirs_before
    assert stats["live_rows"] == len(before)

    dirs_after = [d for d in os.listdir(target) if d.startswith("batch_id=")]
    assert len(dirs_after) == 1  # O(live keys) layout
    after = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in cdc_current_state(spark, target, key="user_id").collect()
    }
    assert after == before

    # post-compaction: a newer change still wins over the snapshot
    u0 = sorted(before)[0]
    newer = (
        events.filter(F.col("user_id") == u0)
        .limit(1)
        .withColumn("event_id", F.lit(9_000_000).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(42.0))
    )
    newer.coalesce(1).write.mode("append").parquet(source_dir)
    q3 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q3.awaitTermination(120)
    got = cdc_current_state(spark, target, key="user_id").filter(F.col("user_id") == u0).first()
    assert got["event_id"] == 9_000_000 and got["value"] == 42.0


def test_redo_grammar_breadth():
    """CHR()/UNISTR()/EMPTY_CLOB()/|| concatenation and ALTER TABLE —
    the LogMiner literal forms beyond the plain restricted grammar."""
    from transferdb_spark.streaming.redo import parse_redo, translate_stmt

    st = parse_redo(
        """insert into "S"."T"("ID","TXT","NC","LOB") values """
        """('7', 'a' || CHR(10) || 'b', UNISTR('\\4E2D\\6587'), EMPTY_CLOB());"""
    )
    assert st.data == {"ID": "7", "TXT": "a\nb", "NC": "中文", "LOB": ""}

    upd = parse_redo(
        """update "S"."T" set "TXT" = 'x' || CHR(9) || 'y' where "ID" = '7' and "NC" IS NULL;"""
    )
    assert upd.data["TXT"] == "x\ty"
    assert upd.before == {"ID": "7", "NC": None}

    alt = parse_redo("""alter table "S"."T" add ("C2" number(10));""")
    assert (alt.operation, alt.schema, alt.table) == ("ALTER", "S", "T")
    out = translate_stmt(alt, target_schema="tgt")
    assert out == ['ALTER TABLE `tgt`.`t` add ("C2" number(10));']

    sci = parse_redo("""insert into "S"."T"("V") values (1.5E-3);""")
    assert sci.data == {"V": "1.5E-3"}


def test_redo_log_election_by_scn():
    """Archived-vs-online election (incr.go:507-548): logs whose SCN
    range extends past the checkpoint are mined; a checkpoint older
    than the oldest retained log is a hard error."""
    import pytest as _pytest

    from transferdb_spark.streaming.redo import LogFile, elect_logs

    arch1 = LogFile("arch1.log", 100, 200)
    arch2 = LogFile("arch2.log", 200, 300)
    online = LogFile("online.log", 300, None)

    # checkpoint mid-arch2: skip arch1, mine arch2 + online
    assert elect_logs([online, arch1, arch2], 250) == [arch2, online]
    # checkpoint at the online log: mine only it
    assert elect_logs([arch1, arch2, online], 350) == [online]
    # checkpoint exactly at a boundary: next_scn is exclusive
    assert elect_logs([arch1, arch2, online], 200) == [arch2, online]
    # checkpoint predating retention: hard error, not silent skip
    with _pytest.raises(ValueError, match="aged out"):
        elect_logs([arch2, online], 50)


def test_redo_insert_all_expands_per_into_clause():
    """Multi-table INSERT ALL yields one INSERT per INTO clause; the
    trailing SELECT row-source is consumed, not parsed as data."""
    from transferdb_spark.streaming.redo import parse_redo_multi, translate_stmt

    stmts = parse_redo_multi(
        """insert all
             into "S"."T1"("ID","V") values (1, 'a')
             into "S"."T2"("ID") values (2)
           select * from dual;"""
    )
    assert [(s.operation, s.table) for s in stmts] == [("INSERT", "T1"), ("INSERT", "T2")]
    assert stmts[0].data == {"ID": "1", "V": "a"}
    assert stmts[1].data == {"ID": "2"}
    assert translate_stmt(stmts[1]) == ["REPLACE INTO `s`.`t2` (`id`) VALUES (2);"]


def test_redo_lob_write_piecing_roundtrip():
    """DBMS_LOB.WRITE blocks parse into LOB_WRITE changes; replaying an
    SCN-ordered piece sequence reconstructs the value; TRIM truncates;
    the MySQL translation splices at the same offset."""
    from transferdb_spark.streaming.redo import (
        assemble_lob_pieces,
        parse_redo,
        translate_stmt,
    )

    block1 = (
        'declare loc_c clob; buf_c varchar2(32767);\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        "  buf_c := 'hello ';\n"
        '  dbms_lob.write(loc_c, 6, 1, buf_c);\n'
        'end;'
    )
    block2 = (
        'declare loc_c clob; buf_c varchar2(32767);\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        "  buf_c := 'wor' || CHR(108) || 'd';\n"
        '  dbms_lob.write(loc_c, 5, 7, buf_c);\n'
        'end;'
    )
    trim = (
        'declare loc_c clob;\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        '  dbms_lob.trim(loc_c, 8);\n'
        'end;'
    )
    p1, p2, p3 = parse_redo(block1), parse_redo(block2), parse_redo(trim)
    assert p1.operation == "LOB_WRITE" and p1.before == {"ID": "7"}
    assert p1.data["piece"] == "hello " and p1.data["offset"] == "1"
    assert p2.data["piece"] == "world" and p2.data["offset"] == "7"
    assert p3.operation == "LOB_TRIM" and p3.data["new_len"] == "8"
    # out-of-order delivery: (scn, stmt) pairs are sorted before replay
    assert assemble_lob_pieces([(30, p3), (10, p1), (20, p2)]) == "hello wo"
    assert translate_stmt(p2) == [
        "UPDATE `s`.`t` SET `doc` = INSERT(COALESCE(`doc`, ''), 7, 5, 'world') "
        "WHERE `id` = 7;"
    ]


def test_redo_lob_assembly_distributed(spark):
    """assemble_lob_stream reassembles per-LOB groups in SCN order."""
    from transferdb_spark.streaming.redo import assemble_lob_stream, redo_stream_to_changes

    def block(key, piece, off):
        return (
            'declare loc_c clob; buf_c varchar2(32767); begin '
            f'select "DOC" into loc_c from "S"."T" where "ID" = {key} for update; '
            f"buf_c := '{piece}'; "
            f"dbms_lob.write(loc_c, {len(piece)}, {off}, buf_c); end;"
        )

    rows = [
        (3, block(1, "ba", 3)),
        (1, block(1, "ab", 1)),
        (2, block(2, "xy", 1)),
    ]
    df = spark.createDataFrame(rows, "scn long, sql_redo string")
    out = assemble_lob_stream(redo_stream_to_changes(df))
    got = {r["key_json"]: (r["lob_value"], r["last_scn"]) for r in out.collect()}
    assert got == {'{"ID": "1"}': ("abba", 3), '{"ID": "2"}': ("xy", 2)}


def test_redo_transaction_grouping(spark):
    """Changes group into per-(table, xid) transaction units with
    SCN-sorted change arrays."""
    from transferdb_spark.streaming.redo import group_table_transactions, redo_stream_to_changes

    rows = [
        (5, "tx2", 'insert into "S"."T"("ID") values (3);'),
        (2, "tx1", 'insert into "S"."T"("ID") values (1);'),
        (4, "tx1", 'update "S"."T" set "V" = 9 where "ID" = 1;'),
        (3, "tx2", 'insert into "S"."T"("ID") values (2);'),
    ]
    df = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")
    changes = redo_stream_to_changes(df.select("scn", "sql_redo")).join(
        df.select("scn", "xid"), "scn"
    )
    txns = sorted(group_table_transactions(changes).collect(), key=lambda t: t["commit_scn"])
    assert [
        (t["table_name"], t["xid"], t["first_scn"], t["commit_scn"], t["n_changes"]) for t in txns
    ] == [
        ("T", "tx1", 2, 4, 2),
        ("T", "tx2", 3, 5, 2),
    ]
    assert [c["scn"] for c in txns[0]["changes"]] == [2, 4]
    assert [c["operation"] for c in txns[0]["changes"]] == ["INSERT", "UPDATE"]


def test_distributed_apply_sqlite_end_to_end(spark, tmp_path):
    """apply_changes_distributed runs ENTIRELY on executors: per-table
    transaction units, commit-SCN order within each table, one DBAPI
    connection per partition. Proof of distribution is instrumentation,
    not trust — every status row carries the applying worker's PID,
    which must differ from the driver's, and the plan's apply stage is
    MapInPandas (no Collect of change payloads anywhere)."""
    import os
    import sqlite3

    from transferdb_spark.streaming.live_apply import (
        apply_changes_distributed,
        safe_table_watermarks,
    )
    from transferdb_spark.streaming.redo import redo_stream_to_changes

    db = str(tmp_path / "target.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE T1 (ID INT, V INT)")
        c.execute("CREATE TABLE T2 (ID INT, V INT)")

    rows = [
        (2, "t1", 'insert into "T1"("ID","V") values (\'1\',\'10\');'),
        (3, "t1", 'insert into "T2"("ID","V") values (\'1\',\'100\');'),
        (5, "t2", 'insert into "T1"("ID","V") values (\'2\',\'20\');'),
        (6, "t2", 'update "T1" set "V" = \'25\' where "ID" = \'2\' and "V" = \'20\';'),
        # t3 is below T1's resume SCN -> must be skipped, not re-applied
        (1, "t3", 'insert into "T1"("ID","V") values (\'9\',\'90\');'),
        # t4 hits a missing table -> rolled back whole + quarantined
        (8, "t4", 'insert into "NOPE"("ID") values (\'1\');'),
    ]
    df = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")
    changes = redo_stream_to_changes(df.select("scn", "sql_redo")).join(
        df.select("scn", "xid"), "scn"
    )

    status_df = apply_changes_distributed(
        changes,
        lambda: sqlite3.connect(db, timeout=60),
        resume_scns={"T1": 1},
        num_partitions=4,
    )
    assert "MapInPandas" in status_df._jdf.queryExecution().executedPlan().toString()
    status = status_df.collect()

    by = {(r["table_name"], r["xid"]): r for r in status}
    assert by[("T1", "t1")]["status"] == "applied"
    assert by[("T2", "t1")]["status"] == "applied"
    assert by[("T1", "t2")]["status"] == "applied"
    assert by[("T1", "t3")]["status"] == "skipped"
    assert by[("NOPE", "t4")]["status"] == "failed" and by[("NOPE", "t4")]["error"]

    # executor-side proof: no apply ran in the driver process
    driver_pid = os.getpid()
    assert all(r["worker_pid"] != driver_pid for r in status)

    with sqlite3.connect(db) as c:
        assert sorted(c.execute("SELECT ID, V FROM T1").fetchall()) == [(1, 10), (2, 25)]
        assert c.execute("SELECT ID, V FROM T2").fetchall() == [(1, 100)]

    highs, _errors = safe_table_watermarks(status)
    assert highs == {"T1": 6, "T2": 3}


def test_distributed_apply_stream_with_per_table_scn_resume(spark, tmp_path):
    """The fully distributed live loop end-to-end on sqlite: a JSON
    redo feed streams through executor-side parse/group/apply; the
    per-TABLE SCN checkpoint (incr_sync_meta TableScnS twin) makes a
    full redelivery idempotent while new transactions still apply —
    per table, not via one global SCN."""
    import sqlite3

    from transferdb_spark.state.store import IncrSyncMeta
    from transferdb_spark.streaming.live_apply import run_redo_apply_stream

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE A (ID INT, V INT)")
        c.execute("CREATE TABLE B (ID INT, V INT)")

    feed = tmp_path / "feed"
    feed.mkdir()
    meta = IncrSyncMeta(str(tmp_path), "resume")
    import json as _json

    def drop(name, rows):
        with open(feed / name, "w") as f:
            for scn, xid, sql in rows:
                f.write(_json.dumps({"scn": scn, "xid": xid, "sql_redo": sql}) + "\n")

    drop("log1.json", [
        (2, "t1", 'insert into "A"("ID","V") values (\'1\',\'10\');'),
        (3, "t2", 'insert into "B"("ID","V") values (\'1\',\'100\');'),
        (5, "t3", 'update "A" set "V" = \'15\' where "ID" = \'1\' and "V" = \'10\';'),
    ])

    def run(ck):
        q = run_redo_apply_stream(
            spark, str(feed), str(tmp_path / ck),
            lambda: __import__("sqlite3").connect(db, timeout=60),
            meta, num_partitions=2,
        )
        q.awaitTermination(180)

    run("ck1")

    def state(tbl):
        with sqlite3.connect(db) as c:
            return dict(c.execute(f"SELECT ID, V FROM {tbl}").fetchall())

    assert state("A") == {1: 15} and state("B") == {1: 100}
    assert meta.highs() == {"A": 5, "B": 3}

    # FULL redelivery (fresh Spark checkpoint) + one new per-table txn:
    # A's gate is 5, B's is 3 — only the new SCN-4 B txn applies even
    # though it is BELOW A's high water (per-table gating, not global)
    drop("log2.json", [
        (4, "t4", 'insert into "B"("ID","V") values (\'2\',\'200\');'),
    ])
    run("ck2")
    assert state("A") == {1: 15}  # no duplicate re-apply
    assert state("B") == {1: 100, 2: 200}
    assert meta.highs() == {"A": 5, "B": 4}


def test_jdbc_apply_batch_never_collects_change_payload(spark, tmp_path, monkeypatch):
    """The JDBC live-apply path must stream translated transactions via
    toLocalIterator — a regression to DataFrame.collect() (full-batch
    driver materialization) fails this test by construction."""
    from tests.test_jdbc_integration import DERBY_DRIVER, _derby_available

    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from pyspark.sql import DataFrame

    from transferdb_spark.modes.apply import apply_sql
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.state.store import IncrSyncMeta
    from transferdb_spark.streaming.live_apply import apply_redo_batch

    url = f"jdbc:derby:{tmp_path}/nocollect;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    assert apply_sql(spark, sink, ["CREATE TABLE T (ID INT, V INT)"]).ok

    rows = [
        (2, "t1", 'insert into "APP"."T"("ID","V") values (\'1\',\'10\');'),
        (4, "t2", 'update "APP"."T" set "V" = \'15\' where "ID" = \'1\' and "V" = \'10\';'),
    ]
    batch = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")

    def no_collect(self):
        raise AssertionError("apply path materialized a DataFrame on the driver")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    meta = IncrSyncMeta(str(tmp_path), "redo")
    res = apply_redo_batch(batch, sink, meta, target_schema="APP")
    monkeypatch.undo()
    assert [(r["xid"], r["status"]) for r in res] == [("t1", "applied"), ("t2", "applied")]
    assert meta.highs() == {"T": 4}
    t = JdbcSource(url=url, table="T", driver=DERBY_DRIVER).load(spark)
    assert [(r["ID"], r["V"]) for r in t.collect()] == [(1, 15)]


def test_cdc_stream_merges_into_snapshot_store(spark, sf_dir, tmp_path):
    """Stream → merge_snapshot: the table image equals latest-wins over
    the delivered events, each batch commits a time-travel-readable
    version, and an update batch upserts instead of duplicating."""
    from pyspark.sql import functions as F

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.snapshots import list_versions, read_snapshot
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream_to_snapshot,
        stream_events,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("event_id") % 7 == 0)
    )
    feed = str(tmp_path / "feed")
    events.coalesce(1).write.mode("overwrite").parquet(feed)
    base = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    q = apply_cdc_stream_to_snapshot(
        stream_events(spark, feed), base, ckpt, key="user_id", stat_cols=["user_id"]
    )
    q.awaitTermination(120)
    v1 = list_versions(base)[-1]
    img = read_snapshot(spark, base)
    n_users = events.select("user_id").distinct().count()
    assert img.count() == n_users
    assert img.groupBy("user_id").count().filter("count > 1").count() == 0

    # an update for one existing user arrives in a later batch
    u0 = img.orderBy("user_id").first()["user_id"]
    upd = (
        events.filter(F.col("user_id") == u0)
        .limit(1)
        .withColumn("event_id", F.lit(9_000_000).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(777.0))
    )
    upd.coalesce(1).write.mode("append").parquet(feed)
    q2 = apply_cdc_stream_to_snapshot(
        stream_events(spark, feed), base, ckpt, key="user_id", stat_cols=["user_id"]
    )
    q2.awaitTermination(120)

    img2 = read_snapshot(spark, base)
    assert img2.count() == n_users  # upsert, not insert
    got = img2.filter(F.col("user_id") == u0).first()
    assert got["value"] == 777.0 and got["event_id"] == 9_000_000
    # prior version still reads the pre-update image
    assert read_snapshot(spark, base, v1).filter(
        (F.col("user_id") == u0) & (F.col("value") == 777.0)
    ).count() == 0


def test_stale_redelivery_cannot_regress_snapshot_image(spark, sf_dir, tmp_path):
    """A STALE event re-delivered in a LATER batch must not overwrite an
    already-applied newer image — per-key latest-wins through
    merge_snapshot(scn_col=...)."""
    from pyspark.sql import functions as F

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.snapshots import read_snapshot
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream_to_snapshot,
        stream_events,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("event_id") % 11 == 0)
    )
    feed = str(tmp_path / "feed")
    events.coalesce(1).write.mode("overwrite").parquet(feed)
    base, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")

    q = apply_cdc_stream_to_snapshot(
        stream_events(spark, feed), base, ckpt, key="user_id", stat_cols=["user_id"]
    )
    q.awaitTermination(120)
    img = read_snapshot(spark, base)
    u0 = img.orderBy("user_id").first()
    assert u0["event_id"] > 1  # a stale event_id below it must exist

    # re-deliver a STALE (older-scn) event for the same user
    stale = (
        events.filter(F.col("user_id") == u0["user_id"])
        .limit(1)
        .withColumn("event_id", F.lit(1).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(-999.0))
    )
    stale.coalesce(1).write.mode("append").parquet(feed)
    q2 = apply_cdc_stream_to_snapshot(
        stream_events(spark, feed), base, ckpt, key="user_id", stat_cols=["user_id"]
    )
    q2.awaitTermination(120)

    got = read_snapshot(spark, base).filter(F.col("user_id") == u0["user_id"]).first()
    assert got["event_id"] == u0["event_id"], "stale event regressed the image"
    assert got["value"] != -999.0


def test_incr_sync_meta_concurrent_merge(tmp_path):
    """IncrSyncMeta is the queryable state-TABLE twin of the per-table
    SCN file (reference sync_meta_incr.go): max-wins merge under an
    fcntl lock must survive concurrent writers without losing any
    table's high-water."""
    import threading

    from transferdb_spark.state.store import IncrSyncMeta

    meta = IncrSyncMeta(str(tmp_path), "incr")

    def writer(base):
        for i in range(20):
            meta.merge({f"T{(base + i) % 7}": base * 100 + i, "SHARED": base * 100 + i})

    threads = [threading.Thread(target=writer, args=(b,)) for b in range(1, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    highs = meta.highs()
    assert highs["SHARED"] == 419  # max over all writers: 4*100+19
    # every table key written by any writer survived (no lost update)
    for b in range(1, 5):
        for i in range(20):
            k = f"T{(b + i) % 7}"
            assert highs[k] >= b * 100 + i or highs[k] == max(
                w * 100 + j for w in range(1, 5) for j in range(20) if (w + j) % 7 == (b + i) % 7
            )
    # max-wins: a stale merge can never regress
    meta.merge({"SHARED": 1})
    assert meta.highs()["SHARED"] == 419

    meta.record_errors([{"table_name": "A", "xid": "t9", "commit_scn": 5,
                         "status": "failed", "error": "boom"}])
    errs = meta.errors("A")
    assert len(errs) == 1 and errs[0]["error"] == "boom" and "ts" in errs[0]


def test_distributed_apply_meta_table_makes_retry_exactly_once(spark, tmp_path):
    """The TARGET-side incr_sync_meta table (same-transaction
    checkpoint row) gates a re-run of the exact same units: the second
    pass reports 'skipped / already applied (target meta)' and the
    target holds exactly one copy of every row — the defense against
    Spark task retries / speculative duplicates that a driver-side
    checkpoint (captured at batch start) cannot provide."""
    import sqlite3

    from transferdb_spark.streaming.live_apply import apply_changes_distributed
    from transferdb_spark.streaming.redo import redo_stream_to_changes

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE A (ID INT, V INT)")

    rows = [
        (2, "t1", 'insert into "A"("ID","V") values (\'1\',\'10\');'),
        (4, "t2", 'insert into "A"("ID","V") values (\'2\',\'20\');'),
    ]
    df = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")
    changes = redo_stream_to_changes(df.select("scn", "sql_redo")).join(
        df.select("scn", "xid"), "scn"
    )

    def run():
        return apply_changes_distributed(
            changes, lambda: sqlite3.connect(db, timeout=60),
            num_partitions=2, meta_table="incr_sync_meta",
        ).collect()

    first = {r["xid"]: r["status"] for r in run()}
    assert first == {"t1": "applied", "t2": "applied"}

    # same units again, NO driver-side gate (resume_scns empty) — the
    # target meta rows alone must stop the re-apply
    second = {r["xid"]: (r["status"], r["error"]) for r in run()}
    assert second == {
        "t1": ("skipped", "already applied (target meta)"),
        "t2": ("skipped", "already applied (target meta)"),
    }
    with sqlite3.connect(db) as c:
        assert sorted(c.execute("SELECT ID, V FROM A").fetchall()) == [(1, 10), (2, 20)]
        metas = c.execute(
            "SELECT table_name, xid, commit_scn FROM incr_sync_meta ORDER BY commit_scn"
        ).fetchall()
    assert metas == [("A", "t1", 2), ("A", "t2", 4)]


def test_ensure_apply_meta_table_probes_usability(tmp_path):
    """ensure_apply_meta_table must not swallow a CREATE failure that
    leaves the table unusable (e.g. no DDL privilege): the probe SELECT
    classifies 'already exists' (fine, idempotent) vs 'cannot host the
    meta table' (ONE clear error at setup, instead of per-unit SELECT
    failures deep inside the stream)."""
    import sqlite3

    import pytest as _pytest

    from transferdb_spark.streaming.live_apply import ensure_apply_meta_table

    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    ensure_apply_meta_table(conn, "incr_sync_meta")  # creates
    ensure_apply_meta_table(conn, "incr_sync_meta")  # idempotent (probe passes)
    conn.close()

    # read-only target: CREATE fails AND the table absent -> clear error
    ro = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    with _pytest.raises(RuntimeError, match="not usable on the target"):
        ensure_apply_meta_table(ro, "other_meta")
    # but a PRE-CREATED table on the same read-only target probes fine
    ensure_apply_meta_table(ro, "incr_sync_meta")
    ro.close()


def test_apply_failure_with_empty_message_is_recorded_not_raised():
    """An exception with an empty message (RuntimeError()) is recorded
    as a failure by apply_sql and by the redo unit body — it must not
    escape and fail the whole call. A rollback that raises too is
    absorbed. No Spark: stub sink and stub connection."""
    from transferdb_spark.modes.apply import apply_sql

    class Sink:
        def execute(self, spark, sql):
            raise RuntimeError()

    res = apply_sql(None, Sink(), ["INSERT INTO T VALUES (1)"])
    assert res.failed == [("INSERT INTO T VALUES (1)", "RuntimeError")]

    from transferdb_spark.streaming.live_apply import _apply_units

    class Cursor:
        def execute(self, sql):
            raise RuntimeError()

        def close(self):
            pass

    class Conn:
        closed = False

        def cursor(self):
            return Cursor()

        def commit(self):
            raise AssertionError("a failed unit must not commit")

        def rollback(self):
            raise RuntimeError("no transaction to roll back")

        def close(self):
            self.closed = True

    conn = Conn()
    rows = _apply_units([("T", "t1", 5, ["INSERT INTO T VALUES (1);"])], lambda: conn, {}, None)
    assert [(r["xid"], r["status"], r["error"]) for r in rows] == [("t1", "failed", "RuntimeError")]
    assert conn.closed


def test_distributed_apply_failed_txn_holds_watermark_and_replays(spark, tmp_path):
    """ADVICE(high) regression: a FAILED transaction must be PERSISTED
    to the error log and must hold its table's SCN checkpoint at
    min(failed)-1, so a redelivery retries it — while the target-side
    meta rows keep the already-applied units above the held watermark
    from re-executing (no duplicates)."""
    import json as _json
    import sqlite3

    from transferdb_spark.state.store import IncrSyncMeta
    from transferdb_spark.streaming.live_apply import run_redo_apply_stream

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE A (ID INT PRIMARY KEY, V INT)")
        c.execute("INSERT INTO A VALUES (7, 70)")  # makes scn-4 txn collide

    feed = tmp_path / "feed"
    feed.mkdir()
    meta = IncrSyncMeta(str(tmp_path), "live")

    def drop(name, rows):
        with open(feed / name, "w") as f:
            for scn, xid, sql in rows:
                f.write(_json.dumps({"scn": scn, "xid": xid, "sql_redo": sql}) + "\n")

    drop("log1.json", [
        (2, "t1", 'insert into "A"("ID","V") values (\'1\',\'10\');'),
        (4, "t2", 'insert into "A"("ID","V") values (\'7\',\'77\');'),  # PK clash -> fails
        (6, "t3", 'insert into "A"("ID","V") values (\'2\',\'20\');'),
    ])

    def run(ck):
        q = run_redo_apply_stream(
            spark, str(feed), str(tmp_path / ck),
            lambda: __import__("sqlite3").connect(db, timeout=60),
            meta=meta, num_partitions=2, on_error="continue",
            meta_table="incr_sync_meta",
        )
        q.awaitTermination(180)

    run("ck1")
    # failure persisted, checkpoint held BELOW the failed scn
    assert meta.highs() == {"A": 3}
    errs = meta.errors("A")
    assert len(errs) == 1 and errs[0]["xid"] == "t2" and errs[0]["status"] == "failed"
    with sqlite3.connect(db) as c:
        assert sorted(c.execute("SELECT ID, V FROM A").fetchall()) == [
            (1, 10), (2, 20), (7, 70)]

    # operator clears the conflict; FULL redelivery retries ONLY t2 —
    # t1 is SCN-gated, t3 is above the held watermark but its target
    # meta row proves the prior commit (no duplicate id=2 row)
    with sqlite3.connect(db) as c:
        c.execute("DELETE FROM A WHERE ID = 7")
    run("ck2")
    with sqlite3.connect(db) as c:
        rows = sorted(c.execute("SELECT ID, V FROM A").fetchall())
    assert rows == [(1, 10), (2, 20), (7, 77)]
    # checkpoint caught up past the retried txn AND the meta-proven t3
    assert meta.highs() == {"A": 6}


def test_distributed_apply_stream_halts_on_failure(spark, tmp_path):
    """on_error='halt' (default — the reference hard-fails the incr
    round on any apply error) fails the streaming query AFTER
    persisting the error log and the held watermark."""
    import json as _json
    import sqlite3

    import pytest as _pytest

    from transferdb_spark.state.store import IncrSyncMeta
    from transferdb_spark.streaming.live_apply import run_redo_apply_stream

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE A (ID INT, V INT)")

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "log1.json", "w") as f:
        f.write(_json.dumps({"scn": 2, "xid": "t1",
                             "sql_redo": 'insert into "A"("ID","V") values (\'1\',\'10\');'}) + "\n")
        f.write(_json.dumps({"scn": 4, "xid": "t2",
                             "sql_redo": 'insert into "NOPE"("ID") values (\'1\');'}) + "\n")

    meta = IncrSyncMeta(str(tmp_path), "halt")
    q = run_redo_apply_stream(
        spark, str(feed), str(tmp_path / "ck"),
        lambda: __import__("sqlite3").connect(db, timeout=60),
        meta=meta, num_partitions=2,
    )
    with _pytest.raises(Exception, match="redo apply failed"):
        q.awaitTermination(180)
        raise RuntimeError(q.exception() or "query did not fail")
    # the failure was persisted BEFORE the halt
    assert [e["xid"] for e in meta.errors()] == ["t2"]
    assert meta.highs() == {"A": 2}


def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream INNER join with an event-time interval (the one
    Structured Streaming join shape the engine had not exercised):
    clicks and purchases watermarked on their own event time, joined
    on user within 1h. Summed micro-batch output must equal the batch
    twin exactly — including pairs whose click and purchase arrive in
    DIFFERENT micro-batches (buffered by the join state and matched
    later, the whole point of the stateful join)."""
    from pyspark.sql import functions as F

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.joins import (
        attribution_pairs,
        streaming_attribution_join,
    )

    events = load_table(spark, sf_dir, "events").drop("props")
    want = {
        (r["user_id"], r["src_event_id"], r["dst_event_id"])
        for r in attribution_pairs(events).collect()
    }
    assert want  # fixture must actually produce pairs

    mid = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    src = str(tmp_path / "src")
    events.filter(F.col("ts") <= mid).coalesce(1).write.mode("overwrite").parquet(src)
    events.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_attribution_join(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_attrib")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["src_event_id"], r["dst_event_id"])
        for r in spark.sql(
            "SELECT user_id, src_event_id, dst_event_id FROM t_attrib"
        ).collect()
    }
    # watermark caveat: rows older than the eviction horizon at source
    # EOF can be dropped by design; with a 2h watermark over an
    # in-order feed nothing is evictable before its match window ends,
    # so equality must be exact
    assert got == want


def test_attribution_pairs_hot_user_bucketed_join(spark):
    """Hot-user bound: the batch attribution join must key on
    (user_id, time_bucket), not user_id alone — otherwise one bot user
    makes the candidate set quadratic in its lifetime event count. The
    plan must shuffle on both keys, and the bucketed rewrite must stay
    byte-identical to brute force on a fixture that crosses bucket
    boundaries and hits the exact within_s edge."""
    import datetime as _dt
    import itertools

    from transferdb_spark.streaming.joins import attribution_pairs

    w = 100  # small window so the fixture crosses many buckets
    base = _dt.datetime(2024, 1, 1)
    rows = []
    # bot user: 40 clicks + 40 purchases spread over 40 windows —
    # brute force would build 1600 candidates; bucketing admits only
    # same/adjacent-window ones
    for i in range(40):
        rows.append((f"c{i}", 1, "click", base + _dt.timedelta(seconds=i * w)))
        rows.append((f"p{i}", 1, "purchase", base + _dt.timedelta(seconds=i * w + 1)))
    # edge cases: match at exactly within_s, and a cross-bucket match
    rows.append(("ce", 2, "click", base))
    rows.append(("pe", 2, "purchase", base + _dt.timedelta(seconds=w)))  # == within_s
    rows.append(("cx", 3, "click", base + _dt.timedelta(seconds=w - 1)))
    rows.append(("px", 3, "purchase", base + _dt.timedelta(seconds=w + 1)))  # next bucket
    ev = spark.createDataFrame(
        rows, "event_id string, user_id long, event_type string, ts timestamp"
    )

    out = attribution_pairs(ev, within_s=w)
    got = {(r["user_id"], r["src_event_id"], r["dst_event_id"]) for r in out.collect()}
    by_user = {}
    for eid, uid, typ, ts in rows:
        by_user.setdefault(uid, []).append((eid, typ, ts))
    want = set()
    for uid, evs in by_user.items():
        for (ca, ta, tsa), (cb, tb, tsb) in itertools.product(evs, evs):
            if ta == "click" and tb == "purchase" and tsa <= tsb and (
                (tsb - tsa).total_seconds() <= w
            ):
                want.add((uid, ca, cb))
    assert got == want and ("3", ) not in got  # sanity: non-empty, exact
    assert (2, "ce", "pe") in got and (3, "cx", "px") in got

    # the shuffle key must include the bucket, not user_id alone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan, plan


def test_incr_sync_meta_is_sql_queryable(spark, tmp_path):
    """The state-TABLE surface: highs and the error log expose
    relations a SELECT can join/filter — the reference's meta-schema
    queryability, not just a dict API."""
    from transferdb_spark.state.store import IncrSyncMeta

    meta = IncrSyncMeta(str(tmp_path), "q")
    meta.merge({"A": 5, "B": 9})
    meta.record_errors([
        {"table_name": "A", "xid": "t3", "commit_scn": 7,
         "status": "failed", "error": "boom"},
    ])
    got = {r["table_name"]: r["high_scn"] for r in meta.as_df(spark).collect()}
    assert got == {"A": 5, "B": 9}
    errs = meta.errors_df(spark)
    row = errs.where("table_name = 'A' AND status = 'failed'").first()
    assert row["xid"] == "t3" and row["commit_scn"] == 7 and row["ts"] > 0
