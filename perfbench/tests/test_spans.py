"""Span self-time arithmetic, the span stack and job attribution."""

import pytest

from spans import EventLog, Tracer, attribute_jobs, self_times


def _span(sid, parent, start, end, name="s", **kw):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end, **kw}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps child 1: counted once
        _span(3, 0, 7.0, 8.0),
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped at 10
        _span(5, 1, 1.5, 2.5),  # grandchild: only reduces span 1
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - (4 + 1 + 1))
    assert got[1] == pytest.approx(2 - 1)
    assert got[5] == pytest.approx(1)


def test_self_times_sum_to_the_root_duration():
    spans = [_span(0, None, 0, 6), _span(1, 0, 1, 4), _span(2, 1, 2, 3), _span(3, 0, 4, 6)]
    assert sum(self_times(spans).values()) == pytest.approx(6)


def test_closing_a_span_closes_spans_left_open_above_it():
    t = Tracer()
    outer = t.open("compare")
    t.open("diff")  # opened by a wrapper, never closed by it
    with t.span("chunker.plan"):
        pass
    t.close(outer)
    assert t.stack == []
    assert all(s["end"] is not None for s in t.spans)
    assert [s["parent"] for s in t.spans] == [None, 0, 1]


def test_patch_wraps_every_importer_and_unpatch_restores():
    import transferdb_spark.modes.full as full
    import transferdb_spark.plans.chunker as chunker

    orig = chunker.plan_chunks
    t = Tracer()
    t.patch("transferdb_spark.plans.chunker", "plan_chunks", t.spanned("chunker.plan"))
    try:
        assert chunker.plan_chunks is not orig
        assert full.plan_chunks is chunker.plan_chunks
    finally:
        t.unpatch()
    assert chunker.plan_chunks is orig and full.plan_chunks is orig


def test_jobs_attribute_by_group_then_query_then_time():
    spans = [
        _span(0, None, 100.0, 200.0, "op"),
        _span(1, 0, 110.0, 150.0, "incr.catchup", query_id="q-1"),
        _span(2, 0, 160.0, 190.0, "ext.train"),
    ]
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 115000, "Stage IDs": [],'
        ' "Properties": {"spark.jobGroup.id": "span-2"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 120000, "Stage IDs": [],'
        ' "Properties": {"spark.jobGroup.id": "run-x", "sql.streaming.queryId": "q-1"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 170000, "Stage IDs": [],'
        ' "Properties": {}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": 50000, "Stage IDs": [],'
        ' "Properties": {}}',
    ]
    got = attribute_jobs(EventLog(lines), spans)
    assert got == {1: 2, 2: 1, 3: 2, 4: None}
