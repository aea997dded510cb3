"""Generators and independent expectations, and the damage generator's
expected counts against compare mode itself at the sf0.001 size."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import inputs


def test_reference_bpe_merges_and_round_trip():
    texts = ["abab ab", "AB abc"]
    merges = inputs.reference_bpe(texts, vocab_size=260)
    # word table abab x1, ab x2, abc x1: (a,b) occurs 5 times; after it
    # is merged every remaining pair occurs once, below min_freq
    assert merges == [(ord("a"), ord("b"), 256, 5)]
    assert inputs.decode([256, 256, ord(" "), 256], merges) == b"abab ab"


def test_reference_bpe_stops_below_min_freq():
    assert inputs.reference_bpe(["xy"], vocab_size=300) == []


@pytest.mark.parametrize("seed", [1, 2])
def test_localized_damage_stays_in_few_chunks_and_in_range(tmp_path, seed):
    inp = inputs.make_migrate_inputs(str(tmp_path), seed, scale=0.1)
    inp["expected"] = inputs.expected_migrate(inp)
    exp = inp["expected"]["lineitem"]
    assert 2 <= len(exp["mismatched_chunks"]) <= 4
    assert exp["insert_rows"] > 0 and exp["delete_rows"] > 0
    src = pq.read_table(os.path.join(inp["src_dir"], "lineitem.parquet"))["l_orderkey"].to_numpy()
    tgt = pq.read_table(os.path.join(inp["damaged_dir"], "lineitem.parquet"))["l_orderkey"].to_numpy()
    assert src.min() <= tgt.min() and tgt.max() <= src.max()
    spread = inp["expected"]["orders"]
    assert spread["mismatched_chunks"] == list(range(inputs.N_CHUNKS))
    # one change per chunk plus 8 deletes and 8 inserts
    assert spread["insert_rows"] == inputs.N_CHUNKS + 8
    assert spread["delete_rows"] == inputs.N_CHUNKS + 8


def test_same_seed_same_inputs(tmp_path):
    a = inputs.make_migrate_inputs(str(tmp_path / "a"), 7, scale=0.1)
    b = inputs.make_migrate_inputs(str(tmp_path / "b"), 7, scale=0.1)
    assert inputs.expected_migrate(a) == inputs.expected_migrate(b)
    c = inputs.make_cdc_inputs(str(tmp_path / "c"), 7)
    d = inputs.make_cdc_inputs(str(tmp_path / "d"), 7)
    assert c["feed"].equals(d["feed"])


def test_cdc_feed_order_and_expected_state(tmp_path):
    inp = inputs.make_cdc_inputs(str(tmp_path), 3)
    mtimes = [os.stat(f).st_mtime for f in inp["files"]]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    feed = [pq.read_table(f) for f in inp["files"][:-1]]
    ids = np.concatenate([t["event_id"].to_numpy() for t in feed])
    assert (np.diff(ids) > 0).all()
    latest = {}
    for t in feed:
        for u, e in zip(t["user_id"].to_pylist(), t["event_id"].to_pylist()):
            latest[u] = max(latest.get(u, e), e)
    expected = inputs.expected_current_state(inp["feed"])
    assert {(u, e) for u, e, *_ in expected} == set(latest.items())
    # the redelivered drop repeats an earlier one, so the gate drops it
    again = pq.read_table(inp["files"][-1])["event_id"].to_numpy()
    assert again.max() < ids.max()


def test_damage_expectations_match_compare_mode(tmp_path):
    """The DuckDB-derived expectations equal what compare_tables reports
    (sf0.001-sized tables, two seeds)."""
    import run

    run.pin_environment(os.getcwd(), str(tmp_path / "work"))
    spark = run.start_session(str(tmp_path / "work"), None)
    from transferdb_spark.modes.compare_mode import compare_tables
    from transferdb_spark.sources.registry import load_table

    try:
        for seed in (1, 2):
            inp = inputs.make_migrate_inputs(str(tmp_path / f"in{seed}"), seed, scale=0.1)
            for t, exp in inputs.expected_migrate(inp).items():
                rep = compare_tables(
                    spark,
                    load_table(spark, inp["src_dir"], t),
                    load_table(spark, inp["damaged_dir"], t),
                    t,
                    str(tmp_path / f"cmp{seed}"),
                )
                got = {
                    "mismatched_chunks": rep.mismatched_chunks,
                    "insert_rows": rep.insert_rows,
                    "delete_rows": rep.delete_rows,
                }
                assert got == exp, (seed, t)
    finally:
        spark.stop()
