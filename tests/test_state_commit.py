"""Driver-side state commits (state/commit.py): fault injection on the
JSON state writers and on the batch-directory compaction swap, plus
the guard that keeps every rename/replace/link inside state/."""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import transferdb_spark


def _chunk_plan(wd):
    from transferdb_spark.plans.chunker import Chunk
    from transferdb_spark.state.store import FAILED, SUCCESS, StateStore

    st = StateStore(wd, "full")
    st.init_table("t", [Chunk(0, 1, 10, "k <= 10"), Chunk(1, 11, 20, "k >= 11")])

    def write(i):
        st.mark("t", i % 2, SUCCESS if i > 1 else FAILED)

    return write, lambda: StateStore(wd, "full").summary()


def _incr_sync_meta(wd):
    from transferdb_spark.state.store import IncrSyncMeta

    meta = IncrSyncMeta(wd, "incr")
    return (lambda i: meta.merge({"t": 100 * i})), lambda: IncrSyncMeta(wd, "incr").highs()


@pytest.mark.parametrize("writer", [_chunk_plan, _incr_sync_meta])
@pytest.mark.parametrize("fault", ["dump_raises", "dies_before_rename"])
def test_state_writer_fault_keeps_previous_file(tmp_path, monkeypatch, writer, fault):
    """A writer that fails mid-write, or dies between the write and the
    rename, leaves the previous state file loading intact."""
    wd = str(tmp_path)
    write, load = writer(wd)
    write(1)
    before = load()

    if fault == "dump_raises":
        def torn_dump(obj, fh, **kw):
            fh.write('{"torn')
            raise OSError("disk full mid-write")

        monkeypatch.setattr(json, "dump", torn_dump)
    else:
        def killed(src, dst):
            raise OSError("killed before the rename")

        monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(OSError):
        write(2)
    monkeypatch.undo()

    assert load() == before
    assert not [f for f in os.listdir(wd) if f.endswith(".tmp")]
    write(3)  # the store still commits after the fault
    assert load() != before


def _cdc_store(d):
    from transferdb_spark.streaming.incr import cdc_current_state, compact_cdc_log

    t0 = dt.datetime(2024, 1, 1)
    for b, rows in enumerate([[(1, 1, "a"), (2, 2, "b")], [(2, 3, "B"), (3, 4, "c")], [(1, 5, "A")]]):
        _land(d, b, {
            "k": pa.array([r[0] for r in rows], pa.int32()),
            "scn": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=r[1]) for r in rows], pa.timestamp("us")),
            "v": [r[2] for r in rows],
        })
    return (
        lambda spark: compact_cdc_log(spark, d, key="k", scn_col="scn"),
        lambda spark: cdc_current_state(spark, d, key="k", scn_col="scn"),
    )


def _corpus_store(d):
    from transferdb_spark.streaming.corpus import DIGEST_COL, compact_corpus, corpus_current_state

    for b, rows in enumerate([[(1, 11, "x"), (2, 12, "y")], [(3, 11, "x"), (4, 13, "z")], [(5, 12, "y")]]):
        _land(d, b, {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            DIGEST_COL: pa.array([r[1] for r in rows], pa.int64()),
            "text": [r[2] for r in rows],
        })
    return (lambda spark: compact_corpus(spark, d)), (lambda spark: corpus_current_state(spark, d))


def _sketch_store(d):
    from transferdb_spark.streaming.hotkeys import compact_sketch, sketch_current_state

    for b, rows in enumerate([[(0, 1, 2), (1, 4, 2)], [(0, 1, 3), (1, 5, 3)], [(0, 2, 1)]]):
        _land(d, b, {
            "row": pa.array([r[0] for r in rows], pa.int32()),
            "col": pa.array([r[1] for r in rows], pa.int32()),
            "cnt": pa.array([r[2] for r in rows], pa.int64()),
        })
    return (lambda spark: compact_sketch(spark, d)), (lambda spark: sketch_current_state(spark, d))


def _land(d, batch_id, cols):
    os.makedirs(os.path.join(d, f"batch_id={batch_id}"))
    pq.write_table(pa.table(cols), os.path.join(d, f"batch_id={batch_id}", "part-0.parquet"))


N_BATCHES = 3


@pytest.mark.parametrize("store", [_cdc_store, _corpus_store, _sketch_store])
@pytest.mark.parametrize("interrupt", [0, 1, N_BATCHES, "drop"])
def test_compaction_swap_recovers_from_interruption(spark, tmp_path, monkeypatch, store, interrupt):
    """A compaction interrupted after k of n aside-renames (k = n: the
    staged dir never went in), or after the staged dir went in but
    before the aside dirs were dropped: the next compaction call
    leaves the store's current state equal to its state before the
    interrupted one, with no aside or staged dir left behind."""
    d = str(tmp_path / "store")
    compact, current = store(d)

    def state():
        return sorted(tuple(r) for r in current(spark).collect())

    before = state()
    if interrupt == "drop":
        real_rmtree = shutil.rmtree

        def rmtree(path, *a, **kw):
            if os.path.basename(path).startswith("_old_"):
                raise OSError("killed before the aside dirs were dropped")
            real_rmtree(path, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree)
    else:
        real_rename, renamed = os.rename, []

        def rename(src, dst):
            if len(renamed) == interrupt:
                raise OSError(f"killed after {interrupt} renames")
            renamed.append(src)
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError):
        compact(spark)
    monkeypatch.undo()

    compact(spark)
    assert state() == before
    # the CDC log lands its snapshot at the highest folded id, the
    # first-wins stores at the lowest
    assert sorted(os.listdir(d)) == [f"batch_id={N_BATCHES - 1 if store is _cdc_store else 0}"]


def test_renames_and_links_live_only_in_state_package():
    """Every rename, replace and link in the package is a commit
    decision, and those live in transferdb_spark/state/ (commit.py)."""
    pkg = Path(transferdb_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if rel.parts[0] == "state":
            continue
        tree = ast.parse(path.read_text())
        os_names = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.Import)
            for a in n.names
            if a.name == "os"
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Attribute)
                and n.attr in {"rename", "replace", "link"}
                and isinstance(n.value, ast.Name)
                and n.value.id in os_names
            ) or (
                isinstance(n, ast.ImportFrom)
                and n.module == "os"
                and {a.name for a in n.names} & {"rename", "replace", "link"}
            ):
                offenders.append(f"{rel}:{n.lineno}")
    assert not offenders, offenders
