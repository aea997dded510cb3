"""Workload parts (migrate, cdc, tokenize) and the workloads built of them.

Each part makes its inputs, derives the expected outputs, runs one
operation and checks it. Parts drive the engine's public mode functions
only. `generate` is timed as set-up; `expect` is not, because it runs
the benchmark's own oracles. `op` returns the phase timings and
whatever the checks need; `check` returns one (call, ok, detail) row
per public call made, so a wrong output counts as a failed call.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pyarrow.parquet as pq

import inputs

TIMEOUT_S = 120  # a stream that has not caught up by then is a failure


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _span(tracer, name, **attrs):
    """A span of the traced run; nothing when untraced."""
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext({})


class Migrate:
    """full -> verify -> repair over the orders/lineitem schema."""

    name = "migrate"
    phases = (("full_s", "s"), ("verify_s", "s"), ("repair_s", "s"))
    tables = ("orders", "lineitem")
    damaged = ("lineitem", "orders")

    def generate(self, root: str, seed: int) -> dict:
        return inputs.make_migrate_inputs(root, seed)

    def expect(self, inp: dict) -> None:
        inp["expected"] = inputs.expected_migrate(inp)

    def op(self, spark, inp: dict, wd: str, tracer=None) -> dict:
        from transferdb_spark.modes.compare_mode import compare_tables
        from transferdb_spark.modes.full import full_migrate
        from transferdb_spark.sources.registry import load_table

        _fresh(wd)
        t0 = time.perf_counter()
        with _span(tracer, "full"):
            out = full_migrate(spark, inp["src_dir"], wd)
        t1 = time.perf_counter()
        verify = {}
        with _span(tracer, "verify", jobs=False):
            for t in self.tables:
                src = load_table(spark, inp["src_dir"], t)
                with _span(tracer, "compare"):
                    verify[t] = compare_tables(
                        spark, src, spark.read.parquet(out[t]), t, os.path.join(wd, "verify")
                    )
        t2 = time.perf_counter()
        repair = {}
        with _span(tracer, "repair", jobs=False):
            for t in self.damaged:
                src = load_table(spark, inp["src_dir"], t)
                tgt = load_table(spark, inp["damaged_dir"], t)
                with _span(tracer, "compare"):
                    repair[t] = compare_tables(spark, src, tgt, t, os.path.join(wd, "repair"))
        t3 = time.perf_counter()
        return {
            "op_s": t3 - t0,
            "phases": {"full_s": [t1 - t0], "verify_s": [t2 - t1], "repair_s": [t3 - t2]},
            "targets": out,
            "verify": verify,
            "repair": repair,
        }

    def check(self, res: dict, inp: dict) -> list[tuple[str, bool, str]]:
        rows = []
        counts = {t: pq.read_table(p).num_rows for t, p in res["targets"].items()}
        ok = counts == inp["rows"]
        rows.append(("full_migrate", ok, f"target rows {counts} vs source {inp['rows']}"))
        for t, rep in res["verify"].items():
            ok = rep.is_equal and rep.insert_rows == rep.delete_rows == 0
            rows.append((f"compare_tables clean {t}", ok, f"mismatched={rep.mismatched_chunks}"))
        for t, rep in res["repair"].items():
            exp = inp["expected"][t]
            got = {
                "mismatched_chunks": rep.mismatched_chunks,
                "insert_rows": rep.insert_rows,
                "delete_rows": rep.delete_rows,
            }
            with open(rep.fix_sql_path, encoding="utf-8") as fh:
                stmts = sum(1 for line in fh if not line.startswith("--"))
            ok = got == exp and stmts == exp["insert_rows"] + exp["delete_rows"]
            rows.append((f"compare_tables damaged {t}", ok, f"got {got} fix-sql {stmts} expected {exp}"))
        return rows


class Cdc:
    """Catch-up replay of a seeded change feed, one drop per batch."""

    name = "cdc"
    phases = (("cdc_catchup_s", "s"), ("cdc_batch_ms", "ms"))

    def generate(self, root: str, seed: int) -> dict:
        return inputs.make_cdc_inputs(root, seed)

    def expect(self, inp: dict) -> None:
        inp["expected"] = inputs.expected_current_state(inp["feed"])

    def _stage(self, files: list[str], wd: str) -> str:
        """Link the drops into a fresh source directory (links keep the
        rising mtimes)."""
        src = _fresh(os.path.join(wd, "src"))
        for f in files:
            os.link(f, os.path.join(src, os.path.basename(f)))
        return src

    def _replay(self, spark, src: str, wd: str):
        from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

        q = apply_cdc_stream(
            stream_events(spark, src, max_files_per_trigger=1),
            os.path.join(wd, "tgt"),
            os.path.join(wd, "ckpt"),
            key="user_id",
            scn_col="event_id",
        )
        return q, q.awaitTermination(TIMEOUT_S)

    def _current(self, spark, wd: str) -> list[tuple]:
        from pyspark.sql import functions as F

        from transferdb_spark.streaming.incr import cdc_current_state

        cur = cdc_current_state(spark, os.path.join(wd, "tgt"), key="user_id", scn_col="event_id")
        return [
            tuple(r)
            for r in cur.select(
                "user_id", "event_id", F.unix_micros("ts"), "event_type", "value", "props"
            ).collect()
        ]

    def op(self, spark, inp: dict, wd: str, tracer=None) -> dict:
        _fresh(wd)
        src = self._stage(inp["files"], wd)
        t0 = time.perf_counter()
        with _span(tracer, "incr.catchup") as sp:
            q, done = self._replay(spark, src, wd)
            sp["query_id"] = str(q.id)
            if not done:
                q.stop()
        t1 = time.perf_counter()
        with _span(tracer, "incr.current_state"):
            state = self._current(spark, wd)
        t2 = time.perf_counter()
        progress = [p for p in q.recentProgress if "batchId" in p]
        batch_ms = [float(p["durationMs"].get("triggerExecution", 0)) for p in progress]
        return {
            "op_s": t2 - t0,
            "phases": {"cdc_catchup_s": [t2 - t0], "cdc_batch_ms": batch_ms},
            "stream_done": done,
            "progress": progress,
            "state": sorted(state),
            "current_state_s": t2 - t1,
            "target": os.path.join(wd, "tgt"),
        }

    def check(self, res: dict, inp: dict) -> list[tuple[str, bool, str]]:
        n_files = len(inp["files"])
        batches = len(res["progress"])
        ok = res["stream_done"] and batches == n_files
        rows = [("apply_cdc_stream", ok, f"finished={res['stream_done']} batches={batches}/{n_files}")]
        exp = inp["expected"]
        ok = res["state"] == exp
        diff = len(set(res["state"]) ^ set(exp))
        rows.append(("cdc_current_state", ok, f"{len(res['state'])} keys vs {len(exp)} expected, {diff} differ"))
        return rows


class Tokenize:
    """BPE fit on a seeded document sample, then the Arrow-UDF encode."""

    name = "tokenize"
    phases = (("tokenize_s", "s"), ("bpe_train_s", "s"), ("bpe_encode_s", "s"))
    # 12 merge rounds; the pipeline mode's default (280) runs 24 and
    # would double the operation without exercising anything new
    vocab_size = 268

    def generate(self, root: str, seed: int) -> dict:
        return inputs.make_tokenize_inputs(root, seed, self.vocab_size)

    def expect(self, inp: dict) -> None:
        inp["expected_merges"] = inputs.reference_bpe(list(inp["texts"].values()), inp["vocab_size"])

    def op(self, spark, inp: dict, wd: str, tracer=None) -> dict:
        from transferdb_spark.ext.bpe import encode_ids_df, train_bytes
        from transferdb_spark.sources.registry import load_table

        _fresh(wd)
        enc_dir = os.path.join(wd, "encoded")
        t0 = time.perf_counter()
        docs = load_table(spark, inp["docs_dir"], "documents").select("doc_id", "text")
        with _span(tracer, "ext.train"):
            merges = train_bytes(docs, vocab_size=inp["vocab_size"])
        t1 = time.perf_counter()
        with _span(tracer, "ext.encode"):
            encode_ids_df(docs, merges).write.mode("overwrite").parquet(enc_dir)
        t2 = time.perf_counter()
        return {
            "op_s": t2 - t0,
            "phases": {"tokenize_s": [t2 - t0], "bpe_train_s": [t1 - t0], "bpe_encode_s": [t2 - t1]},
            "merges": merges,
            "encoded": enc_dir,
        }

    def check(self, res: dict, inp: dict) -> list[tuple[str, bool, str]]:
        exp = inp["expected_merges"]
        ok = [tuple(m) for m in res["merges"]] == [tuple(m) for m in exp]
        rows = [("train_bytes", ok, f"{len(res['merges'])} merges vs {len(exp)} from the reference trainer")]
        enc = pq.read_table(res["encoded"]).to_pydict()
        bad = 0
        for doc_id, n, ids in zip(enc["doc_id"], enc["n_tokens"], enc["token_ids"]):
            text = inp["texts"].get(doc_id)
            if text is None or n != len(ids) or inputs.decode(ids, exp) != text.lower().encode("utf-8"):
                bad += 1
        ok = bad == 0 and sorted(enc["doc_id"]) == sorted(inp["texts"])
        rows.append(("encode_ids_df", ok, f"{len(enc['doc_id'])} docs encoded, {bad} fail the decode round trip"))
        return rows


class Workload:
    """A named sequence of parts; one operation runs every part once."""

    def __init__(self, name: str, *parts):
        self.name = name
        self.parts = parts
        self.phases = tuple(ph for p in parts for ph in p.phases)

    def generate(self, root: str, seed: int) -> dict:
        return {p.name: p.generate(os.path.join(root, p.name), seed) for p in self.parts}

    def expect(self, inp: dict) -> None:
        """Add every part's expected outputs to its inputs."""
        for p in self.parts:
            p.expect(inp[p.name])

    def op(self, spark, inp: dict, wd: str, tracer=None) -> dict:
        t0 = time.perf_counter()
        parts = {p.name: p.op(spark, inp[p.name], os.path.join(wd, p.name), tracer) for p in self.parts}
        return {
            "op_s": time.perf_counter() - t0,
            "phases": {k: v for r in parts.values() for k, v in r["phases"].items()},
            "parts": parts,
        }

    def check(self, res: dict, inp: dict) -> list[tuple[str, bool, str]]:
        return [row for p in self.parts for row in p.check(res["parts"][p.name], inp[p.name])]


# migrate is the bulk path: few, large jobs. cdc_tokenize is the
# per-job path: one micro-batch per drop, then one driver round trip
# per BPE merge round and an Arrow UDF pass.
WORKLOADS = {
    w.name: w for w in (Workload("migrate", Migrate()), Workload("cdc_tokenize", Cdc(), Tokenize()))
}
