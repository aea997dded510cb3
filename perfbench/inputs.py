"""Seeded input generators and independent expected outputs.

Every workload input is made here from numbers alone: the base tables
come from a fixed internal seed, and the workload seed only picks the
damage, the change feed and the document sample. Expected outputs are
computed separately (they are not part of the timed set-up) and without
the engine under test (numpy, pyarrow, DuckDB or plain Python), so the
benchmark's output checks are independent of it.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_CHUNKS = 32  # the CLI default chunk count

# base table sizes (rows); the shapes follow the fixture schema
N_CUSTOMERS = 1_500  # o_custkey range
N_ORDERS = 15_000
N_LINEITEM = 60_000

_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------- migrate


def base_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """orders / lineitem with the fixture's column types; `scale`
    multiplies the row counts (0.1 is the size of the sf0.001 fixture).
    Foreign-key ranges scale too, as in the fixture, so the key with the
    most distinct values (the split key compare mode elects) stays
    o_orderkey / l_orderkey at every scale."""
    rng = np.random.default_rng(BASE_SEED)
    n_orders, n_lineitem = int(N_ORDERS * scale), int(N_LINEITEM * scale)
    n_cust, n_part, n_supp = int(N_CUSTOMERS * scale), int(2000 * scale), max(1, int(100 * scale))
    ok = np.arange(n_orders, dtype="int64")
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day = 86_400_000_000
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": status[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_orders) * day),
            "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
        }
    )
    lk = np.sort(rng.integers(0, n_orders, n_lineitem)).astype("int64")
    flags, lstat = np.array(["A", "N", "R"]), np.array(["F", "O"])
    lineitem = pa.table(
        {
            "l_orderkey": lk,
            "l_partkey": rng.integers(0, n_part, n_lineitem).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_lineitem).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_lineitem).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_lineitem).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lineitem), 2),
            "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
            "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, n_lineitem)],
            "l_linestatus": lstat[rng.integers(0, 2, n_lineitem)],
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2500, n_lineitem) * day),
        }
    )
    return {"orders": orders, "lineitem": lineitem}


KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
# the column a modification bumps, and by how much
_MODIFY = {"orders": ("o_totalprice", 1.0), "lineitem": ("l_quantity", 1.0)}


def chunk_grid(keys: np.ndarray, n_chunks: int = N_CHUNKS) -> tuple[int, int]:
    """(lo, width) of the chunk grid compare mode plans from the
    SOURCE min/max (width = (hi - lo) // n + 1)."""
    lo, hi = int(keys.min()), int(keys.max())
    return lo, (hi - lo) // n_chunks + 1


def damage(table: pa.Table, name: str, rng: np.random.Generator, localized: bool) -> pa.Table:
    """Seeded deletes, value changes and inserted rows.

    localized=True confines the damage to a seeded few chunk ranges
    (the lineitem rule); False spreads one change over every chunk plus
    a few deletes and inserts at random positions (the orders rule).
    Inserted keys are drawn inside the source key range, so no target
    row lands outside the grid the source defines."""
    key = KEYS[name]
    keys = table[key].to_numpy()
    lo, width = chunk_grid(keys)
    cid = np.minimum((keys - lo) // width, N_CHUNKS - 1)
    n = len(keys)
    if localized:
        chunks = rng.choice(N_CHUNKS, size=int(rng.integers(2, 5)), replace=False)
        pool = [np.flatnonzero(cid == c) for c in chunks]
        picked = [rng.choice(p, size=int(rng.integers(6, 16)), replace=False) for p in pool]
        rows = np.concatenate(picked)
        third = len(rows) // 3
        deletes, modifies, ins_src = rows[:third], rows[third : 2 * third], rows[2 * third :]
    else:
        modifies = np.array([rng.choice(np.flatnonzero(cid == c)) for c in range(N_CHUNKS)])
        rest = np.setdiff1d(np.arange(n), modifies)
        extra = rng.choice(rest, size=16, replace=False)
        deletes, ins_src = extra[:8], extra[8:]

    col, delta = _MODIFY[name]
    values = table[col].to_numpy().copy()
    values[modifies] = values[modifies] + delta
    damaged = table.set_column(table.schema.get_field_index(col), col, pa.array(values))
    keep = np.ones(n, dtype=bool)
    keep[deletes] = False
    # inserted rows copy a source row's payload under a key drawn from
    # that row's own chunk range, and bump the changed column so the
    # row is never an exact duplicate of a source row
    new = table.take(pa.array(ins_src))
    new_keys = np.array(
        [
            rng.integers(lo + c * width, min(lo + (c + 1) * width - 1, int(keys.max())) + 1)
            for c in cid[ins_src]
        ],
        dtype="int64",
    )
    new = new.set_column(new.schema.get_field_index(key), key, pa.array(new_keys))
    nvals = new[col].to_numpy() + 2 * delta
    new = new.set_column(new.schema.get_field_index(col), col, pa.array(nvals))
    return pa.concat_tables([damaged.filter(pa.array(keep)), new])


def expected_compare(src_path: str, tgt_path: str, key: str) -> dict:
    """What compare mode must report, derived with DuckDB: the chunk ids
    whose row multisets differ and the EXCEPT ALL counts both ways."""
    import duckdb

    con = duckdb.connect()
    try:
        lo, hi = con.execute(f"SELECT min({key}), max({key}) FROM '{src_path}'").fetchone()
        width = (hi - lo) // N_CHUNKS + 1
        cid = f"least(greatest(({key} - {lo}) // {width}, 0), {N_CHUNKS - 1})"
        ins = f"SELECT * FROM '{src_path}' EXCEPT ALL SELECT * FROM '{tgt_path}'"
        dels = f"SELECT * FROM '{tgt_path}' EXCEPT ALL SELECT * FROM '{src_path}'"
        n_ins = con.execute(f"SELECT count(*) FROM ({ins})").fetchone()[0]
        n_del = con.execute(f"SELECT count(*) FROM ({dels})").fetchone()[0]
        chunks = con.execute(
            f"SELECT DISTINCT {cid} AS c FROM (({ins}) UNION ALL ({dels})) ORDER BY c"
        ).fetchall()
    finally:
        con.close()
    return {
        "mismatched_chunks": [int(c) for (c,) in chunks],
        "insert_rows": int(n_ins),
        "delete_rows": int(n_del),
    }


def make_migrate_inputs(root: str, seed: int, scale: float = 1.0) -> dict:
    """Source tables under root/src and damaged lineitem/orders targets
    under root/damaged."""
    rng = np.random.default_rng(seed)
    tables = base_tables(scale)
    for name, t in tables.items():
        _write(t, os.path.join(root, "src", f"{name}.parquet"))
    for name, localized in (("lineitem", True), ("orders", False)):
        _write(damage(tables[name], name, rng, localized), os.path.join(root, "damaged", f"{name}.parquet"))
    return {
        "src_dir": os.path.join(root, "src"),
        "damaged_dir": os.path.join(root, "damaged"),
        "rows": {n: t.num_rows for n, t in tables.items()},
    }


def expected_migrate(inp: dict) -> dict:
    """The compare report of every damaged target against its source."""
    return {
        name: expected_compare(
            os.path.join(inp["src_dir"], f"{name}.parquet"),
            os.path.join(inp["damaged_dir"], f"{name}.parquet"),
            key,
        )
        for name, key in KEYS.items()
    }


# -------------------------------------------------------------------- cdc

CDC_DROPS = 6
CDC_ROWS_PER_DROP = 800
_OPS = np.array(["click", "view", "purchase", "signup", "error"])


def make_cdc_inputs(root: str, seed: int) -> dict:
    """A change feed of event rows keyed by user_id, cut into drops.

    After the first drop a seeded share of rows are later UPDATE images
    of user_ids already seen; the rest introduce new users. event_id is
    the SCN and rises strictly across drops. One seeded drop is
    redelivered after the last one, so the SCN gate must drop it. File
    mtimes rise strictly, so file order is SCN order."""
    rng = np.random.default_rng(seed)
    update_share = float(rng.uniform(0.3, 0.7))
    n_drops = CDC_DROPS
    n = n_drops * CDC_ROWS_PER_DROP
    users = np.empty(n, dtype="int64")
    seen = 0
    for i in range(n):
        if i >= CDC_ROWS_PER_DROP and rng.random() < update_share:
            users[i] = rng.integers(0, seen)
        else:
            users[i] = seen
            seen += 1
    event_id = np.arange(1_000, 1_000 + n, dtype="int64")
    ts = 1_704_067_200_000_000 + np.cumsum(rng.integers(1, 300_000_000, n))
    feed = pa.table(
        {
            "event_id": event_id,
            "ts": _ts(ts),
            "user_id": users,
            "event_type": _OPS[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0.01, 500.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    drops_dir = os.path.join(root, "drops")
    os.makedirs(drops_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    files = []
    for d in range(n_drops):
        path = _write(
            feed.slice(d * CDC_ROWS_PER_DROP, CDC_ROWS_PER_DROP),
            os.path.join(drops_dir, f"drop_{d:04d}.parquet"),
        )
        os.utime(path, (base_mtime + d, base_mtime + d))
        files.append(path)
    redelivered = int(rng.integers(0, n_drops - 1))
    again = _write(
        feed.slice(redelivered * CDC_ROWS_PER_DROP, CDC_ROWS_PER_DROP),
        os.path.join(drops_dir, f"drop_{n_drops:04d}_redelivery.parquet"),
    )
    os.utime(again, (base_mtime + n_drops, base_mtime + n_drops))
    files.append(again)
    return {
        "drops_dir": drops_dir,
        "files": files,
        "rows_in": n + CDC_ROWS_PER_DROP,
        "redelivered_rows": CDC_ROWS_PER_DROP,
        "update_share": update_share,
        "feed": feed,
    }


def expected_current_state(feed: pa.Table) -> list[tuple]:
    """Latest image per user_id (highest event_id), as sorted tuples of
    (user_id, event_id, ts µs, event_type, value, props)."""
    latest: dict[int, tuple] = {}
    cols = feed.to_pydict()
    ts_us = feed["ts"].cast(pa.int64()).to_pylist()
    for i, u in enumerate(cols["user_id"]):
        row = (u, cols["event_id"][i], ts_us[i], cols["event_type"][i], cols["value"][i], cols["props"][i])
        if u not in latest or row[1] > latest[u][1]:
            latest[u] = row
    return sorted(latest.values())


# --------------------------------------------------------------- tokenize

N_BASE_DOCS = 2_000
N_SAMPLE_DOCS = 600
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_RARE = ["dup", "schema", "chunk", "replica", "redo", "checksum", "über", "naïve"]


def base_documents() -> pa.Table:
    """The fixed base corpus: docs over a small word vocabulary with a
    few rare and non-ASCII words and a share of exact duplicates."""
    rng = np.random.default_rng(BASE_SEED)
    texts = []
    for i in range(N_BASE_DOCS):
        if i > 10 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n = int(rng.integers(8, 90))
        words = [
            _RARE[int(rng.integers(0, len(_RARE)))] if rng.random() < 0.03 else _WORDS[int(w)]
            for w in rng.integers(0, len(_WORDS), n)
        ]
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    return pa.table(
        {
            "doc_id": np.arange(N_BASE_DOCS, dtype="int64"),
            "text": texts,
            "lang": langs[rng.integers(0, 5, N_BASE_DOCS)],
            "source": [f"src{s}" for s in rng.integers(0, 20, N_BASE_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def make_tokenize_inputs(root: str, seed: int, vocab_size: int) -> dict:
    """A seeded sample of the base corpus as root/documents.parquet."""
    rng = np.random.default_rng(seed)
    docs = base_documents()
    pick = np.sort(rng.choice(docs.num_rows, size=N_SAMPLE_DOCS, replace=False))
    sample = docs.take(pa.array(pick))
    _write(sample, os.path.join(root, "documents.parquet"))
    return {
        "docs_dir": root,
        "vocab_size": vocab_size,
        "texts": dict(zip(sample["doc_id"].to_pylist(), sample["text"].to_pylist())),
    }


_SPLIT = re.compile(r"[\s\x00-\x1f]+")


def reference_bpe(texts: list[str], vocab_size: int, min_freq: int = 2) -> list[tuple[int, int, int, int]]:
    """Plain-Python byte-level BPE over the whitespace word table:
    lowercased words split on whitespace/control characters, the most
    frequent adjacent pair merged greedily left to right, ties broken
    on the smallest (left, right), stop below min_freq."""
    counts = Counter(w for t in texts for w in _SPLIT.split(t.strip().lower()) if w)
    words = [(list(w.encode("utf-8")), c) for w, c in counts.items()]
    merges = []
    for step in range(vocab_size - 256):
        pairs: Counter = Counter()
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (left, right), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_freq:
            break
        new_id = 256 + step
        merges.append((left, right, new_id, freq))
        merged = []
        for syms, c in words:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(new_id)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged.append((out, c))
        words = merged
    return merges


def decode(token_ids: list[int], merges: list[tuple[int, int, int, int]]) -> bytes:
    vocab = {i: bytes([i]) for i in range(256)}
    for left, right, new_id, _ in merges:
        vocab[new_id] = vocab[left] + vocab[right]
    return b"".join(vocab[t] for t in token_ids)
