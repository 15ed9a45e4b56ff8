"""Deterministic inputs for the benchmark.

Two kinds of input, both made here and never by the program under test:

* the base catalog: the ten TPC-H-ish tables the query catalog reads
  (region nation customer supplier part orders lineitem events documents
  embeddings), at a scale factor, with the same schemas, value domains and
  one-row-group-per-file layout the catalog's fixtures have.  It is fixed
  (``BASE_SEED``) so the per-task fingerprints in ``expected.json`` hold for
  every run seed;
* the CDC change stream: JSON change files against the ``orders`` keys,
  drawn from the run seed (``cdc_files``).

Everything is numpy-vectorised; sf0.1 generates in about two seconds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

_WORDS = (
    "a the data spark query table row column key value join group sort scan "
    "filter hash merge window stream batch vector agg order customer part "
    "line big small fast slow"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "new", "small")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "rod", "anvil", "nut", "pipe")
_PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    span = int((np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int))
    return np.datetime64(lo, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def base_tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n_part),
                                              _pick(rng, _PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("N", "R", "A"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i, n in enumerate(rng.integers(10, 101, n_docs)):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_emb, 64)) + 0.8 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def _generator_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_base_tables(root: str, sf: float) -> str:
    """Write the base catalog under ``root`` once per (sf, generator
    source) and return its directory; later runs reuse it."""
    out = os.path.join(root, f"sf{sf:g}-{_generator_digest()}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables(sf).items():
        # One row group per file, like the catalog's fixtures: a scan of
        # any one table is a single task unless the query repartitions.
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ---------------------------------------------------------------------------
# CDC change stream
# ---------------------------------------------------------------------------

CDC_COLUMNS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "string"),
    ("o_orderpriority", "string"),
    ("seq", "bigint"),
    ("op", "string"),
    ("change_id", "bigint"),
)


@dataclass(frozen=True)
class Traffic:
    """Shape of the change stream (recorded in BENCHMARK.json)."""

    rows_per_file: int = 2000
    hot_key_share: float = 0.05  # the newest 5 % of keys ...
    hot_row_share: float = 0.80  # ... receive 80 % of the rows
    late_share: float = 0.10  # rows carrying an older sequence
    delete_share: float = 0.02
    insert_share: float = 0.03  # brand-new keys
    tie_share: float = 0.01  # same (key, seq) twice; change_id decides
    late_max_files: int = 3  # how far back a late row's sequence reaches


SEQ_STRIDE = 1_000_000  # sequence numbers of file i lie in [i*STRIDE, (i+1)*STRIDE)


def cdc_files(
    seed: int,
    n_keys: int,
    first_file: int,
    n_files: int,
    next_key: int,
    traffic: Traffic = Traffic(),
) -> tuple[list[list[dict]], int]:
    """Change rows for files ``first_file .. first_file+n_files-1``.

    ``n_keys`` is the initial key count (keys ``0..n_keys-1`` come from
    ``orders``); ``next_key`` is the first unused key.  Returns the files'
    rows and the next unused key.  Deterministic in (seed, first_file):
    each file draws from its own ``SeedSequence`` child.
    """
    files = []
    for i in range(first_file, first_file + n_files):
        rng = np.random.default_rng([seed, i])
        n = traffic.rows_per_file
        n_ins = int(round(n * traffic.insert_share))
        n_old = n - n_ins
        hot_lo = max(next_key - int(n_keys * traffic.hot_key_share), 0)
        hot = rng.random(n_old) < traffic.hot_row_share
        keys = np.where(
            hot,
            rng.integers(hot_lo, next_key, n_old),
            rng.integers(0, next_key, n_old),
        )
        keys = np.concatenate([keys, np.arange(next_key, next_key + n_ins)])
        next_key += n_ins
        seqs = i * SEQ_STRIDE + 1 + rng.permutation(n)
        late = rng.random(n) < traffic.late_share
        back = rng.integers(1, traffic.late_max_files * SEQ_STRIDE, n)
        seqs = np.where(late, np.maximum(seqs - back, 1), seqs)
        ops = np.where(rng.random(n) < traffic.delete_share, "D", "U")
        # Ties: copy (key, seq) of another row; payload and change_id differ.
        n_tie = int(round(n * traffic.tie_share))
        src, dst = rng.choice(n, size=(2, n_tie), replace=False)
        keys[dst], seqs[dst] = keys[src], seqs[src]
        order = rng.permutation(n)
        cust = rng.integers(0, 150_000, n)
        status = rng.integers(0, len(_STATUS), n)
        price = np.round(rng.uniform(1000.0, 500_000.0, n), 2)
        day = rng.integers(0, 2400, n)
        prio = rng.integers(0, len(_PRIORITY), n)
        rows = []
        for j in order:
            rows.append({
                "o_orderkey": int(keys[j]),
                "o_custkey": int(cust[j]),
                "o_orderstatus": _STATUS[status[j]],
                "o_totalprice": float(price[j]),
                "o_orderdate": str((_EPOCH_1995 + np.timedelta64(int(day[j]), "D")).astype("M8[D]")),
                "o_orderpriority": _PRIORITY[prio[j]],
                "seq": int(seqs[j]),
                "op": str(ops[j]),
                "change_id": i * SEQ_STRIDE + int(j),
            })
        files.append(rows)
    return files, next_key


def write_cdc_file(path: str, rows: list[dict], mtime: float) -> None:
    """JSON lines, with an explicit mtime: the file source orders the
    files it discovers by modification time."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
