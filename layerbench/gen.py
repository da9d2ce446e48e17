"""Seeded input generator for the layer benchmark.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as parquet, with the schemas of the TPC-H-ish test data. The seed picks
every value, the row order of every table and a key offset per keyed
table, so two seeds give different files that exercise the same plans.

``replicas > 1`` builds a replica corpus: replica ``r`` adds ``r *
REPLICA_STRIDE`` to every key, rewrites every document token ``t`` as
``r<r>_<t>`` (disjoint token universes, so duplicate structure is copied
within a replica and never across replicas) and draws its embeddings
independently (noisy copies of shared vectors would make candidate
pairs grow quadratically). Row counts and key disjointness are checked
before the files are written.

Usage: python3 layerbench/gen.py OUT_DIR --sf 0.01 --seed 1 [--replicas 10]
"""

from __future__ import annotations

import argparse
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# rows per table at scale factor 1 (the fixed dims are not scaled)
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REPLICA_STRIDE = 100_000_000  # replica r's keys live in [r*S, (r+1)*S)
MAX_OFFSET = 1_000_000        # seed-chosen key offset, < REPLICA_STRIDE / 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "blue", "green", "hot", "cold", "new", "old", "small"]
NOUNS = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _replica(rng: np.random.Generator, sf: float, r: int,
             tag_tokens: bool) -> dict[str, dict]:
    """Column dicts for one replica; keys already shifted by replica r."""
    n = {t: max(1, int(round(k * sf))) for t, k in BASE_ROWS.items()}
    base = r * REPLICA_STRIDE
    off = {t: base + int(rng.integers(0, MAX_OFFSET))
           for t in ("customer", "supplier", "part", "orders", "events",
                     "documents", "embeddings")}
    ck = off["customer"] + np.arange(n["customer"])
    sk = off["supplier"] + np.arange(n["supplier"])
    pk = off["part"] + np.arange(n["part"])
    ok = off["orders"] + np.arange(n["orders"])
    out: dict[str, dict] = {}
    out["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    }
    out["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    }
    out["part"] = {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(ADJECTIVES, n["part"]), rng.choice(NOUNS, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    }
    out["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.choice(ck, n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n["orders"]), 2),
        "o_orderdate": _days(rng, n["orders"], dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    }
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": rng.choice(ok, nl),
        "l_partkey": rng.choice(pk, nl),
        "l_suppkey": rng.choice(sk, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }
    ne = n["events"]
    users = max(1, int(round(15_000 * sf)))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = {
        "event_id": off["events"] + np.arange(ne),
        "ts": t0 + rng.integers(0, 30 * 86_400 * 10**6, ne).astype(
            "timedelta64[us]"),
        "user_id": base + rng.integers(0, users, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    out["documents"] = _documents(rng, n["documents"], off["documents"],
                                  r if tag_tokens else None)
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, DIM))
    vec = rng.standard_normal((nv, DIM)) + 0.15 * centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": off["embeddings"] + np.arange(nv),
        "embedding": list(vec.astype(np.float32)),
        "label": labels.astype(np.int32),
    }
    return out


def _documents(rng, nd: int, off: int, replica: int | None) -> dict:
    """Uniform tokens over WORDS, 10-99 per doc; about 5 % of docs copy
    an earlier doc and append one or two ``dup`` tokens."""
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            toks = src.split() + ["dup"] * int(rng.integers(1, 3))
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    if replica is not None:
        texts = [" ".join(f"r{replica}_{t}" for t in s.split()) for s in texts]
    ids = off + np.arange(nd)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k % 20}" for k in ids],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }


def _table(cols: dict) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if k == "embedding":
            arrays[k] = pa.array([a.tolist() for a in v],
                                 type=pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def generate(out_dir: Path, sf: float, seed: int, replicas: int = 1) -> dict:
    """Write the input set to ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    parts = [_replica(rng, sf, r, replicas > 1) for r in range(replicas)]
    _check(parts, sf, replicas)
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    fixed = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
    }
    for name in TABLES:
        if name in fixed:
            tbl = _table(fixed[name])
        else:
            tbl = pa.concat_tables([_table(p[name]) for p in parts])
            tbl = tbl.take(rng.permutation(tbl.num_rows))  # seed row order
        pq.write_table(tbl, out_dir / f"{name}.parquet")
        rows[name] = tbl.num_rows
    return rows


_KEYS = {
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}


def _check(parts: list[dict], sf: float, replicas: int) -> None:
    """Row counts per table and disjoint key ranges across replicas."""
    for table, key in _KEYS.items():
        want = max(1, int(round(BASE_ROWS[table] * sf)))
        spans = []
        for p in parts:
            keys = np.asarray(p[table][key])
            if len(keys) != want or len(np.unique(keys)) != want:
                raise ValueError(f"{table}: {len(keys)} rows, want {want} "
                                 "distinct keys")
            spans.append((int(keys.min()), int(keys.max())))
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            if hi >= lo:
                raise ValueError(f"{table}: replica key ranges overlap")
    if replicas > 1:
        vocab = [{t.split("_", 1)[0] for s in p["documents"]["text"]
                  for t in s.split()} for p in parts]
        if any(len(v) != 1 for v in vocab) or len(set().union(*vocab)) != replicas:
            raise ValueError("documents: replica token universes overlap")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--replicas", type=int, default=1)
    a = ap.parse_args()
    print(generate(a.out_dir, a.sf, a.seed, a.replicas))


if __name__ == "__main__":
    main()
