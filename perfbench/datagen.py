"""Deterministic input tables for the benchmark.

The engine reads a TPC-H-shaped star schema (one parquet file per table)
plus the LLM-corpus tables ``documents`` and ``embeddings``. This module
writes such a directory from a fixed generator seed, with the column
names, types and value ranges the engine's queries and its DuckDB oracle
expect:

- ``base/``: one scale factor of every table (``SF`` below);
- ``kcopies/``: ``K`` disjoint copies of ``base`` ``lineitem`` + ``part``,
  the only tables the daily pipeline's fixtures read. Copy ``j`` adds
  ``j * KEY_STRIDE`` to ``p_partkey``/``l_partkey``. The stride is a
  multiple of 70 = lcm(10, 7, 5), so the fixture rules of
  ``plans/fixtures.py`` (``% 10 = 3`` untracked, ``% 7 = 0`` shrinks,
  ``% 5 = 0`` conflicting dim row) hold in every copy.

The inputs do not depend on the benchmark's ``--seed``: the seed picks
the processing days and the order of operations, never the data, so a
fault that the data exposes shows on every seed or on none.

Rebuild by hand (the benchmark also does it on first use):

    python3 perfbench/datagen.py [--sf 0.01]
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so stale caches are rebuilt
VERSION = 1
GEN_SEED = 20261018
SF = 0.01
K = 8
KEY_STRIDE = 70 * 100  # > rows of base part at SF, multiple of 70

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings",
]

_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
#: A 64-token document with 9 stopwords: its exact quality score is
#: 139/160 = 0.86875, a half-way case for 4-decimal rounding. Kept in
#: every corpus as a fixed regression row.
HALFWAY_DOC = (
    "value part group agg data fast a vector the key spark vector batch "
    "small line filter window column hash merge vector batch a hash value "
    "filter window spark key scan customer query filter spark join spark "
    "batch spark merge column customer vector sort part spark part query "
    "group the order a sort vector agg a spark the group a spark a sort "
    "merge value"
)


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = days_since_epoch.astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float = SF, seed: int = GEN_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(50_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _ts(rng.integers(_days(1995, 1, 2), _days(2001, 11, 5), n_line)),
    })

    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    # near-duplicates (one token swapped) and exact duplicates, so the
    # dedup and similarity operators have true positives to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        toks = texts[int(rng.integers(0, n_doc))].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_VOCAB))
        texts[i] = " ".join(toks)
    for i in rng.choice(n_doc, max(1, n_doc // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    texts[n_doc // 2] = HALFWAY_DOC
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def kcopies(base: dict[str, pa.Table], k: int = K) -> dict[str, pa.Table]:
    part, line = base["part"], base["lineitem"]
    assert KEY_STRIDE % 70 == 0 and KEY_STRIDE > part.num_rows
    parts, lines = [], []
    for j in range(k):
        off = j * KEY_STRIDE
        parts.append(part.set_column(0, "p_partkey", pa.array(
            part["p_partkey"].to_numpy() + off, pa.int64())))
        i = line.schema.get_field_index("l_partkey")
        lines.append(line.set_column(i, "l_partkey", pa.array(
            line["l_partkey"].to_numpy() + off, pa.int64())))
    return {"part": pa.concat_tables(parts), "lineitem": pa.concat_tables(lines)}


def digest(d: str) -> str:
    """sha256 over the names and bytes of the parquet files in ``d``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write(tables: dict[str, pa.Table], d: str) -> None:
    os.makedirs(d, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"), compression="snappy")


def build(out: str, sf: float = SF) -> dict:
    """Write ``base/`` and ``kcopies/`` under ``out`` and a manifest of
    their digests; returns the manifest."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    base = base_tables(sf)
    _write(base, os.path.join(tmp, "base"))
    _write(kcopies(base), os.path.join(tmp, "kcopies"))
    last = max(base["lineitem"]["l_shipdate"].to_pylist())
    manifest = {
        "version": VERSION, "sf": sf, "k": K, "gen_seed": GEN_SEED,
        "last_sale_date": last.date().isoformat(),
        "digests": {z: digest(os.path.join(tmp, z)) for z in ("base", "kcopies")},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest


def ensure(out: str, sf: float = SF) -> tuple[dict, float]:
    """Build ``out`` unless its manifest records these parameters; then
    check every zone against its recorded digest. Returns the manifest
    and the seconds spent building (0 when the inputs were there)."""
    path = os.path.join(out, "manifest.json")
    manifest, build_s = None, 0.0
    if os.path.exists(path):
        with open(path) as f:
            manifest = json.load(f)
    params = {"version": VERSION, "sf": sf, "k": K, "gen_seed": GEN_SEED}
    if manifest is None or any(manifest.get(p) != v for p, v in params.items()):
        t = time.perf_counter()
        manifest = build(out, sf)
        build_s = time.perf_counter() - t
    for zone, want in manifest["digests"].items():
        got = digest(os.path.join(out, zone))
        if got != want:
            raise SystemExit(f"input digest mismatch in {out}/{zone}: {got} != {want}")
    return manifest, build_s


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--out", help="default: perfbench/.data/sf<SF>, where run.py looks")
    a = ap.parse_args()
    out = a.out or os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data", f"sf{a.sf}")
    print(json.dumps(build(out, a.sf), indent=1))
