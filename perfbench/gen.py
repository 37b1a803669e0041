"""Seeded input generator for the benchmark.

The engine's ten fixture tables are synthesised from scratch: a fixed
base dataset per scale, then the run's ``--seed`` permutes the rows of
every table.  Schemas, row counts and value domains follow the fixture
files as they are at each scale.  Where FIXTURES.md reads differently,
the files win: every timestamp column is ``timestamp[us]`` (not ns or
ms), and ``events.user_id`` has 15, 150 and 1500 distinct values at
sf0.001, sf0.01 and sf0.1 (not 150 at every scale).  So
two seeds give different files with identical row counts and identical
op results (the ops are order-insensitive bags), which keeps the work
per run equal across seeds.

Each input set lives in ``<work>/inputs/<workload>/seed-<n>/`` beside a
``manifest.json`` of row counts and SHA-256 content hashes, keyed by the
generator's own source hash; a set whose files no longer match is
regenerated rather than trusted.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# The base dataset's own seed: fixed, so only the run seed varies.
BASE_SEED = 20240101
# Input sets kept per workload; older seeds are deleted.
KEEP_SETS = 4

_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Date-valued timestamps, uniform over [lo, hi] (epoch µs, midnights)."""
    return _ts(lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n) * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale: float) -> dict[str, pa.Table]:
    """The unpermuted dataset at ``scale`` (1.0 = the sf0.1 fixture sizes)."""
    rng = np.random.default_rng(BASE_SEED)
    n_sup, n_cust, n_part = int(1000 * scale), int(15000 * scale), int(20000 * scale)
    n_ord, n_li, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_emb = max(500, int(5000 * scale)), max(500, int(2000 * scale))
    n_users = max(1, int(1500 * scale))
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
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup, dtype=np.int32)),
        "s_acctbal": _money(rng, -1000, 10000, n_sup),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, [f"{a} {b}" for a in _ADJ for b in _NOUN], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": _money(rng, 0, 0.10, n_li),
        "l_tax": _money(rng, 0, 0.08, n_li),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4), n_li),
    })
    ev_lo = _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev_lo + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_doc)]
    # ~5% near-duplicates: an earlier document plus one extra word.
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return t


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _generator_version() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def _manifest_ok(out: Path, manifest: dict) -> bool:
    return manifest.get("generator") == _generator_version() and all(
        (out / f"{name}.parquet").is_file()
        and _sha256(out / f"{name}.parquet") == entry["sha256"]
        for name, entry in manifest["tables"].items()
    )


def ensure_inputs(work: Path, workload: str, scale: float, seed: int) -> dict:
    """Return {'dir', 'gen_s', 'cached', 'tables'} for (workload, seed),
    generating the input set unless a matching one is already on disk."""
    root = work / "inputs" / workload
    out = root / f"seed-{seed}"
    t0 = time.perf_counter()
    mpath = out / "manifest.json"
    if mpath.is_file():
        manifest = json.loads(mpath.read_text())
        if _manifest_ok(out, manifest):
            return {"dir": str(out), "gen_s": time.perf_counter() - t0,
                    "cached": True, "tables": manifest["tables"]}
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    tables = {}
    for name, table in base_tables(scale).items():
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = out / f"{name}.parquet"
        # One row group per file, like the fixtures.
        pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                       compression="snappy")
        tables[name] = {"rows": table.num_rows, "sha256": _sha256(path)}
    mpath.write_text(json.dumps({"generator": _generator_version(), "workload": workload,
                                 "scale": scale, "seed": seed, "tables": tables},
                                indent=1))
    sets = sorted((p for p in root.iterdir() if p.is_dir() and p != out),
                  key=lambda p: p.stat().st_mtime)
    for old in sets[: max(0, len(sets) - (KEEP_SETS - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return {"dir": str(out), "gen_s": time.perf_counter() - t0,
            "cached": False, "tables": tables}
