"""Seeded generator for the ten fixture tables the query registry reads.

The shapes follow the fixture family described in FIXTURES.md: a TPC-H-like
star schema (region, nation, customer, supplier, part, orders, lineitem), an
``events`` stream table, a ``documents`` text corpus with planted near
duplicates (an earlier document plus a trailing `` dup``) and a 64-dim
``embeddings`` table. Every column is drawn from the seed; row counts come
from the scale alone, so two seeds give inputs of the same size and only the
values (and therefore hash layouts, ties and join fan-outs) differ.

``x10`` families follow ``bench_scaling.ensure_full_scale_dir``: orders and
lineitem are replicated ten times with one shared order-key shift so every
copied line still joins its copied order, events are replicated with shifted
ids, documents and embeddings are drawn fresh at ten times the rows, and the
dimension tables stay fixed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Row counts per base scale. ``sf0.01`` matches the fixture family of that
#: name; ``sf0.001`` is the smoke scale.
BASE_ROWS = {
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "documents": 500, "embeddings": 500},
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200,
                "orders": 1500, "lineitem": 6000, "events": 1000,
                "documents": 500, "embeddings": 500},
}

#: Bumped whenever the recipe changes, so cached families are rebuilt.
RECIPE_VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 100, n)
    flat = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(flat[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # Planted near duplicates: a later document repeats an earlier one with
    # a marker token appended, the shape the dedup keys are written for. The
    # count is fixed so every seed gives the dedup keys the same amount of
    # work; only the positions and texts vary.
    for i in rng.choice(np.arange(1, n), int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    bound = 1.0 / np.sqrt(3.0)
    mat = rng.uniform(-bound, bound, (n, 64)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(mat.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _write_base(out_dir: str, rows: dict, rng) -> None:
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]  # noqa: E731
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    n = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -1000.0, 10000.0, n),
        "c_mktsegment": pick(SEGMENTS, n),
    })
    n = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -1000.0, 10000.0, n),
    })
    n = rows["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(
            np.char.add(np.char.add(pick(PART_ADJ, n), " "), pick(PART_NOUN, n))
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pick(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n = rows["orders"]
    o_lo, o_days = _us("1995-01-01"), 2404  # through 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(o_lo + rng.integers(0, o_days + 1, n) * _DAY_US),
        "o_orderpriority": pick(PRIORITIES, n),
    })
    n = rows["lineitem"]
    l_lo, l_days = _us("1995-01-02"), 2498  # through 2001-11-04
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": _ts(l_lo + rng.integers(0, l_days + 1, n) * _DAY_US),
    })
    n = rows["events"]
    e_lo = _us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(e_lo + np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(
            rng.integers(0, max(rows["customer"] // 10, 1), n), pa.int64()
        ),
        "event_type": pick(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })
    _write(out_dir, "documents", _documents(rng, rows["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, rows["embeddings"]))


def _write_scaled(base_dir: str, out_dir: str, k: int, rows: dict, rng) -> None:
    from bench_scaling import _replicate_keyed

    shifts = {
        "orders": {"o_orderkey": rows["orders"]},
        "lineitem": {"l_orderkey": rows["orders"]},
        "events": {"event_id": rows["events"]},
    }
    for name, shift in shifts.items():
        _replicate_keyed(os.path.join(base_dir, f"{name}.parquet"),
                         os.path.join(out_dir, f"{name}.parquet"), k, shift)
    _write(out_dir, "documents", _documents(rng, rows["documents"] * k))
    _write(out_dir, "embeddings", _embeddings(rng, rows["embeddings"] * k))
    for dim in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(os.path.join(base_dir, f"{dim}.parquet"),
                        os.path.join(out_dir, f"{dim}.parquet"))


def ensure_family(cache_dir: str, base: str, scale: int, seed: int) -> str:
    """Return a directory holding the ten tables for (base, scale, seed).

    The family is cached under ``cache_dir`` keyed by the recipe version,
    base scale, multiplier and seed; other cached families are removed so the
    cache never holds more than one.
    """
    name = f"r{RECIPE_VERSION}-{base}-x{scale}-seed{seed}"
    out = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(cache_dir, exist_ok=True)
    for old in os.listdir(cache_dir):
        shutil.rmtree(os.path.join(cache_dir, old), ignore_errors=True)
    rows = BASE_ROWS[base]
    rng = np.random.default_rng([seed, scale])
    os.makedirs(out)
    if scale == 1:
        _write_base(out, rows, rng)
    else:
        base_dir = os.path.join(out, "_base")
        os.makedirs(base_dir)
        _write_base(base_dir, rows, rng)
        _write_scaled(base_dir, out, scale, rows, rng)
        shutil.rmtree(base_dir)
    with open(os.path.join(out, ".complete"), "w") as fh:
        fh.write("ok\n")
    return out


def describe(sf_dir: str) -> dict:
    """Row counts and on-disk MB per table, read from the parquet footers."""
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        out[name] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "mb": round(os.path.getsize(path) / 2**20, 3),
        }
    return out
