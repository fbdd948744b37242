"""Seeded input generator for the benchmark.

The rows are the engine's sf0.001 test tables (TPC-H-style star
schema plus `events`, `documents` and `embeddings`), shipped byte for
byte under `data/sf0.001/` so a run reads nothing outside its checkout.
The benchmark seed never changes which rows exist, only how they are
laid out and driven:

- a seeded row permutation and file split per table (same rows,
  different physical layout: row order and file boundaries; the file
  count and row-group size are fixed, so every seed hands the engine the
  same amount of scan work);
- the seeded `lakehouse_write` change sets (which keys each merge
  touches, which keys are appended);
- the seeded op order within each pass (`op_order`).

So every oracle answer of a query op is identical across seeds, while
each seed exercises a different scan layout and op interleaving.
Outputs are cached by seed: a directory whose `MANIFEST.json` matches
the seed and the digest of this file and the source tables is reused
as is.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
BASE_SEED = 20240101
LAKEHOUSE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
#: merge + append rounds in one lakehouse_write pass
MERGE_ROUNDS = 1
#: parquet files per table (tables under 100 rows stay one file)
FILES_PER_TABLE = 2
ROW_GROUP_ROWS = 16384


def source_digest() -> str:
    """sha256 over this generator and the source tables: a cached input
    directory built from anything else is stale."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)] + sorted(
        os.path.join(DATA_DIR, f) for f in os.listdir(DATA_DIR))
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def base_tables() -> dict[str, pa.Table]:
    """The benchmark's fixed rows (independent of the benchmark seed)."""
    return {f[: -len(".parquet")]: pq.read_table(os.path.join(DATA_DIR, f))
            for f in sorted(os.listdir(DATA_DIR))}


def _write_split(tbl: pa.Table, out_dir: str, rng: random.Random) -> None:
    """Write `tbl` as a directory of FILES_PER_TABLE parquet files after
    a seeded row permutation; the file boundaries are seeded too, within
    the middle half of the rows so no file is near empty."""
    os.makedirs(out_dir)
    n = tbl.num_rows
    perm = list(range(n))
    rng.shuffle(perm)
    tbl = tbl.take(pa.array(perm, pa.int64()))
    n_files = 1 if n < 100 else FILES_PER_TABLE
    step = n // n_files
    cuts = [i * step + rng.randint(-step // 4, step // 4) for i in range(1, n_files)]
    bounds = [0, *cuts, n]
    for i in range(n_files):
        part = tbl.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)


def change_sets(orders: pa.Table, seed: int) -> dict[str, pa.Table]:
    """The seeded lakehouse_write journey inputs, over the orders
    columns in LAKEHOUSE_COLS: `init` (table_init rows), and per round
    `merge_<r>` (updated rows for 1/97 of keys) and `append_<r>`
    (1/1009 new keys, at least one, drawn from existing customers and
    priorities)."""
    base = orders.select(LAKEHOUSE_COLS)
    keys = base.column("o_orderkey").to_numpy()
    custkeys = np.unique(base.column("o_custkey").to_numpy())
    priorities = sorted(set(base.column("o_orderpriority").to_pylist()))
    n = len(keys)
    rng = np.random.default_rng([BASE_SEED, seed])
    out = {"init": base}
    next_key = int(keys.max()) + 1
    salt = rng.integers(0, 1 << 30, MERGE_ROUNDS)

    def pick(mod: int, s: int) -> np.ndarray:
        return ((keys * 2654435761 + s) % (1 << 32)) % mod == 0

    def updated(mask: np.ndarray, bump: float) -> pa.Table:
        sub = base.filter(pa.array(mask))
        price = np.round(sub.column("o_totalprice").to_numpy() * 1.01 + bump, 2)
        return sub.set_column(2, "o_totalprice", pa.array(price))

    def fresh(count: int, bump: float) -> pa.Table:
        nonlocal next_key
        ks = np.arange(next_key, next_key + count, dtype=np.int64)
        next_key += count
        return pa.table({
            "o_orderkey": ks,
            "o_custkey": rng.choice(custkeys, count).astype(np.int64),
            "o_totalprice": np.round(rng.uniform(1000, 5000, count) + bump, 2),
            "o_orderpriority": [priorities[i] for i in rng.integers(0, len(priorities), count)],
        })

    for r in range(MERGE_ROUNDS):
        out[f"merge_{r}"] = updated(pick(97, int(salt[r])), float(r + 1))
        out[f"append_{r}"] = fresh(max(1, n // 1009), float(r))
    return out


def op_order(ops: list[str], seed: int, workload: str, pass_idx: int) -> list[str]:
    """The seeded op order of one pass of a query workload."""
    order = list(ops)
    random.Random(f"{seed}:{workload}:{pass_idx}").shuffle(order)
    return order


def make_inputs(out_dir: str, seed: int) -> str:
    """Materialize the inputs for `seed` under `out_dir` (cached)."""
    manifest = {"source": source_digest(), "seed": seed}
    mpath = os.path.join(out_dir, "MANIFEST.json")
    try:
        with open(mpath) as f:
            if json.load(f) == manifest:
                return out_dir
    except (OSError, ValueError):
        pass
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = base_tables()
    for name, tbl in sorted(tables.items()):
        rng = random.Random(f"{seed}:{name}")
        _write_split(tbl, os.path.join(tmp, f"{name}.parquet"), rng)
    chg_dir = os.path.join(tmp, "changes")
    os.makedirs(chg_dir)
    for name, tbl in change_sets(tables["orders"], seed).items():
        pq.write_table(tbl, os.path.join(chg_dir, f"{name}.parquet"))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
