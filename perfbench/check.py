"""Output checks: canonical value hashes and the DuckDB oracles they
are compared with.

A result is reduced to a canonical hash that ignores row order and
column order, with the equivalence the engine's oracle tests apply
(`tests/oracle_utils.py`): int32 and int64 columns hash the same, but an
int column and a float column do not (`1` and `1.0`), nor bool and int.
Columns are sorted by name, each cell is rendered as a string by its
dtype kind (floats by `repr`, timestamps at microsecond precision), and
the sorted row strings are hashed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np
import pandas as pd

from gen import MERGE_ROUNDS


def _render(col: pd.Series) -> list[str]:
    kind = col.dtype.kind
    if kind == "M":
        vals = col.astype("datetime64[us]")
        return ["nat" if pd.isna(v) else str(v) for v in vals]
    if kind in "iu":
        return [str(int(v)) for v in col]
    if kind == "f":
        return ["nan" if np.isnan(v) else repr(float(v)) for v in col.astype(np.float64)]
    return [str(v) for v in col]


def canon_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame."""
    cols = sorted(pdf.columns)
    rendered = [_render(pdf[c]) for c in cols]
    rows = sorted("\x1f".join(cells) for cells in zip(*rendered)) if cols else []
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def duck_connection(input_dir: str):
    import duckdb

    from bigdata06_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        files = os.path.join(table_path(input_dir, t), "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    chg = os.path.join(input_dir, "changes")
    for f in sorted(glob.glob(os.path.join(chg, "*.parquet"))):
        name = "chg_" + os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def lakehouse_replay_sql() -> str:
    """Final orders-table state after the seeded journey: per key the
    last write wins (init, then each round's merge and append)."""
    legs = ["SELECT *, 0 AS seq FROM chg_init"]
    seq = 1
    for r in range(MERGE_ROUNDS):
        legs.append(f"SELECT *, {seq} AS seq FROM chg_merge_{r}")
        legs.append(f"SELECT *, {seq + 1} AS seq FROM chg_append_{r}")
        seq += 2
    return f"""
    WITH writes AS ({" UNION ALL ".join(legs)}),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM writes
    )
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM ranked
    WHERE rn = 1
    """


STREAM_SINK_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS sum_id
FROM events GROUP BY event_type
"""

#: the SQL each journey check runs, by checked output
JOURNEY_SQL = {
    "lakehouse.read_latest": lakehouse_replay_sql(),
    "lakehouse.read_v0": "SELECT * FROM chg_init",
    "stream.drain": STREAM_SINK_SQL,
}


def checked_sql(oracles: dict[str, str], journey: bool) -> dict[str, str]:
    """Oracle SQL per checked output: every query op with an oracle,
    plus, for the lakehouse journey, the final table, the version-0
    read and the streaming sink's per-type aggregates."""
    return {**oracles, **(JOURNEY_SQL if journey else {})}


def expected_hashes(input_dir: str, sql: dict[str, str]) -> dict[str, str]:
    con = duck_connection(input_dir)
    out = {name: canon_hash(con.sql(q).df()) for name, q in sorted(sql.items())}
    con.close()
    return out


def cache_key(sql: dict[str, str]) -> str:
    """Digest of every checked SQL text and of this module's source (the
    canonicalization): any change to either rebuilds the cached hashes."""
    with open(os.path.abspath(__file__), "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(json.dumps(sql, sort_keys=True).encode())
    return h.hexdigest()


def cached_expected(input_dir: str, workload: str, sql: dict[str, str]) -> dict[str, str]:
    """`expected_hashes` for `sql`, cached next to the inputs of one
    seed and keyed on `cache_key(sql)`."""
    path = os.path.join(input_dir, f"oracle-{workload}.json")
    key = cache_key(sql)
    try:
        with open(path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["hashes"]
    except (OSError, ValueError):
        pass
    hashes = expected_hashes(input_dir, sql)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"key": key, "hashes": hashes}, f)
    os.replace(tmp, path)
    return hashes
