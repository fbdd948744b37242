"""Reference-parity relational operators (SURVEY.md §2.A.3, R1-R11).

The reference implements these as pandas calls / Python loops; here each
is the declarative Spark equivalent so Catalyst plans them (broadcast
joins instead of loop-of-filters, TakeOrderedAndProject instead of
sort-then-slice, map-side partial aggregation for counts).

Scale notes per operator are inline; the shared principle: keep every op
expressible as a narrow projection/filter or a keyed shuffle that AQE can
re-plan, never a driver-side loop.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first_wins(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """R1 — keep exactly one row per key, "first" pinned deterministically.

    Reference: `drop_duplicates(subset='id')` (Spotify_API2.py:139,
    Spotify_API3.py:126, Spotify_API4.py:523) keeps the first *arrival* —
    nondeterministic under parallelism. We pin "first" with an explicit
    order so results are reproducible (required for oracle hashing).

    Scale: one hash shuffle on `keys`; the `row_number` window does a
    per-partition sort only. Skewed keys are handled by AQE skew-join/agg
    splitting. Equivalent plan to `dropDuplicates` but deterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def union_all(dfs: Sequence[DataFrame], allow_missing_columns: bool = True) -> DataFrame:
    """R2 — n-way union by column NAME.

    Reference: `pd.concat` accumulation loops (Spotify_API.py:187,193,
    Spotify_API4.py:503,519,552). pd.concat aligns on column names and
    NaN-fills missing columns, hence `allowMissingColumns=True`.

    Scale: union is a no-shuffle plan node (children just concatenate);
    AQE coalesces the resulting small partitions.
    """
    if not dfs:
        raise ValueError("union_all of zero DataFrames")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns), dfs)


def top_k(df: DataFrame, key: str, k: int, *tiebreak: str) -> DataFrame:
    """R4 — sort-then-slice (`.head(3)` / `[:100]` after sort,
    Spotify_API4.py:542, Spotify_API3.py:401-404).

    Scale: `orderBy(...).limit(k)` plans TakeOrderedAndProject — each task
    keeps a k-row heap, driver merges k*numPartitions rows; no global
    sort, no full shuffle. Tiebreak columns pin determinism.
    """
    order = [F.desc(key), *[F.asc(c) for c in tiebreak]]
    return df.orderBy(*order).limit(k)


def filter_eq(df: DataFrame, column: str, value) -> DataFrame:
    """R5 — equality filter (`df[df['id'] == album_id]`,
    Spotify_API3.py:383). Pushed to the parquet scan by Catalyst."""
    return df.filter(F.col(column) == F.lit(value))


def enrichment_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    payload: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """R7 — broadcast enrichment join.

    Reference: per-album loop that filters the albums frame by id and
    copies `name`/`artists` onto that album's tracks
    (Spotify_API3.py:381-390) — a row-at-a-time nested-loop join. The
    Spark form is a single broadcast hash equi-join: dimension hashed
    once on the driver, shipped to every executor, zero shuffle of the
    fact side.

    Scale: correct as long as `dim` fits in executor memory (~10s of MB
    per the broadcast threshold); for larger dims drop the hint and let
    AQE pick sort-merge vs shuffled-hash from runtime stats.
    """
    dim_sel = dim.select(F.col(dim_key).alias("__dk"), *[F.col(c) for c in payload])
    joined = facts.join(F.broadcast(dim_sel), facts[fact_key] == F.col("__dk"), how)
    return joined.drop("__dk")


def is_empty(df: DataFrame) -> bool:
    """R9 — `df.empty` guard (Spotify_API.py:176). `isEmpty` only runs the
    plan until the first row is produced."""
    return df.isEmpty()


def banded_range_join(left: DataFrame, right: DataFrame, left_ts: str, right_ts: str,
                      band_seconds: int, extra_keys: list[str] | None = None,
                      how: str = "inner") -> DataFrame:
    """Scalable time-range join: right.ts in [left.ts - band, left.ts].

    A naive theta join on the interval predicate is a nested-loop cross
    product — O(|L|*|R|) at any scale. This implements the standard
    BANDING decomposition: both sides get a coarse bucket
    floor(epoch / band_seconds); each left row probes its own bucket
    and the previous one (any right row within band of left.ts lives in
    one of the two); the exact interval predicate filters residually.
    The join becomes an EQUI-join on (bucket, *extra_keys) — hashable,
    shuffle-partitioned, AQE-skew-splittable — with <=2 bucket probes
    per row, i.e. linear shuffle volume instead of quadratic compare.
    """
    def bucket(c: str) -> Column:
        return F.floor(F.unix_timestamp(F.col(c)) / F.lit(band_seconds))

    probes = F.explode(F.array(F.lit(0), F.lit(1))).alias("_probe")
    l = left.withColumn("_bkt", bucket(left_ts))
    r = (
        right.withColumn("_bkt0", bucket(right_ts))
        .select("*", probes)
        .withColumn("_bkt", F.col("_bkt0") + F.col("_probe"))
    )
    keys = ["_bkt"] + (extra_keys or [])
    lower = F.col(left_ts) - F.expr(f"INTERVAL {band_seconds} SECONDS")
    return (
        l.join(r, keys, how)
        .filter((F.col(right_ts) >= lower) & (F.col(right_ts) <= F.col(left_ts)))
        .drop("_bkt", "_bkt0", "_probe")
    )


def misra_gries_candidates(df: DataFrame, key: str, capacity: int) -> DataFrame:
    """Pass 1 of exact distributed heavy hitters: per-partition
    Misra-Gries summaries, O(capacity) memory per partition.

    Emits one row per surviving counter key (`is_sentinel = false`)
    plus one sentinel row per partition (`is_sentinel = true`, key
    NULL) carrying the partition's non-null row count — a dedicated
    flag column, NOT an in-band key value, so any key domain
    (negative keys included) is safe. NULL keys are ignored entirely:
    neither counted as candidates nor in the sentinel totals (the
    frequency question is posed over present keys).

    Soundness (any partitioning): within a partition of n_i rows, every
    batched decrement round subtracts 1 from > capacity counters, so
    total decrement rounds <= n_i/(capacity+1) and a key's undercount
    is <= n_i/(capacity+1). Summed over partitions, any key with true
    global count > N/(capacity+1) survives in at least one summary.
    Hence with capacity >= 2/phi the candidate union is a SUPERSET of
    every key with frequency >= phi*N — pass 2 recounts candidates
    exactly, so the FINAL answer is deterministic and partitioning-
    independent even though the candidate set itself is not.

    Scale: the summary is <= capacity counters (+1 sentinel) per
    partition regardless of key cardinality — at 100 TB with billions
    of distinct keys the shuffle carries partitions x capacity rows,
    not the key space.
    """

    def summarize(batches):
        import pandas as pd

        counters: dict[int, int] = {}
        n_rows = 0
        for pdf in batches:
            col = pdf[key].dropna()
            n_rows += len(col)
            for k, c in col.value_counts().items():
                ki = int(k)
                counters[ki] = counters.get(ki, 0) + int(c)
            if len(counters) > capacity:
                # batched MG eviction: subtract the (capacity+1)-th
                # largest counter from all, drop the non-positive
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {k: v - cut for k, v in counters.items() if v > cut}
        keys = list(counters) + [None]
        counts = [counters[k] for k in counters] + [n_rows]
        flags = [False] * len(counters) + [True]
        yield pd.DataFrame(
            {
                key: pd.array(keys, dtype="Int64"),  # nullable int
                "mg_count": counts,
                "is_sentinel": flags,
            }
        )

    return df.select(key).mapInPandas(
        summarize, schema=f"{key} long, mg_count long, is_sentinel boolean"
    )


BLOOM_BITS_DEFAULT = 1 << 13  # 8192 bits = 128 BIGINT words
BLOOM_SEEDS_DEFAULT = (2654435769, 2246822519, 3266489917)


def bloom_probe_expr(
    build: DataFrame,
    build_key: str,
    probe_key: str,
    bits: int = BLOOM_BITS_DEFAULT,
    seeds: Sequence[int] = BLOOM_SEEDS_DEFAULT,
) -> Column:
    """Runtime Bloom-filter predicate: build an m-bit / k-hash Bloom
    filter over `build[build_key]` and return a Column testing
    membership of `probe_key` — the explicit form of Spark's runtime
    bloom join (semi-join reduction before the shuffle).

    No false negatives by construction: every inserted key's bit
    positions are set and the probe recomputes the same deterministic
    xxhash64 positions, so filter-then-join == join. False positives
    (prob ~ (1 - e^{-k·n/m})^k) survive the probe and are removed by
    the exact join that follows.

    The build key must be BIGINT (checked loud below). The probe side
    is only a column NAME in the caller's frame, so it cannot be
    dtype-checked here — instead its hash input is pinned with an
    explicit CAST(probe_key AS BIGINT) (ADVICE r8): an INT/SMALLINT
    probe column now hashes identically to the BIGINT build side
    instead of silently never matching (xxhash64 is type-sensitive —
    the one failure mode a bloom filter must never have). A
    non-integer probe column that casts to NULL fails the `= 1L`
    test, i.e. it filters rows OUT loudly rather than producing false
    negatives on valid keys.

    Scale: the build is a groupBy onto <= bits/64 bitmap words — a
    BOUNDED driver pull (128 rows at the default size) independent of
    build cardinality; the probe is k hashes + k bit tests per row,
    whole-stage-codegen'd at scan stage, so fact rows that the join
    would drop never reach the exchange. Each position expression is
    spelled twice (element_at index + shift amount) — codegen's
    subexpression elimination collapses the duplicate hash; an HOF
    binding (transform/forall) would deduplicate it textually but is
    CodegenFallback, measured ~4x slower per the zorder binning
    precedent (sinks.range_bin_expr)."""
    if bits % 64:
        raise ValueError(f"bits must be a multiple of 64, got {bits}")
    # xxhash64 is TYPE-sensitive (INT 5 and BIGINT 5 hash differently):
    # a dtype mismatch between the sides would set bits under one
    # hashing and probe under another — silent FALSE NEGATIVES, the one
    # failure mode a bloom filter must never have. Fail loud instead.
    build_type = dict(build.dtypes).get(build_key)
    if build_type is None:
        raise ValueError(f"build side has no column {build_key!r}")
    if build_type not in ("bigint", "long"):
        raise ValueError(
            f"bloom_probe_expr requires a BIGINT build key (cast first); "
            f"{build_key!r} is {build_type}"
        )

    def pos_sql(col: str, seed: int) -> str:
        return f"pmod(xxhash64({col}, {seed}L), {bits}L)"

    words = (
        build.selectExpr(
            "explode(array("
            + ", ".join(pos_sql(build_key, s) for s in seeds)
            + ")) AS pos"
        )
        .selectExpr(
            "cast(pos div 64 AS int) AS w",
            "shiftleft(1L, cast(pmod(pos, 64) AS int)) AS bit",
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()  # bounded: <= bits/64 rows by construction
    )
    bitmap = [0] * (bits // 64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    arr = "array(" + ", ".join(f"{w}L" for w in bitmap) + ")"
    # probe side: pin the hash input type (see docstring)
    probe_cast = f"CAST({probe_key} AS BIGINT)"
    probe = " AND ".join(
        f"((shiftright(element_at({arr}, cast({pos_sql(probe_cast, s)} div 64 AS int) + 1), "
        f"cast(pmod({pos_sql(probe_cast, s)}, 64) AS int)) & 1L) = 1L)"
        for s in seeds
    )
    return F.expr(probe)
