"""Similarity search over embedding columns (`array<float>`).

Three tiers (SURVEY.md §2.B "LLM-pipeline: similarity search"):
- brute-force cosine top-k: exact baseline; O(Q×N) — fine when the
  query set is small or as the verification pass;
- LSH (random hyperplanes): sign-bucket join, probabilistic recall —
  the 100 TB candidate-generation path;
- IVF (fixed seeded centroids): partition the corpus by nearest
  centroid, probe top-`nprobe` cells per query.

All expressed in native Column algebra (zip_with/aggregate — codegen,
no Python in the hot loop). Vectors are cast float→double once so dot
products run in double precision (bit-compatible with the DuckDB
oracle's `::DOUBLE[]` lists).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata06_spark.queries.qutil import rnd


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer")


def _filter_value_col(df: DataFrame, filter_col: str) -> Column:
    """`filter_value` output column in a type-faithful way (ADVICE r10):
    integral attributes widen to long (matches the BIGINT the oracles
    expect); everything else (string tenant/language keys, dates, …)
    propagates UNCHANGED — a hard cast-to-long would silently turn a
    categorical filter into all-NULLs."""
    dt = df.schema["_f"].dataType.simpleString()
    col = F.col("_f")
    return col.cast("long") if dt in _INTEGRAL_TYPES else col


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold — same op order as DuckDB's list_dot_product."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _cos_dot_sql(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")


def _cos_norm_sql(a: str) -> str:
    return (f"sqrt(aggregate(transform({a}, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity over two double arrays. When both arguments
    are COLUMN NAMES the whole expression is built as ONE parsed SQL
    string (r12, guide §7.3 / the minhash_signatures lesson): the
    Column-algebra form constructs five higher-order lambdas through
    py4j per call — ~0.1 s of pure driver time — and cosine is on the
    construction path of every similarity query, several times per
    iteration in the walk loops. Identical expression either way
    (same fold order, same double-typed zero)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"{_cos_dot_sql(a, b)} / ({_cos_norm_sql(a)} * {_cos_norm_sql(b)})"
        )
    return dot(a, b) / (norm(a) * norm(b))


def knn_bruteforce(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   round_sim: int | None = 6) -> DataFrame:
    """Exact cosine top-k: query×corpus join, rank per query.

    The join is a broadcast nested loop (queries broadcast — the small
    side by design). Ranking pins total order via (rounded sim desc,
    neighbor id asc); rounding to 6dp makes the rank key cross-engine
    deterministic while keeping real ties broken by id.

    Scale: Q×N work with Q small is embarrassingly parallel over corpus
    partitions; for large Q use `lsh_ann` / `ivf_ann` to cut N.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv"))
    # `is not None`, not truthiness: round_sim=0 means "round to the
    # integer grid", only None disables rounding (review r10)
    sim = (
        rnd(cosine("qv", "cv"), round_sim)
        if round_sim is not None
        else cosine("qv", "cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rn").cast("long").alias("rn"))
    )


def knn_filtered(queries: DataFrame, corpus: DataFrame, filter_col: str,
                 k: int = 5, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 round_sim: int | None = 6) -> DataFrame:
    """FILTERED exact top-k (attribute-constrained vector search, new
    r10): each query ranks only corpus vectors sharing its
    `filter_col` value — the metadata-filter + ANN combination every
    production vector store exposes (tenant isolation, language or
    category constraints, same-class retrieval). The constraint is
    expressed as an EQUI-JOIN on the attribute, so Spark PRE-filters
    relationally: a hash join co-partitions corpus by attribute value
    and each query scores only its class — O(Q · N_class), never the
    O(Q · N) unconstrained scan followed by a post-filter (which, at
    selective filters, also under-fills k — the classic post-filter
    recall bug this formulation cannot have). The same shape composes
    with the bucketed candidate generators (LSH/IVF) by adding the
    attribute to their bucket keys."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(filter_col).alias("_f"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(filter_col).alias("_f"),
        as_double(F.col(vec_col)).alias("cv"),
    )
    sim = (
        rnd(cosine("qv", "cv"), round_sim)
        if round_sim is not None
        else cosine("qv", "cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, "_f")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            _filter_value_col(scored, filter_col).alias("filter_value"),
            "neighbor_id", "sim",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def _seeded_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _lit_array_sql(vals: list[float]) -> str:
    """A literal double array as SQL text. repr() round-trips IEEE
    doubles exactly, so the parsed plan is bit-identical to the
    F.lit-built one."""
    return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vals) + ")"


def _dot_sql(col_name: str, vals: list[float]) -> str:
    """dot(col, literal-vector) as SQL text — same left-to-right fold
    as `dot`. Why text: a 64-float literal array is ~65 py4j calls as
    Column algebra, and the LSH/IVF signatures embed 72+ of them —
    measured ~20s of DRIVER time building the lsh_ann plan vs ~2s
    executing it. One parsed expression ends that (see
    operators/dedup.py for the same finding on wide aggregates)."""
    return (
        f"aggregate(zip_with({col_name}, {_lit_array_sql(vals)}, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sig_pandas_udf(tables: list[list[list[float]]]):
    """All `L` table signatures in one Arrow-vectorized stage: the
    per-row work is a (dim)·(dim×L·b) matmul + sign + bit-pack, which
    numpy does for a whole Arrow batch in one BLAS call — measured ~5×
    the end-to-end speed of the `aggregate(zip_with(...))` Column form
    (higher-order functions are interpreted per element, ~µs per
    multiply; this is the sanctioned vectorized-UDF case the engine
    reserves for kernels built-ins can't express efficiently).

    Determinism caveat vs the SQL fold: BLAS sums in a different order,
    so a dot product within accumulation error of 0 could flip a bit.
    Signatures are internal candidate-generation state (recall is
    probabilistic by construction), so this affects nothing the engine
    promises; a bit-pinned run would fold `_dot_sql` per plane instead.
    """
    from pyspark.sql.functions import pandas_udf

    M = np.asarray([p for t in tables for p in t], dtype=np.float64)  # (L·b, dim)
    n_tables, n_planes = len(tables), len(tables[0])
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sig(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())  # (batch, dim)
        bits = (x @ M.T) >= 0.0  # (batch, L·b)
        packed = (bits.reshape(len(x), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(packed.astype(np.int64)))

    return sig


def lsh_ann(queries: DataFrame, corpus: DataFrame, k: int = 5, n_planes: int = 6,
            n_tables: int = 12, id_col: str = "vec_id", vec_col: str = "embedding",
            seed: int = 42, multiprobe: int = 1,
            expect_dim: int | None = None) -> DataFrame:
    """ANN via MULTI-TABLE hyperplane LSH with query-side MULTIPROBE:
    `n_tables` independent signatures of `n_planes` sign bits each; a
    pair is a candidate if any table's signatures agree within
    `multiprobe` flipped bits, then candidates re-rank exactly.

    Why multi-table: with one b-bit table, recall at angle θ is
    p^b, p = 1-θ/π — measured 0.03 at b=8 on the fixture embeddings (a
    cos≈0.5 neighbor agrees on all 8 bits 4% of the time). L tables
    lift it to 1-(1-p^b)^L; b=6, L=12 measured ~0.48 on this fixture's
    true 5-NN (near-random vectors, cos≈0.35 → p≈0.62 → predicted
    0.50). Multiprobe (Lv et al., VLDB'07) additionally probes each
    table at the buckets one bit-flip away — the per-table hit rate
    becomes P(hamming ≤ 1) = p^b + b·p^(b-1)(1-p) ≈ 0.27, so L=12
    predicts 1-(1-0.27)¹² ≈ 0.98; measured 0.96/0.94/0.98 at
    sf0.001/0.01/0.1 (floor pinned ≥ 0.7 in
    tests/test_operators_unit.py). The trade vs more tables: probe
    fan-out is query-side only — (1+b)·L index rows per QUERY vs L per
    corpus vector — so the CORPUS-side index (the 100 TB side) stays at
    L rows/vector, where doubling L to reach the same recall would
    double it.

    Each candidate pair is emitted exactly once — in its FIRST matching
    table (hamming ≤ multiprobe over the zipped signature arrays), the
    same inline-dedup trick as the SimHash chunk join; no distinct
    shuffle. Recall < 1 vs the exact scan by construction, but the
    OUTPUT is deterministic — the registered query replays under an
    exact value-hash oracle (queries/llm.py:_lsh_ann_oracle).

    Scale: the join shuffles on (table, bucket) — uniform sign-bit
    keys; vectors ride the exchange once, candidate re-rank is linear
    in candidates."""
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe supports 0 (off) or 1 (single-bit flips)")
    sample = corpus.select(vec_col).first()
    dim = len(sample[0])
    if expect_dim is not None and dim != expect_dim:
        # callers with a baked oracle (literal seeded planes) pin the
        # width here instead of paying a second probe job (review r9)
        raise ValueError(f"expected embedding dim {expect_dim}, data has {dim}")
    planes = _seeded_planes(dim, n_planes * n_tables, seed)
    tables = [planes[t * n_planes : (t + 1) * n_planes] for t in range(n_tables)]

    from bigdata06_spark.session import ensure_workers_can_import

    ensure_workers_can_import(corpus.sparkSession)
    sig_udf = _sig_pandas_udf(tables)

    def explode_tables(df: DataFrame, idc: str, vecc: str, sigc: str,
                       probe_flips: int = 0) -> DataFrame:
        t = df.withColumn(sigc, sig_udf(F.col(vecc)))
        entries = [f"struct({ti} as t, {sigc}[{ti}] as bucket)" for ti in range(n_tables)]
        if probe_flips >= 1:
            entries += [
                f"struct({ti} as t, {sigc}[{ti}] ^ {1 << pi} as bucket)"
                for ti in range(n_tables)
                for pi in range(n_planes)
            ]
        pairs = F.expr("array(%s)" % ", ".join(entries))
        return t.select(
            idc, vecc, sigc, F.explode(pairs).alias("tb")
        ).select(idc, vecc, sigc, F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))

    from bigdata06_spark.operators.scale import rebalance_for_amplification

    q = explode_tables(
        queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")),
        "query_id", "qv", "qsig", probe_flips=multiprobe,
    )
    c = explode_tables(
        rebalance_for_amplification(corpus, id_col).select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        ),
        "neighbor_id", "cv", "csig",
    )
    first_match = F.array_position(
        F.zip_with(
            F.col("qsig"), F.col("csig"), lambda x, y: F.bit_count(x.bitwiseXOR(y)) <= multiprobe
        ),
        True,
    )
    scored = (
        q.join(c, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("t") + 1 == first_match)
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rn").cast("long").alias("rn"))
    )


def _cell_scores_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """array(struct(score, cell)) over every centroid, as one parsed
    expression (construction cost — see `_dot_sql`). The vector must
    already be a double array (cast upstream, once)."""
    entries = ", ".join(
        f"struct({_dot_sql(vec_col, cent)} AS score, {ci} AS cell)"
        for ci, cent in enumerate(centroids)
    )
    return f"array({entries})"


def ivf_assign(df: DataFrame, centroids: list[list[float]], vec_col: str, out: str = "cell") -> DataFrame:
    """Assign each vector to its max-dot-product centroid (fixed seeded
    centroids — deterministic, no training step; a production build
    would fit k-means offline and broadcast the codebook the same way).
    Ties break to the lower cell id: the fold walks cells in order and
    replaces only on a strictly greater score — identical to the
    sequential argmax it replaces."""
    best = F.expr(
        f"aggregate({_cell_scores_sql(vec_col, centroids)}, "
        f"struct(CAST('-Infinity' AS DOUBLE) AS score, -1 AS cell), "
        f"(acc, s) -> CASE WHEN s.score > acc.score THEN s ELSE acc END).cell"
    )
    return df.withColumn(out, best)


def ivf_ann(queries: DataFrame, corpus: DataFrame, k: int = 5, n_cells: int = 8,
            nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
            seed: int = 7, expect_dim: int | None = None,
            filter_col: str | None = None) -> DataFrame:
    """IVF-style ANN: corpus partitioned into `n_cells` by nearest
    centroid; queries probe their top-`nprobe` cells and re-rank
    exactly. Recall < 1 vs the exact scan, deterministic output —
    exact-oracle-gated (queries/llm.py:_ivf_ann_oracle). Scale: corpus
    would be written partitioned by cell → probing = partition
    pruning.

    `filter_col` (new r10) composes the metadata constraint INTO the
    index: the candidate join key becomes (cell, attribute), so a
    query touches only same-attribute rows of its probed cells —
    written partitioned by (attribute, cell), the filter is one more
    partition-pruning axis, never a post-filter (which under-fills k
    at selective predicates). This is the bucketed-generator
    composition `knn_filtered`'s exact scan points to."""
    sample = corpus.select(vec_col).first()
    dim = len(sample[0])
    if expect_dim is not None and dim != expect_dim:
        raise ValueError(f"expected embedding dim {expect_dim}, data has {dim}")
    rng = np.random.RandomState(seed)
    centroids = [list(v / math.sqrt(dim)) for v in rng.randn(n_cells, dim)]

    c_cols = [F.col(id_col).alias("neighbor_id"),
              as_double(F.col(vec_col)).alias("cv")]
    q_cols = [F.col(id_col).alias("query_id"),
              as_double(F.col(vec_col)).alias("qv")]
    if filter_col is not None:
        c_cols.append(F.col(filter_col).alias("_f"))
        q_cols.append(F.col(filter_col).alias("_f"))
    c = ivf_assign(corpus.select(*c_cols), centroids, "cv", "cell")
    qv = queries.select(*q_cols)
    # top-nprobe cells per query: score against each centroid, explode
    scores = F.expr(_cell_scores_sql("qv", centroids))
    join_key = ["cell"] + (["_f"] if filter_col is not None else [])
    probes = (
        qv.withColumn("probe", F.explode(F.slice(F.sort_array(scores, asc=False), 1, nprobe)))
        .select("query_id", "qv", *join_key[1:], F.col("probe.cell").alias("cell"))
    )
    scored = (
        probes.join(c, join_key)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    out_cols = ["query_id"]
    if filter_col is not None:
        out_cols.append(_filter_value_col(scored, filter_col).alias("filter_value"))
    out_cols += ["neighbor_id", "sim", F.col("rn").cast("long").alias("rn")]
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*out_cols)
    )


def allpairs_blocked(df: DataFrame, threshold: float, n_blocks: int = 16,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_sim: int = 6) -> DataFrame:
    """EXACT all-pairs cosine ≥ `threshold` via a block-tiled EQUI-join
    — the distributed form of the N² similarity join that shards both
    sides instead of broadcasting one.

    Why not LSH/IVF candidates + exact verify: candidate generation
    with recall 1 at this threshold is information-theoretically a
    cartesian on this data. Measured pair-sim distribution of the
    fixture embeddings (near-random 64-dim): 3217 pairs in [0.3,0.4),
    906 in [0.4,0.5), 14 above — the threshold sits INSIDE the bulk of
    the distribution, so any angular-LSH family tuned for full recall
    at 0.4 (p_bit=0.63) admits essentially every pair at 0.3
    (p_bit=0.60) too; the "candidates" are all pairs wearing a hash.
    Sub-quadratic exact similarity join needs a threshold gap the data
    doesn't have (Bayardo et al., WWW'07 prefix filtering assumes
    sparse vectors; dense near-random embeddings have no filterable
    prefix). The honest scale design is therefore: make the O(N²)
    SHARDABLE — every task owns a bounded tile, no side is broadcast
    or replicated whole — and keep the ANN operators (`lsh_ann`,
    `ivf_ann`) as the approximate path when recall < 1 is acceptable.

    Tiling: rows get a uniform block g = pmod(xxhash64(id), B). Each
    unordered block pair (p ≤ q) is one tile, keyed t = p·B + q. A row
    in block g enters the LEFT side of tiles {g·B+j : j ≥ g} and the
    RIGHT side of tiles {i·B+g : i ≤ g} (explode over a `sequence`),
    so every unordered row pair meets in EXACTLY ONE tile, in exactly
    one orientation (both orientations exist only on diagonal tiles,
    filtered by id<id there). The join on `t` is a plain shuffled
    equi-join: shuffle volume N·(B+1)/2 rows per side, per-task memory
    2N/B rows, parallelism B(B+1)/2 tasks, perfectly uniform (hash
    blocks, no skew). No BroadcastNestedLoopJoin / CartesianProduct
    anywhere in the plan (pinned in tests/test_plans.py); at 100 TB
    pick B ~ thousands and the same plan holds.

    Numerics: norms computed once per row; dot is the same
    left-to-right fold as the per-pair form, multiplication is
    commutative per element, so the rounded sim is bit-identical in
    either orientation and to the DuckDB oracle.
    """
    base = df.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    base = base.select(
        "vid", "v", norm(F.col("v")).alias("nrm"),
        F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int").alias("g"),
    )
    left = base.select(
        F.col("vid").alias("id_l"), F.col("v").alias("v_l"), F.col("nrm").alias("n_l"),
        F.col("g").alias("g_l"),
        F.explode(F.sequence(F.col("g"), F.lit(n_blocks - 1))).alias("j"),
    ).withColumn("t", F.col("g_l") * n_blocks + F.col("j")).drop("j")
    right = base.select(
        F.col("vid").alias("id_r"), F.col("v").alias("v_r"), F.col("nrm").alias("n_r"),
        F.col("g").alias("g_r"),
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("i"),
    ).withColumn("t", F.col("i") * n_blocks + F.col("g_r")).drop("i")
    # Explicit hash-repartition on the tile key, NOT left to AQE: the
    # shuffled bytes are tiny (N·(B+1)/2 vectors) but the post-join
    # work is O(N²/B) interpreted fold-ops per tile — AQE's
    # size-based coalescing would collapse the "small" exchange to one
    # partition and serialize the whole pair computation. A
    # user-specified repartition count is exempt from AQE coalescing,
    # and the join reuses the partitioning (no extra exchange).
    p = df.sparkSession.sparkContext.defaultParallelism
    left = left.repartition(p, "t")
    right = right.repartition(p, "t")
    sim = rnd(dot(F.col("v_l"), F.col("v_r")) / (F.col("n_l") * F.col("n_r")), round_sim)
    return (
        left.join(right, "t")
        .filter((F.col("g_l") != F.col("g_r")) | (F.col("id_l") < F.col("id_r")))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select(
            F.least("id_l", "id_r").alias("vec_a"),
            F.greatest("id_l", "id_r").alias("vec_b"),
            "sim",
        )
    )


# ---------------------------------------------------------------- k-means


def quantize(vec: Column, scale: int = 1_000_000) -> Column:
    """Integer-quantize a float vector: x → floor(x·scale) as LONG.
    All k-means arithmetic below runs on these integers, which makes
    distances, argmins, and recomputed centroids EXACT — no float
    reassociation anywhere, so a DuckDB replay of the same algorithm
    is bit-identical (the property the correctness gate needs).
    floor(double) is IEEE-deterministic; quantization error 1e-6 is
    far below embedding noise."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"))


def _sq_l2_int(a: Column, b: Column) -> Column:
    """Exact squared L2 between two quantized vectors. 64 dims at
    |x|≲1e7 keeps the sum ≪ 2^63."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _quantize_sql(expr: str, scale: int = 1_000_000) -> str:
    """`quantize` as SQL text — identical expression tree once parsed
    (same cast/floor/cast chain), but ONE parse instead of the ~15
    py4j round-trips a lambda-HOF Column build costs. The IVF-PQ fit
    embeds ~15 quantize/sq-L2 nodes; Column-algebra construction
    measured ~1.1s of pure DRIVER time per query (the `_dot_sql`
    finding, again)."""
    return (
        f"transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE) * "
        f"CAST({float(scale)!r} AS DOUBLE)) AS BIGINT))"
    )


def _sq_l2_sql(a: str, b: str) -> str:
    """`_sq_l2_int` as SQL text (see `_quantize_sql`)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _assign_cells(vecs: DataFrame, cents: DataFrame, with_dist: bool = False) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k×dim centroid
    relation, fold the distance JVM-side per (vec, cell), take the
    argmin as a map-side-combined min_by — one shuffle on vec_id
    carrying (cell, dist) pairs, never the vectors. `with_dist` adds
    the winning (exact integer) squared distance — the PQ
    reconstruction error."""
    j = vecs.crossJoin(F.broadcast(cents))
    aggs = [F.min_by("cell", F.struct(F.col("dist"), F.col("cell"))).alias("cell")]
    if with_dist:
        aggs.append(F.min(F.struct(F.col("dist"), F.col("cell"))).getField("dist").alias("dist"))
    return (
        j.select("vec_id", "cell", _sq_l2_int(F.col("xq"), F.col("cq")).alias("dist"))
        .groupBy("vec_id")
        .agg(*aggs)
    )


def kmeans_assign(corpus: DataFrame, k: int = 8, n_iter: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Lloyd's k-means over an embedding column, fully relational and
    exact: quantized-integer geometry (see `quantize`), deterministic
    seeding (centroids = vectors with the k smallest ids), `n_iter`
    assign→recompute rounds, returning (vec_id, cluster) from the final
    assignment. Ties in the argmin break toward the smaller cell id;
    centroid recompute is floor(mean) per dimension — integer state
    end-to-end. Clusters that lose all members simply drop out of the
    next round (same semantics in the SQL replay).

    Scale: per round = one broadcast cross-join fold (no dim explosion
    — distances fold over the array in codegen'd JVM lambdas) + one
    min_by shuffle on vec_id + one centroid shuffle whose input is
    |assignments|×dim ints after map-side partial sums. The driver loop
    is unrolled control flow only; k and dim stay broadcast-sized.
    """
    qv = corpus.select(F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("xq"))
    cents = qv.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("xq").alias("cq")
    )
    assign = _assign_cells(qv, cents)
    for _ in range(n_iter - 1):
        per_dim = (
            qv.join(assign, "vec_id")
            .select("cell", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cx"))
        )
        cents = per_dim.groupBy("cell").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)"
            ).alias("cq")
        )
        assign = _assign_cells(qv, cents)
    return assign.select("vec_id", F.col("cell").alias("cluster"))


def semantic_dedup(corpus: DataFrame, threshold: float, k: int = 8, n_iter: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the embedding corpus with k-means, then
    mark a vector as a duplicate if a LOWER-ID vector in the SAME
    cluster has cosine ≥ threshold; report the best such match
    (highest sim, ties to the smaller id). Returns
    (vec_id, dup_of, sim) for dropped vectors only.

    Why cluster first: the pairwise pass is confined to per-cluster
    buckets — with k grown proportionally to corpus size (the paper
    uses k ≈ N/√N-ish), per-cluster membership stays bounded and the
    quadratic term never spans the corpus. The k-means here is the
    integer-exact `kmeans_assign` (deterministic seeding, quantized
    geometry), so the WHOLE operator — an iterative clustering feeding
    a similarity join — replays exactly in the SQL oracle; the cosine
    itself is computed on the original float→double vectors, same
    fold/rounding as every other similarity op."""
    assign = kmeans_assign(corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    base = corpus.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).select("vid", "v", norm(F.col("v")).alias("nrm"))
    clustered = base.join(
        assign.select(F.col("vec_id").alias("vid"), "cluster"), "vid"
    )
    lo = clustered.select(
        F.col("vid").alias("dup_of"), F.col("v").alias("v_lo"),
        F.col("nrm").alias("n_lo"), "cluster",
    )
    hi = clustered.select(
        F.col("vid").alias("vec_id"), F.col("v").alias("v_hi"),
        F.col("nrm").alias("n_hi"), "cluster",
    )
    sim = rnd(dot(F.col("v_lo"), F.col("v_hi")) / (F.col("n_lo") * F.col("n_hi")), 6)
    pairs = (
        hi.join(lo, "cluster")
        .filter(F.col("dup_of") < F.col("vec_id"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("dup_of"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "dup_of", "sim")
    )


def pq_quantize(corpus: DataFrame, n_subspaces: int = 4, k: int = 16, n_iter: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """PRODUCT QUANTIZATION (Jégou et al., TPAMI 2011 — the codebook
    half of IVF-PQ, the standard billion-scale ANN memory layout):
    split each vector into `n_subspaces` contiguous sub-vectors, run
    an independent k-means codebook per subspace, and encode every
    vector as its `n_subspaces` nearest-centroid code ids. 64-dim
    float vectors compress to 4 bytes/vector at (4, k=16) — a 64×
    memory cut with distances approximated from per-subspace lookup
    tables at query time.

    Everything runs on the integer-exact kmeans machinery
    (`quantize`/`_assign_cells`): deterministic min-id seeding, two
    Lloyd rounds per subspace, exact integer geometry — so codes AND
    the per-vector reconstruction error (sum of winning squared
    distances, an exact integer) replay bit-for-bit in the SQL oracle.
    Output: (vec_id, code_0..code_{M-1}, sq_err).

    Scale: per subspace per round = one broadcast(k×dim/M) fold + one
    min_by shuffle on vec_id; subspaces share the sliced scan; the
    final assembly is an M-way co-partitioned join on vec_id."""
    codes, _ = pq_fit(corpus, n_subspaces, k, n_iter, id_col, vec_col)
    return codes


def _explode_subspaces(df: DataFrame, n_subspaces: int, sub_dim: int,
                       id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(id, m, xq): every subspace slice of every vector in ONE
    relation — all M per-subspace kmeans/LUT computations share each
    downstream job instead of running as M sequential pipelines."""
    structs = ", ".join(
        f"struct(CAST({m} AS INT) AS m, "
        f"{_quantize_sql(f'slice({vec_col}, {m * sub_dim + 1}, {sub_dim})')} AS xq)"
        for m in range(n_subspaces)
    )
    return df.selectExpr(f"{id_col} AS {out_id}", f"inline(array({structs}))")


def _assign_cells_m(vecs: DataFrame, cents: DataFrame,
                    with_dist: bool = False) -> DataFrame:
    """`_assign_cells` over the subspace-exploded relation: broadcast
    the (m, cell, cq) codebook union, equi-join on m, argmin per
    (vec_id, m) — one shuffle for ALL subspaces."""
    j = vecs.join(F.broadcast(cents), "m")
    aggs = [F.min_by("cell", F.struct(F.col("dist"), F.col("cell"))).alias("cell")]
    if with_dist:
        aggs.append(F.min(F.struct(F.col("dist"), F.col("cell"))).getField("dist").alias("dist"))
    return (
        j.select("vec_id", "m", "cell", F.expr(_sq_l2_sql("xq", "cq")).alias("dist"))
        .groupBy("vec_id", "m")
        .agg(*aggs)
    )


def pq_fit(corpus: DataFrame, n_subspaces: int = 4, k: int = 16, n_iter: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding",
           dim: int | None = None):
    """Fit PQ codebooks and encode the corpus. Returns
    (codes DataFrame as in `pq_quantize`, codebook DataFrame
    (m, cell, cq) — all subspaces in one relation) — the codebooks
    `pq_adc_topk` builds its distance lookup tables from.

    Single-pipeline form (VERDICT r3 #5): the M subspaces run as ONE
    exploded relation (vec_id, m, xq) through shared jobs — seed,
    assign, refine, encode — instead of M sequential per-subspace
    pipelines; the wide (vec_id, code_0..M-1, sq_err) output is one
    conditional aggregation, not an M-way self-join. Per-subspace
    math (min-id seeding, floor-mean Lloyd refinement, min_by
    tie-break) is unchanged, so codes and sq_err are bit-identical to
    the loop form and the generated SQL oracles replay them. The
    refined codebook is localCheckpointed (M·k rows): every
    downstream LUT join re-planned the whole iterative-kmeans tree
    otherwise — measured as ~4s of pure DRIVER time per IVF-PQ query
    at sf0.01, flat in data size. (Executor-loss caveat as at every
    localCheckpoint use: see operators/iterate.py.)"""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub_dim = dim // n_subspaces

    sub = _explode_subspaces(corpus, n_subspaces, sub_dim, id_col, vec_col, "vec_id")
    cents = sub.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").alias("cell"), F.col("xq").alias("cq")
    )
    assign = _assign_cells_m(sub, cents, with_dist=True)
    for _ in range(n_iter - 1):
        per_dim = (
            sub.join(assign.select("vec_id", "m", "cell"), ["vec_id", "m"])
            .select("m", "cell", F.posexplode("xq").alias("pos", "x"))
            .groupBy("m", "cell", "pos")
            .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cx"))
        )
        cents = per_dim.groupBy("m", "cell").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)"
            ).alias("cq")
        )
        # lazy (r12): truncates lineage the same way, but materializes
        # inside the consumer's own job instead of as a separate
        # driver-sequenced barrier job per Lloyd round (guide §2.3 —
        # at fixture SFs the per-job fixed cost dominated the round)
        cents = cents.localCheckpoint(eager=False)
        assign = _assign_cells_m(sub, cents, with_dist=True)
    codes = assign.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"code_{m}")
            for m in range(n_subspaces)
        ],
        F.sum("dist").cast("long").alias("sq_err"),
    )
    return codes, cents


def pq_adc_topk(queries: DataFrame, corpus: DataFrame, k_neighbors: int = 3,
                n_subspaces: int = 4, k: int = 16, n_iter: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes — the
    query half of IVF-PQ: each query computes an exact distance to
    every codebook centroid ONCE (M×k lookup-table entries), then
    every corpus vector's approximate distance is the sum of M table
    lookups indexed by its codes. Distance work per corpus row drops
    from O(dim) to O(M) and the corpus is never decoded.

    All-integer arithmetic end-to-end (quantized queries vs quantized
    codebooks), so the approximate distances — and therefore the
    ranking, tie-broken on neighbor id — are deterministic and replay
    exactly in the SQL oracle. Output: (query_id, neighbor_id,
    adc_dist, rn).

    Scale: lookups are broadcast (M·k rows per query); the per-row
    code join is M broadcast hash joins; ranking is the standard
    per-query window."""
    dim = len(corpus.select(vec_col).first()[0])
    codes, codebook = pq_fit(corpus, n_subspaces, k, n_iter, id_col, vec_col, dim=dim)
    sub_dim = dim // n_subspaces

    # ONE exploded LUT relation (query_id, m, code, t) joined once,
    # summed once — not M chained broadcast joins (VERDICT r3 #5)
    q_sub = _explode_subspaces(queries, n_subspaces, sub_dim, id_col, vec_col, "query_id")
    lut = q_sub.join(F.broadcast(codebook), "m").select(
        "query_id", "m", F.col("cell").alias("code"),
        F.expr(_sq_l2_sql("xq", "cq")).alias("t"),
    )
    code_structs = F.array(
        *[
            F.struct(F.lit(m).cast("int").alias("m"), F.col(f"code_{m}").alias("code"))
            for m in range(n_subspaces)
        ]
    )
    expl = codes.select("vec_id", F.inline(code_structs))
    scored = expl.join(F.broadcast(lut), ["m", "code"])
    ranked = (
        scored.groupBy("query_id", "vec_id")
        .agg(F.sum("t").cast("long").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_neighbors)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rn").cast("long").alias("rn"))
    )


def pq_adc_rerank_topk(queries: DataFrame, corpus: DataFrame, k_neighbors: int = 3,
                       shortlist: int = 20, n_subspaces: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Production IVF-PQ retrieval shape: ADC produces a cheap
    `shortlist` per query (O(M) per corpus row, codes only), then ONLY
    the shortlist rows join back to their full vectors for an exact
    cosine rerank — the decode cost is |queries|·shortlist rows, not
    the corpus. This is the standard two-stage design (Jégou et al.
    §V): compression bounds the first-stage error, the rerank
    restores precision; recall is gated in
    tests/test_operators_unit.py against exact brute force."""
    short = pq_adc_topk(
        queries, corpus, k_neighbors=shortlist, n_subspaces=n_subspaces,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_neighbors)
        .select("query_id", "neighbor_id", "sim", F.col("rn").cast("long").alias("rn"))
    )


def ivfpq_fit(corpus: DataFrame, n_cells: int = 8, n_subspaces: int = 4,
              codebook_k: int = 16, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int | None = None):
    """The IVF-PQ INDEX as three persistable relations — (codebook,
    cells, codes): the M per-subspace PQ codebooks (m, cell, cq), the
    coarse cell assignment (vec_id, cluster), and the per-vector PQ
    codes (vec_id, code_0..M-1, sq_err). Everything integer-exact, so
    an index written to parquet and read back serves IDENTICAL
    results to an in-session fit — the "fit once, serve many"
    production ANN pattern (ivfpq_serve consumes these relations;
    ivfpq_query composes the two for the single-session path). Fit
    cost is the fused single-pipeline kmeans documented below; at
    100 TB the fit runs once per index build, not per query batch.

    `dim` (r12): the vector width, when the caller already knows it —
    skips the one-row `first()` probe job (guide §2.3: each probe is a
    full driver-sequenced job; a fit+serve composition paid it 2-4x
    per query for the same constant)."""
    return _ivfpq_fit_impl(corpus, n_cells, n_subspaces, codebook_k,
                           id_col, vec_col, dim=dim)


def _ivfpq_fit_impl(corpus: DataFrame, n_cells: int, n_subspaces: int,
                    codebook_k: int, id_col: str, vec_col: str,
                    dim: int | None = None):
    """The fused IVF-PQ fit (see ivfpq_fit / ivfpq_query). Docs below
    describe the composed END-TO-END retrieval this fit anchors — the composed billion-scale ANN
    design (Jégou et al. 2011; the FAISS IVFPQ index), every stage of
    which is exact-integer and therefore value-hash replayable:

    1. IVF coarse partition: corpus assigned to `n_cells` k-means
       cells (integer-exact `kmeans_assign` — at scale this is the
       partitioned layout of `write_ivf_partitioned`, and probing is
       partition pruning);
    2. queries probe their `nprobe` nearest cells (same integer L2);
    3. within probed cells, candidates rank by ADC over global PQ
       codes (O(M) per candidate, corpus never decoded);
    4. the ADC `shortlist` reranks with exact cosine.

    Compute per query: nprobe/n_cells of the corpus scored at O(M)
    each + `shortlist` exact distances — the two-knob cost model
    (recall ↑ with nprobe and shortlist) that runs the production
    systems; recall vs brute force is gated in the unit tests."""
    # 1-3 fit: coarse kmeans AND the M per-subspace PQ codebooks are
    # all independent kmeans instances over slices of the same corpus
    # — so run them as ONE exploded relation (vec_id, m, xq) with
    # m = -1 carrying the FULL vector (the coarse problem, k=n_cells)
    # and m = 0..M-1 the subspace slices (k=codebook_k): one corpus
    # pass, one broadcast codebook union, one assignment shuffle, one
    # refinement shuffle for the WHOLE fit, instead of two sequential
    # pipelines (VERDICT r3 #5 — the per-query driver/job constant;
    # at sf0.01 fixed per-job overhead was ~45% of wall time, and at
    # scale this halves the fit's corpus passes). Per-m math is
    # untouched (min-id seeding, min_by argmin, floor-mean Lloyd
    # round), so every value replays bit-for-bit in the SQL oracle.
    # The final assignment — 5 rows/vector of (m, cell, dist) ints —
    # is the ONE localCheckpoint: it feeds the member join, the codes
    # pivot, and the centroid refresh (executor-loss caveat as at
    # every localCheckpoint use: see operators/iterate.py).
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub_dim = dim // n_subspaces
    structs = ", ".join(
        [f"struct(CAST(-1 AS INT) AS m, {_quantize_sql(vec_col)} AS xq)"]
        + [
            f"struct(CAST({m} AS INT) AS m, "
            f"{_quantize_sql(f'slice({vec_col}, {m * sub_dim + 1}, {sub_dim})')} AS xq)"
            for m in range(n_subspaces)
        ]
    )
    sub = corpus.selectExpr(f"{id_col} AS vec_id", f"inline(array({structs}))")
    k_of = F.when(F.col("m") < 0, F.lit(n_cells)).otherwise(F.lit(codebook_k))
    cents_fit = sub.filter(F.col("vec_id") < k_of).select(
        "m", F.col("vec_id").alias("cell"), F.col("xq").alias("cq")
    )
    assign = _assign_cells_m(sub, cents_fit, with_dist=True)
    per_dim_fit = (
        sub.join(assign.select("vec_id", "m", "cell"), ["vec_id", "m"])
        .select("m", "cell", F.posexplode("xq").alias("pos", "x"))
        .groupBy("m", "cell", "pos")
        .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cx"))
    )
    cents_fit = per_dim_fit.groupBy("m", "cell").agg(
        F.expr(
            # one parsed expression, not 3 py4j lambda builds (r12)
            "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)"
        ).alias("cq")
    ).localCheckpoint(eager=False)  # lazy: materializes INSIDE the assign
    # checkpoint's job (one job boundary, not two); later refs (the
    # LUT codebook) then read the materialized rows
    assign = _assign_cells_m(sub, cents_fit, with_dist=True).localCheckpoint(eager=False)
    cells = assign.filter(F.col("m") < 0).select("vec_id", F.col("cell").alias("cluster"))
    codes = assign.filter(F.col("m") >= 0).groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"code_{m}")
            for m in range(n_subspaces)
        ],
        F.sum("dist").cast("long").alias("sq_err"),
    )
    # the returned codebook keeps BOTH quantizers: m = -1 rows are the
    # coarse (IVF) quantizer, m >= 0 the PQ codebooks — everything an
    # append-time encoder needs (serve's LUT join keys on m 0..M-1,
    # so the coarse rows pass through it inertly)
    return cents_fit, cells, codes


def ivfpq_query(queries: DataFrame, corpus: DataFrame, k_neighbors: int = 3,
                nprobe: int = 2, n_cells: int = 8, n_subspaces: int = 4,
                codebook_k: int = 16, shortlist: int = 20,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """END-TO-END IVF-PQ retrieval — ivfpq_fit composed with
    ivfpq_serve in one session (the FAISS IVFPQ index; Jégou et al.
    2011). Every stage integer-exact and value-hash replayable; see
    _ivfpq_fit_impl for the fused-fit plan notes and ivfpq_serve for
    the probe/ADC/rerank serving path. The vector width is probed
    ONCE and threaded to both halves (r12 — was one first() job in
    the fit plus another in the serve, for the same constant)."""
    dim = len(corpus.select(vec_col).first()[0])
    codebook, cells, codes = _ivfpq_fit_impl(
        corpus, n_cells, n_subspaces, codebook_k, id_col, vec_col, dim=dim
    )
    return ivfpq_serve(queries, corpus, codebook, cells, codes,
                       k_neighbors=k_neighbors, nprobe=nprobe,
                       shortlist=shortlist, n_subspaces=n_subspaces,
                       id_col=id_col, vec_col=vec_col, dim=dim)


def ivfpq_encode(new_vecs: DataFrame, codebook: DataFrame,
                 n_subspaces: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
    """INCREMENTAL INDEX MAINTENANCE — encode NEW vectors against a
    FROZEN index (the fit-time quantizers), no refit: coarse cell =
    argmin against the stored coarse quantizer (codebook's m = -1
    rows), PQ codes = per-subspace argmin against the stored
    codebooks — byte-identical math to the fit's own final
    assignment pass, so (cells ∪ cells_new, codes ∪ codes_new) is
    exactly the index the fit would have produced had the new
    vectors been present at assignment time. This is the FAISS add()
    path: between refits, appends cost one broadcast-codebook
    assignment over the NEW rows only — at 100 TB, O(batch), never
    O(corpus). Returns (cells_new, codes_new); an EMPTY batch (the
    idle micro-batch case) returns empty frames of the right shape."""
    first = new_vecs.select(vec_col).first()
    if first is None:
        empty = new_vecs.limit(0)
        cells_new = empty.select(
            F.col(id_col).alias("vec_id"),
            F.lit(0).cast("long").alias("cluster"),
        )
        codes_new = empty.select(
            F.col(id_col).alias("vec_id"),
            *[F.lit(0).cast("long").alias(f"code_{m}") for m in range(n_subspaces)],
            F.lit(0).cast("long").alias("sq_err"),
        )
        return cells_new, codes_new
    dim = len(first[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub_dim = dim // n_subspaces
    structs = ", ".join(
        [f"struct(CAST(-1 AS INT) AS m, {_quantize_sql(vec_col)} AS xq)"]
        + [
            f"struct(CAST({m} AS INT) AS m, "
            f"{_quantize_sql(f'slice({vec_col}, {m * sub_dim + 1}, {sub_dim})')} AS xq)"
            for m in range(n_subspaces)
        ]
    )
    sub = new_vecs.selectExpr(f"{id_col} AS vec_id", f"inline(array({structs}))")
    assign = _assign_cells_m(sub, codebook, with_dist=True)
    cells_new = assign.filter(F.col("m") < 0).select(
        "vec_id", F.col("cell").alias("cluster")
    )
    codes_new = assign.filter(F.col("m") >= 0).groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"code_{m}")
            for m in range(n_subspaces)
        ],
        F.sum("dist").cast("long").alias("sq_err"),
    )
    return cells_new, codes_new


def ivfpq_coarse_centroids(corpus: DataFrame, cells: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """The serving coarse centroids: floor-mean per dimension over
    each cell's members (one corpus pass). Persist this alongside the
    fit's three relations and hand it to ivfpq_serve(cents=...) so
    serving never rescans the corpus to rebuild a quantizer that only
    changes when the index does."""
    corpus_q = corpus.selectExpr(f"{id_col} AS vec_id", f"{_quantize_sql(vec_col)} AS xq")
    per_dim = (
        corpus_q.join(cells.select(F.col("vec_id"), F.col("cluster").alias("cell")), "vec_id")
        .select("cell", F.posexplode("xq").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cx"))
    )
    return per_dim.groupBy("cell").agg(
        F.expr(
            # one parsed expression, not 3 py4j lambda builds (r12)
            "transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)"
        ).alias("cq")
    )


def ivfpq_serve(queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
                cells: DataFrame, codes: DataFrame, k_neighbors: int = 3,
                nprobe: int = 2, shortlist: int = 20, n_subspaces: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                cents: DataFrame | None = None,
                dim: int | None = None) -> DataFrame:
    """Serve IVF-PQ retrieval from MATERIALIZED index relations (see
    ivfpq_fit): probe nprobe cells, ADC over the stored codes inside
    probed cells, exact rerank of the shortlist. The index relations
    may come straight from ivfpq_fit or from parquet round-tripped
    storage — the math is integer-exact either way. Pass the
    PERSISTED coarse centroids via `cents` (ivfpq_coarse_centroids)
    to skip the per-call O(corpus·dim) rescan that otherwise rebuilds
    them; omitted, they recompute from (corpus, cells) — identical
    values, extra work. Pass `dim` when known to skip the one-row
    width-probe job (see ivfpq_fit)."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sub_dim = dim // n_subspaces
    qv = queries.selectExpr(f"{id_col} AS vec_id", f"{_quantize_sql(vec_col)} AS xq")
    if cents is None:
        # recompute the serving centroids from the assignment (same
        # relation the last kmeans round used — floor(mean) per dim
        # over members); single-use broadcast, lineage is already the
        # checkpointed cells
        cents = ivfpq_coarse_centroids(corpus, cells, id_col, vec_col)
    qcell = qv.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.expr(_sq_l2_sql("xq", "cq")).alias("cdist"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        qcell.withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cell")
    )
    # 3: ADC over global PQ codes, restricted to probed cells (codes
    # pivot off the checkpointed fused-fit assignment above)
    member_codes = codes.join(
        cells.select("vec_id", F.col("cluster").alias("cell")), "vec_id"
    )
    cand = probes.join(member_codes, "cell").filter(F.col("query_id") != F.col("vec_id"))
    # one exploded LUT join + sum, as in pq_adc_topk (VERDICT r3 #5)
    q_sub = _explode_subspaces(queries, n_subspaces, sub_dim, id_col, vec_col, "query_id")
    lut = q_sub.join(F.broadcast(codebook), "m").select(
        "query_id", "m", F.col("cell").alias("code"),
        F.expr(_sq_l2_sql("xq", "cq")).alias("t"),
    )
    code_structs = F.array(
        *[
            F.struct(F.lit(m).cast("int").alias("m"), F.col(f"code_{m}").alias("code"))
            for m in range(n_subspaces)
        ]
    )
    cand_expl = cand.select("query_id", "vec_id", F.inline(code_structs))
    adc = (
        cand_expl.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("t").cast("long").alias("adc"))
    )
    wshort = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    short = (
        adc.withColumn("srn", F.row_number().over(wshort))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # 4: exact rerank of the shortlist only
    qd = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cd = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    exact = (
        short.join(F.broadcast(qd), "query_id")
        .join(cd, "neighbor_id")
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    wfin = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") <= k_neighbors)
        .select("query_id", "neighbor_id", "sim", F.col("rn").cast("long").alias("rn"))
    )


def write_ivf_partitioned(corpus: DataFrame, path: str, centroids: list[list[float]],
                          id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize the IVF index as a CELL-PARTITIONED parquet layout:
    one hive partition directory per nearest-centroid cell. This is the
    production form of `ivf_ann`'s scale note — with the corpus laid
    out by cell, probing nprobe cells becomes static PARTITION PRUNING
    at the scan (only the probed directories are listed/read), so ANN
    candidate generation touches nprobe/n_cells of the 100 TB corpus
    without any join or shuffle to find its candidates."""
    assigned = ivf_assign(
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("cv")),
        centroids,
        "cv",
        "cell",
    )
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)


def ivf_probe_partitioned(spark, path: str, query_vec: list[float],
                          centroids: list[list[float]], k: int = 5,
                          nprobe: int = 2) -> DataFrame:
    """Probe a cell-partitioned IVF layout for one query vector: rank
    cells by centroid dot product DRIVER-side (the codebook is small and
    broadcast-sized by construction), then scan ONLY the probed
    partitions via an `isin` literal filter — Catalyst turns it into
    partition pruning (see test_ivf_partition_pruning) — and re-rank
    exactly within them."""
    scores = sorted(
        ((sum(q * c for q, c in zip(query_vec, cent)), ci) for ci, cent in enumerate(centroids)),
        reverse=True,
    )
    probed = [ci for _, ci in scores[:nprobe]]
    corpus = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    qv = F.expr(_lit_array_sql([float(x) for x in query_vec]))
    sim = rnd(cosine(qv, F.col("cv")), 6)
    return (
        corpus.withColumn("sim", sim)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "sim")
    )


# --------------------------------------------------------------- SQ8 ANN


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension max-|x| over the corpus, collapsed to ONE row of a
    dim-ordered `amaxs` array — the training pass of symmetric scalar
    quantization (the FAISS `SQ8` codec: one scale per dimension,
    shared by every vector, zero-centered so sign structure survives).

    Plan: posexplode (N×dim rows) → groupBy(dim) max with map-side
    partial aggregation, then a single-row collect_list fold. The
    shuffle carries at most `dim` groups regardless of N — flat at any
    corpus size."""
    per_dim = (
        corpus.select(F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("amax"))
    )
    return per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "amax"))), lambda s: s["amax"]
        ).alias("amaxs"),
    )


def sq8_encode(df: DataFrame, stats: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", out_id: str = "vec_id") -> DataFrame:
    """Quantize each vector to int8 codes against the shared per-dim
    scales: code_i = floor(x_i * (127/amax_i) + 0.5) ∈ [−127, 127];
    all-zero dimensions (amax = 0) encode to 0.

    The one-row stats frame broadcasts into a crossJoin — no shuffle on
    the data side; the transform is a per-row expression. Emits both
    the integer codes (what a real index stores — 1 B/dim) and the
    on-the-fly reconstruction recon_i = code_i · (amax_i/127), the
    value the scan stage scores against (FAISS decodes SQ8 codes in
    registers the same way)."""
    x = as_double(F.col(vec_col))
    code = F.transform(
        x,
        lambda v, i: F.when(
            F.get(F.col("amaxs"), i) > 0,
            F.floor(v * (F.lit(127.0) / F.get(F.col("amaxs"), i)) + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    recon = F.transform(
        F.col("codes"), lambda c, i: c * (F.get(F.col("amaxs"), i) / F.lit(127.0))
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col).alias(out_id), code.alias("codes"), F.col("amaxs"))
        .select(out_id, "codes", recon.alias("recon"))
    )


def sq8_rerank_topk(queries: DataFrame, corpus: DataFrame, k_neighbors: int = 5,
                    shortlist: int = 20, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Two-stage SQ8 retrieval — the scalar-quantization member of the
    ANN family (Flat / LSH / IVF / PQ / IVF-PQ / SQ): the corpus is
    stored as shared-scale int8 codes (4 B/dim → 1 B/dim), the scan
    stage ranks by cosine over register-reconstructed values (exactly
    FAISS's SQ8 distance computation — codes decode on the fly, the
    full float vectors are never touched), keeps `shortlist`
    candidates per query, and only those rejoin full vectors for the
    exact cosine re-rank. Unlike LSH/IVF the shortlist is a
    deterministic function of the data (no seeds, no probe luck), so
    the whole pipeline replays under a full value-hash oracle.

    Scale: the stats pass is a dim-bounded aggregate; the scan reads
    1-byte codes + one broadcast scale array — memory-bandwidth-bound,
    the reason FAISS ships SQ8 — and the rerank touches shortlist×Q
    full vectors only. Queries broadcast as in `knn_bruteforce`.

    Output: (query_id, neighbor_id, sq_sim, sim, rn)."""
    stats = sq8_stats(corpus, vec_col)
    stats = stats.localCheckpoint(eager=True)
    qc = sq8_encode(queries, stats, id_col, vec_col, out_id="query_id").select(
        "query_id", F.col("recon").alias("qr")
    )
    cc = sq8_encode(corpus, stats, id_col, vec_col, out_id="neighbor_id").select(
        "neighbor_id", F.col("recon").alias("cr")
    )
    scored = (
        F.broadcast(qc)
        .crossJoin(cc)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            rnd(cosine("qr", "cr"), 6).alias("sq_sim"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("sq_sim"), F.asc("neighbor_id"))
    short = scored.withColumn("rs", F.row_number().over(ws)).filter(F.col("rs") <= shortlist)
    qv = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    rer = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k_neighbors)
        .select("query_id", "neighbor_id", "sq_sim", "sim", F.col("rn").cast("long").alias("rn"))
    )


def bq_words(vec_col, dim: int = 64):
    """Binary quantization: sign bit per dimension, packed little-
    endian into two 32-bit words carried as longs (two words rather
    than one 64-bit pack so bit 63 never touches the long's sign bit;
    exactly the multi-word layout real BQ indexes use). Pure chained
    Column arithmetic — stays inside whole-stage codegen, unlike an
    F.aggregate fold (CodegenFallback, measured ~4× slower on the
    zorder binning probe)."""
    if dim % 2:
        raise ValueError("bq_words expects an even dimension")
    half = dim // 2
    words = []
    for w in range(2):
        acc = F.lit(0).cast("long")
        for i in range(half):
            bit = F.when(
                F.element_at(vec_col, w * half + i + 1) > 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            acc = acc + bit
        words.append(acc)
    return words


def bq_rerank_topk(queries: DataFrame, corpus: DataFrame, k_neighbors: int = 5,
                   shortlist: int = 50, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Two-stage BINARY-QUANTIZED retrieval — the 1-bit member of the
    ANN family (Flat/LSH/IVF/PQ/IVF-PQ/SQ8/BQ): the corpus collapses
    to one sign bit per dimension (32× smaller than float32 — the
    compression modern vector stores ship as "binary quantization"),
    the scan stage ranks by HAMMING distance over two packed 32-bit
    words (xor + bit_count, register arithmetic — for centered
    vectors hamming is a monotone proxy of angle), keeps `shortlist`
    candidates per query, and only those rejoin full vectors for the
    exact cosine re-rank. Deterministic end to end (no seeds), so the
    pipeline replays under a full value-hash oracle.

    Scale: codes are 8 B/vector regardless of dimension-word count ×
    4 B — a billion vectors fit in executor memory where floats
    can't; the scan is memory-bandwidth-bound, the rerank touches
    shortlist×Q full vectors. Output: (query_id, neighbor_id,
    hamming, sim, rn)."""
    qw = bq_words(F.col(vec_col), dim)
    qc = queries.select(
        F.col(id_col).alias("query_id"),
        qw[0].alias("qw0"), qw[1].alias("qw1"),
    )
    cw = bq_words(F.col(vec_col), dim)
    cc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cw[0].alias("cw0"), cw[1].alias("cw1"),
    )
    scored = (
        F.broadcast(qc)
        .crossJoin(cc)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("qw0").bitwiseXOR(F.col("cw0")))
                + F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
            ).cast("long").alias("hamming"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("hamming"),
                                                F.asc("neighbor_id"))
    short = scored.withColumn("rs", F.row_number().over(ws)) \
        .filter(F.col("rs") <= shortlist)
    qv = queries.select(F.col(id_col).alias("query_id"),
                        as_double(F.col(vec_col)).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       as_double(F.col(vec_col)).alias("cv"))
    rer = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", rnd(cosine("qv", "cv"), 6))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                                F.asc("neighbor_id"))
    return (
        rer.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k_neighbors)
        .select("query_id", "neighbor_id", "hamming", "sim",
                F.col("rn").cast("long").alias("rn"))
    )


# --------------------------------------------------------------- MMR


def mmr_select(queries: DataFrame, corpus: DataFrame, k_select: int = 4,
               pool: int = 8, w_rel: float = 0.7, w_div: float = 0.3,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's `pool` most-relevant candidates, greedily
    pick `k_select` maximizing  w_rel·rel(c) − w_div·max_{s∈selected}
    sim(c, s)  — the standard diversity re-rank between retrieval and
    context assembly in a RAG stack.

    The greedy loop is k_select−1 unrolled DataFrame steps over the
    *shortlist only*: candidates and their pairwise similarities are
    localCheckpointed O(Q·pool) relations, so the corpus is scanned
    exactly once (by the retrieval pass) no matter k. Every score is
    6dp-rounded with id tie-breaks — the selection path is
    cross-engine deterministic and replays in the unrolled SQL oracle
    (`_mmr_oracle`).

    Output: (query_id, step, neighbor_id, rel, mmr) — step 1 is the
    pure-relevance pick with mmr ≡ rel."""
    cand = knn_bruteforce(queries, corpus, k=pool, id_col=id_col, vec_col=vec_col).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.col("sim").alias("rel")
    )
    cand = cand.localCheckpoint(eager=True)
    ids = cand.select("nid").distinct()
    vecs = corpus.join(
        F.broadcast(ids), corpus[id_col] == ids["nid"]
    ).select(F.col("nid").alias("pid"), as_double(F.col(vec_col)).alias("pv"))
    a = vecs.select(F.col("pid").alias("ia"), F.col("pv").alias("va"))
    b = vecs.select(F.col("pid").alias("ib"), F.col("pv").alias("vb"))
    pair = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", rnd(cosine("va", "vb"), 6).alias("s"))
    )
    pair = pair.localCheckpoint(eager=True)

    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("nid"))
    sel = (
        cand.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("long").alias("step"),
            "nid",
            "rel",
            F.col("rel").alias("mmr"),
        )
    )
    rem = cand.join(sel.select("query_id", "nid"), ["query_id", "nid"], "left_anti")
    for t in range(2, k_select + 1):
        ms = (
            rem.join(pair, rem["nid"] == pair["ia"])
            .join(
                sel.select(F.col("query_id").alias("sq"), F.col("nid").alias("snid")),
                (F.col("query_id") == F.col("sq")) & (F.col("ib") == F.col("snid")),
            )
            .groupBy("query_id", "nid", "rel")
            .agg(F.max("s").alias("msim"))
        )
        scored = ms.withColumn(
            "mmr", rnd(F.lit(w_rel) * F.col("rel") - F.lit(w_div) * F.col("msim"), 6)
        )
        wt = Window.partitionBy("query_id").orderBy(F.desc("mmr"), F.asc("nid"))
        pick = (
            scored.withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") == 1)
            .select("query_id", F.lit(t).cast("long").alias("step"), "nid", "rel", "mmr")
        )
        sel = sel.unionByName(pick)
        rem = rem.join(pick.select("query_id", "nid"), ["query_id", "nid"], "left_anti")
    return sel.select(
        "query_id", "step", F.col("nid").alias("neighbor_id"), "rel", "mmr"
    )
