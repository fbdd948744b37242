"""Graph operators shared by the query modules: the supplier co-supply
projection (hot-part cap, pair expansion, affinity and mutual-top-k
edges), the event-type transition graph, and the integer PageRank
round."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata06_spark.queries.qutil import rnd

DAMPING = (85, 100)  # numerator, denominator

#: hot-part degree cap shared by every co-supply consumer (graph
#: family + the affinity graphs): parts supplied by more than this
#: many suppliers are dropped from the index BEFORE the pair
#: expansion, bounding every part's pair fan-out at max_deg². At TPC-H
#: skew it trims only the long tail (p99 part degree is 36/43 at
#: sf0.01/0.1) while at real-world skew it is what keeps the
#: projection from going quadratic on one hot key. The DuckDB oracles
#: carry the same literal (`HAVING count(*) > 33`) — change both sides
#: together.
COSUPPLY_MAX_DEG = 33

#: salt buckets of the two-level pre-drop in `capped_part_supplier_sets`
_NSALT = 64


def capped_part_supplier_sets(li: DataFrame, max_deg: int) -> DataFrame:
    """(p, ss): the per-part sorted distinct-supplier array, with
    parts above `max_deg` distinct suppliers DROPPED BEFORE any full
    set is ever assembled (two-level aggregation). A plain
    groupBy(p).collect_set would build a hot part's ENTIRE supplier set
    in one unspillable aggregation buffer at one reducer before a
    size() filter discarded it — at adversarial skew (deg ~ 1e6+) that
    is a straggler/OOM, not a cap.

    Two-level cap-or-null shape: suppliers salt by hash into `_NSALT`
    buckets, so stage 1's per-(p, salt) partial sets are bounded at
    ~deg/_NSALT each, a hot key's MERGE work spreads over _NSALT
    reducers, and map-side partial aggregation still combines before
    the exchange (raw row volume never concentrates — the property a
    plain repartition-by-p guard would lose, which is why that
    bench-cheaper variant was rejected despite measuring ~0% here).
    Each distinct supplier lands in EXACTLY one bucket, so the
    per-part sum of partial-set sizes IS the exact distinct degree.
    Stage 2 then NULLS any partial larger than max_deg before
    collecting: a heavy part contributes only its sizes, so the
    merge buffer is bounded at _NSALT·max_deg entries REGARDLESS of
    skew, the _deg filter drops heavy parts, and for survivors
    (deg <= max_deg ⇒ every partial kept, disjoint) the flatten+sort
    is bit-identical to array_sort(collect_set). No window, no join.

    Measured (sf0.1, one session, 6 interleaved reps, min/med of the
    full kcore / affinity pipelines): unguarded 3.87/4.38 & 2.28/2.52;
    this form + eager checkpoint (`cosupply_pairs`) 4.33/4.98 &
    2.71/2.91 (~+10-15%, the guard's price); a window-on-p variant
    5.02/— & 3.10/— (rejected, extra sort + third aggregate); count +
    broadcast-anti-join +79% (rejected, pays the partial aggregate
    twice plus a join); repartition('p') single-exchange 3.84/4.12
    (rejected as above — raw-row shuffle reintroduces the straggler
    at adversarial skew)."""
    salt = F.pmod(F.xxhash64(F.col("l_suppkey")), F.lit(_NSALT))
    partial = (
        li.groupBy(F.col("l_partkey").alias("p"), salt.alias("_salt"))
        .agg(F.collect_set(F.col("l_suppkey")).alias("pss"))
    )
    kept = partial.select(
        "p",
        F.size("pss").alias("psz"),
        F.when(F.size("pss") <= max_deg, F.col("pss")).alias("keep"),
    )
    return (
        kept.groupBy("p")
        .agg(
            F.sum("psz").alias("_deg"),
            F.flatten(F.collect_list("keep")).alias("_fl"),
        )
        .filter(F.col("_deg") <= max_deg)
        .select("p", F.array_sort("_fl").alias("ss"))
    )


def cosupply_pairs(li: DataFrame, max_deg: int) -> tuple[DataFrame, DataFrame]:
    """The capped co-supply projection of the supplier↔part relation:
    (sets, pairs) where `sets` is the eagerly checkpointed
    `capped_part_supplier_sets` and `pairs` is (x, y, c) — every
    supplier pair x < y sharing a non-hot part, with c the number of
    parts they share.

    One groupBy(p).collect_set(s) stands in for distinct(s, p) +
    degree count + anti-join + the part-key SELF-JOIN: the set dedups
    (s, p) pairs, its size is the exact distinct degree, and the
    ordered pairs come from an in-partition combination expansion over
    the sorted set, so there is no join at all — exchanges (p) +
    (x, y) = 2 instead of 4 plus a join. Pair counts equal the
    a.s < b.s self-join output (combinations of each part's distinct
    supplier set). Expansion form matters: posexplode + slice explode
    (codegen'd generators) measured 2.05 s vs 3.38 s for the
    equivalent nested transform/flatten lambda (higher-order array
    functions are interpreted — the minhash_signatures lesson) vs
    2.77 s for the self-join, at sf0.1 min-of-3.

    The EAGER checkpoint matters: every caller consumes the sets
    more than once (affinity: sizes and pairs; mutual edges: both
    halves of the symmetric union), which would otherwise re-execute
    the guarded two-aggregate chain past exchange reuse (sf0.1 A/B,
    min/med: affinity no-checkpoint 2.97/3.24 s vs eager 2.71/2.91;
    kcore plain 4.69/5.06 vs checkpointed 4.33/4.98)."""
    sets = capped_part_supplier_sets(li, max_deg).localCheckpoint(eager=True)
    pairs = (
        sets.select(F.posexplode("ss").alias("i", "x"), F.col("ss"))
        .select("x", F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return sets, pairs


def affinity_edges(li: DataFrame, max_deg: int, *,
                   threshold: float | None = None,
                   top_k: int | None = None) -> DataFrame:
    """Supplier-supplier Jaccard affinity (s_a < s_b, shared_parts,
    affinity) from the supplier↔part bipartite relation: the edges
    with affinity >= `threshold`, or the `top_k` strongest (6dp
    affinity desc, pair tiebreak) — pass exactly one.

    `max_deg` is the hot-key skew lever: parts supplied by more than
    `max_deg` suppliers are dropped from the index BEFORE the pair
    expansion (`cosupply_pairs`), bounding every part's fan-out at
    max_deg² pairs — without it one hot part contributes O(d²) pairs
    to a single bucket at real-world skew. Per-supplier sizes come
    from one explode of the same capped sets, so the result is
    exactly "Jaccard over non-hot parts" — deterministic and
    oracle-expressible. Principled at scale: a part half the market
    supplies carries ~zero Jaccard signal, same as a stop-word
    shingle."""
    sets, pairs = cosupply_pairs(li, max_deg)
    sz = sets.select(F.explode("ss").alias("s")).groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    shared = pairs.select(F.col("x").alias("s_a"), F.col("y").alias("s_b"),
                          F.col("c").alias("shared_parts"))
    aff = F.col("shared_parts") / (F.col("n_a") + F.col("n_b") - F.col("shared_parts"))
    scored = shared.join(
        sz.select(F.col("s").alias("s_a"), F.col("n").alias("n_a")), "s_a"
    ).join(sz.select(F.col("s").alias("s_b"), F.col("n").alias("n_b")), "s_b")
    if top_k is not None:
        return (
            scored.select("s_a", "s_b", "shared_parts", rnd(aff, 6).alias("affinity"))
            .orderBy(F.desc("affinity"), "s_a", "s_b")
            .limit(top_k)
        )
    return scored.filter(aff >= threshold).select(
        "s_a", "s_b", "shared_parts", rnd(aff, 6).alias("affinity")
    )


def mutual_topk_edges(li: DataFrame) -> DataFrame:
    """The mutual-top-5 co-supply edge relation (sa < sb) every
    co-supply graph query shares (triangle census, LPA, community
    components, k-core, link prediction; the SQL twin is
    `queries.analytics._COSUPPLY_EDGE_CTES`): co-supply counts from
    the capped projection (`cosupply_pairs`, hot parts above
    `COSUPPLY_MAX_DEG` dropped first), per-supplier top-5 by (count
    desc, id), kept only when MUTUAL.

    `co` holds each ordered pair exactly once (both directions of the
    x < y pair relation), so an edge is mutual exactly when both of its
    arcs survive `rn <= 5`: one groupBy on the unordered pair that
    keeps the groups of two replaces a self-join of the top-5 list and
    its extra eager checkpoint — the window's exchange plus one more,
    no join. The result
    has <= 5·|nodes| rows (every node's degree is <= 5) but its lineage
    (projection + window) is the expensive part and every caller fans
    it into several branches, so it is localCheckpointed eagerly and
    the projection runs once (measured 23s → ~4s at sf0.1).

    Not cached across queries: a module-level memo keyed on the data
    directory would let a benched query's warm reps serve a cached
    intermediate instead of computing from the parquet inputs. Every
    caller rebuilds the projection inside its own plan; sharing
    happens only WITHIN one query (the localCheckpoints). A cluster
    deployment would read a materialized view with explicit refresh
    semantics (`lakehouse_mv_join_incremental`), not a process-global
    dict."""
    _, half = cosupply_pairs(li, COSUPPLY_MAX_DEG)
    co = half.select(F.col("x").alias("sa"), F.col("y").alias("sb"), "c").unionAll(
        half.select(F.col("y").alias("sa"), F.col("x").alias("sb"), "c")
    )
    w = Window.partitionBy("sa").orderBy(F.desc("c"), F.asc("sb"))
    return (
        co.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy(F.least("sa", "sb").alias("sa"), F.greatest("sa", "sb").alias("sb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 2)
        .select("sa", "sb")
        .localCheckpoint(eager=True)
    )


def symmetric(e: DataFrame) -> DataFrame:
    """(src, dst) in both directions for an undirected (sa, sb) edge
    list."""
    return e.select(F.col("sa").alias("src"), F.col("sb").alias("dst")).unionAll(
        e.select(F.col("sb").alias("src"), F.col("sa").alias("dst"))
    )


def transition_graph(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(e, nodes) for the event-type transition graph: `e` is
    (src, dst, w, ow) — each user's consecutive events (ts, event_id
    order) counted per type pair, with `ow` the source type's total
    out-weight, the edge shape `integer_pagerank` takes — and `nodes`
    is (node) over every event type."""
    ev = events.select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("dst", F.lead("event_type").over(w)).filter(F.col("dst").isNotNull())
    edges = pairs.groupBy(F.col("event_type").alias("src"), "dst").agg(
        F.count(F.lit(1)).alias("w")
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    return edges.join(outw, "src"), nodes


def integer_pagerank(e: DataFrame, nodes: DataFrame, ranks: DataFrame,
                     restart_col: Column, iters: int) -> DataFrame:
    """`iters` fixed rounds of integer PageRank, exact across engines.

    `e` is (src, dst, w, ow) with `ow` the source's total out-weight;
    `ranks` is (node, r) with BIGINT ranks scaled by a large constant;
    `nodes` holds every node plus whatever columns `restart_col` reads.
    Each round r'(v) = restart + (Σ (r(u)·w) DIV ow) · 85 DIV 100
    (`DAMPING`) — floor division everywhere, so an unrolled SQL replay
    is bit-identical; dangling-node mass is dropped. One join of ranks to
    edges on src plus one groupBy on dst per round; the state is
    (node, long), never the adjacency."""
    d_num, d_den = DAMPING
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("(r * w) DIV ow").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("sc"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (restart_col + F.expr(f"(coalesce(sc, CAST(0 AS BIGINT)) * {d_num}) DIV {d_den}"))
            .cast("long").alias("r"),
        )
    return ranks
