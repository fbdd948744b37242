"""Graph operators shared by the query modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DAMPING = (85, 100)  # numerator, denominator


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
