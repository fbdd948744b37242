"""Distributed linear-classifier TRAINING, fully relational and
integer-exact: a batch perceptron over hashed bag-of-words features —
the fastText-style learned quality/language filter every large corpus
pipeline runs (CCNet's fastText language filter, LLaMA's quality
classifier), with the LEARNING itself expressed as DataFrame algebra
so the whole iterative optimization replays bit-for-bit in the SQL
oracle (the `bpe_train` / `kmeans_assign` property, applied to
supervised learning).

Why a perceptron (not logistic regression): its update rule is pure
integer arithmetic — score s_d = Σ_f x_{d,f}·w_f; predict
sign(s_d) with sign(0) = −1 pinned; w += Σ_{misclassified} y_d·x_d —
so distributed training is DETERMINISTIC (no float-sum reassociation
anywhere) and cross-engine exact. The classic result (Novikoff 1962)
bounds its mistakes on separable data; as a corpus-quality filter the
decision boundary, not calibrated probabilities, is what's consumed.

Scale shape: features are a (doc, bucket, count) relation — one
corpus scan, explode + groupBy (the `shingle_index` budget). Each
epoch is: one broadcast-sized weight join (D buckets ≪ corpus), one
per-doc score aggregate (shuffle on doc_id, reusable exchange), one
error semi-join, one bucket-keyed delta aggregate (map-side combined,
D-bounded output). Epochs are unrolled driver control flow — no
collect in the loop; weight relations are D rows, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata06_spark.operators.textops import rolling_hash, words


def hashed_features(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", dim: int = 1024,
                    binary: bool = False) -> DataFrame:
    """(id, bucket, x): bag-of-words counts in `dim` hash buckets.
    The bucket hash is the portable polynomial rolling hash (base 31
    mod 1e9+7 — `textops.rolling_hash`) mod `dim`, so the feature map
    is bit-identical in the SQL oracle. Hash collisions are the
    standard hashing-trick trade (Weinberger et al. 2009): both
    engines collide identically, so exactness is unaffected.

    r11 (guide §4.4): the rolling hash is an INTERPRETED higher-order
    fold over the word's characters — evaluating it per token
    occurrence was 2.7 s of the 7.9 s training wall at sf0.1. Hash
    once per DISTINCT word (the vocabulary is Heaps'-law-bounded) and
    join the bucket back onto the token stream — the same
    per-distinct-word discipline `text_wordpiece_tokenize` uses for
    its Arrow segmentation. The join is vocabulary × tokens; Spark
    broadcasts the vocab side from stats (tiny at any SF that fits a
    broadcast; past that it is a plain shuffle join on the word)."""
    tokens = (
        docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
    )
    vocab = (
        tokens.select("w").distinct()
        .select("w", (rolling_hash(F.col("w")) % dim).alias("bucket"))
    )
    base = tokens.join(vocab, "w").select(F.col(id_col), "bucket")
    if binary:
        # presence features: x = 1 iff the bucket occurs. Measured to
        # matter for full-batch perceptron dynamics on this corpus:
        # count features make every update O(doc-length)-magnitude and
        # the iterates cycle at the majority-class solution (best
        # pocket error 115/500); binary features reach 1/500 within
        # 16 epochs on the same target.
        return base.distinct().withColumn("x", F.lit(1).cast("long"))
    return base.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).cast("long").alias("x"))


def perceptron_train(docs: DataFrame, label: Column, epochs: int = 16,
                     id_col: str = "doc_id", text_col: str = "text",
                     dim: int = 1024, binary: bool = True) -> DataFrame:
    """POCKET perceptron (Gallant 1990): run `epochs` batch-perceptron
    updates — w_k = w_{k−1} + Σ_{misclassified under w_{k−1}} y·x —
    and return the w_k with the FEWEST training errors (tie → the
    earliest epoch), weights ≠ 0 only. `label` must evaluate to ±1.

    Why pocket: the FULL-batch update (the only
    order-independent, therefore deterministic-parallel, perceptron
    step) overshoots and oscillates — measured on the fixture: error
    counts cycle 385→115→385… and the LAST iterate is near-random.
    The pocket rule keeps the best iterate instead, restoring the
    guarantee that more epochs never ship a worse model, while every
    quantity stays an integer aggregate that replays exactly in SQL
    (the per-epoch error COUNT is part of the algorithm itself — a
    bounded driver-side scalar per epoch, the `connected_components`
    control-flow contract, never row data).

    All-integer end-to-end: counts × integer weights, sign(0) pinned
    to −1. A hashed BIAS feature is the caller's choice (append a
    constant token to `text_col`, or rely on the corpus's own length
    variation).

    r11 execution-shape rewrite (guide §2.3/§5.1), bit-identical
    output: the weight vector is BOUNDED MODEL STATE (≤ `dim` nonzero
    entries by construction), so it now lives on the driver — the
    contract every distributed linear trainer uses (MLlib holds the
    coefficient vector on the driver and treeAggregates gradients) and
    the same boundedness class as the pocket error counts this
    operator always pulled. What that buys, measured at sf0.1:

    - features PACK to one array row per doc (collect_list after the
      one doc-keyed exchange), eagerly checkpointed once; every epoch
      is then a single scan of |docs| rows — the former shape paid a
      broadcast-weight join + a full (doc, bucket)-row aggregate
      per epoch;
    - scoring is an integer `aggregate` fold over the packed array
      against a literal weight map (≤ dim entries — constant-folded
      per task, never corpus-sized);
    - ONE action per epoch: the bucket-keyed delta aggregate (over
      only the misclassified docs' exploded features, map-side
      combined to ≤ dim rows) UNION a sentinel row carrying the
      misclassified-doc count — the pocket statistic and the update
      arrive in the same ≤ dim+1-row pull. The former shape ran a
      16-deep lazy-checkpoint chain whose broadcasts serialized 16
      extra planning jobs.

    Isolated min-of-3 at sf0.1: train 10.2 → 5.4 s, eval 11.6 →
    5.6 s (same output relation). Every driver pull is ≤ dim+1 rows —
    algorithm state, never row data.

    `dim` is bounded at 2^13 (fail-loud, ADVICE r11): each epoch
    embeds a create_map literal of up to 2·dim arguments in the plan,
    so an unbounded dim is a silently exploding plan/codegen, not a
    bigger model. Wider feature spaces need the broadcast-join weight
    shape this rewrite replaced."""
    if dim > 1 << 13:
        raise ValueError(
            f"perceptron_train: dim {dim} exceeds the 2^13 literal-"
            "weight-map budget (the per-epoch plan embeds 2*dim map "
            "arguments); use a broadcast weight relation for wider "
            "feature spaces"
        )
    lab = docs.select(F.col(id_col), label.cast("long").alias("y"))
    bx = hashed_features(docs, id_col, text_col, dim, binary=binary).groupBy(
        id_col
    ).agg(
        F.collect_list(
            F.struct(F.col("bucket").cast("long").alias("b"), F.col("x").alias("x"))
        ).alias("bx")
    )
    packed = (
        lab.join(bx, id_col, "left")
        .select(
            F.col(id_col),
            "y",
            F.coalesce(
                F.col("bx"),
                F.expr("CAST(array() AS array<struct<b: bigint, x: bigint>>)"),
            ).alias("bx"),
        )
        .localCheckpoint(eager=True)
    )
    w: dict[int, int] = {}
    iterates: list[dict[int, int]] = []
    err_counts: list[int] = []
    for k in range(epochs + 1):
        if w:
            m = F.create_map(
                *[
                    F.lit(v).cast("long")
                    for kv in sorted(w.items())
                    for v in kv
                ]
            )
            s = F.aggregate(
                F.col("bx"),
                F.lit(0).cast("long"),
                lambda acc, e: acc
                + e["x"] * F.coalesce(F.element_at(m, e["b"]), F.lit(0).cast("long")),
            )
        else:
            s = F.lit(0).cast("long")
        pred = F.when(s > 0, F.lit(1)).otherwise(F.lit(-1))
        errs = packed.filter(pred != F.col("y"))
        # one bounded action: per-bucket delta (≤ dim rows) + the
        # sentinel (-1) row carrying the pocket error count of the
        # CURRENT iterate (iterate k-1; the final pass evaluates the
        # last iterate and applies no update)
        rows = (
            errs.select(F.explode("bx").alias("e"), "y")
            .groupBy(F.col("e.b").alias("bucket"))
            .agg(F.sum(F.col("e.x") * F.col("y")).cast("long").alias("d"))
            .unionAll(
                errs.agg(F.count(F.lit(1)).cast("long").alias("d")).select(
                    F.lit(-1).cast("long").alias("bucket"), "d"
                )
            )
            .collect()
        )
        n_err, delta = 0, {}
        for r in rows:
            if r["bucket"] == -1:
                n_err = int(r["d"])
            else:
                delta[int(r["bucket"])] = int(r["d"])
        if k > 0:
            err_counts.append(n_err)
        if k == epochs:
            break
        for b, d in delta.items():
            w[b] = w.get(b, 0) + d
        iterates.append(dict(w))
    best_k = min(range(epochs), key=lambda i: (err_counts[i], i))
    best = sorted((b, v) for b, v in iterates[best_k].items() if v != 0)
    return docs.sparkSession.createDataFrame(best, "bucket long, w long")


def perceptron_score(docs: DataFrame, weights: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     dim: int = 1024, binary: bool = True) -> DataFrame:
    """(id, s, pred): integer decision scores and ±1 predictions for
    `docs` under a trained weight relation — the APPLY side (filtering
    a 100 TB corpus by a learned quality/language model is one
    broadcast join + one doc-keyed aggregate)."""
    feats = hashed_features(docs, id_col, text_col, dim, binary=binary)
    s = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).cast("long").alias("s"))
    )
    base = docs.select(F.col(id_col))
    return base.join(s, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s"),
        F.when(F.coalesce(F.col("s"), F.lit(0)) > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("pred"),
    )
