"""Sequence packing for training-data pipelines: group documents into
fixed token-budget packs (the pre-tokenization step that turns a
curated corpus into dense fixed-length training sequences).

Algorithm: NEXT-FIT within a shard — documents are walked in id order,
appended to the current pack while the running token total fits the
budget; the first overflowing document closes the pack and starts the
next one. An oversized document (ntok > budget) occupies a pack alone.
Next-fit is the standard streaming choice here: one sequential pass,
no index, ≥ 1/2 of optimal occupancy, and — unlike first-fit — the
assignment depends only on the documents BEFORE it in the shard, so
output is stable under corpus append.

Scale architecture: packing is sequential BY DESIGN (each decision
depends on the previous pack's fill), so the parallel unit is the
shard, exactly as in real corpus pipelines where each output shard
(training file) is packed independently. `pack_next_fit` hash-shuffles
docs to `n_shards` deterministic shards (one shuffle on the shard key)
and runs the greedy walk per shard via Arrow-batched applyInPandas —
at 100 TB choose n_shards ≈ corpus_tokens / desired_shard_tokens so a
shard's (id, ntok) pairs — 16 bytes/doc, NOT the text — fit an
executor; 10⁸ docs/shard ≈ 1.6 GB.

No counterpart in the reference (its closest shape is the per-batch
accumulation loop, Spotify_API3.py:351); this is north-star surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "doc_id long, shard long, pack_id long, ntok long"


def _pack_one_shard(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Greedy next-fit walk over one shard, id order. Plain Python loop
    over two int columns only — the text never enters this stage."""
    pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
    pack_ids = []
    pid, cum = 0, 0
    for ntok in pdf["ntok"]:
        if cum > 0 and cum + ntok > budget:
            pid, cum = pid + 1, 0
        cum += ntok
        pack_ids.append(pid)
    pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
    return pdf[["doc_id", "shard", "pack_id", "ntok"]]


def pack_next_fit(
    docs: DataFrame,
    ntok: Column,
    budget: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to (shard, pack_id): shard = id % n_shards,
    pack_id = next-fit pack index within the shard. Returns one row per
    document. One shuffle (groupBy shard); the Python stage sees only
    (id, shard, ntok) — 24 bytes a row."""
    prepared = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_shards).alias("shard"),
        ntok.cast("long").alias("ntok"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pack_one_shard(pdf, budget)

    return prepared.groupBy("shard").applyInPandas(pack, PACK_SCHEMA)
