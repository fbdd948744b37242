"""The one fixpoint loop for the engine's convergent operators.

Iterating on DataFrames grows the analyzed plan by one step per round
unless the lineage is cut (Catalyst replans every predecessor), so each
round's state is `localCheckpoint`ed with `eager=False`: the state
carries its own convergence flag in a boolean `_moved` column, and
`filter(_moved).count()` both answers "did anything change" and fills
the checkpoint. One action per round, no separate diff join or
fingerprint, and the round cap fails loud.

`eager=False` defers only the final stage. Under AQE the checkpoint
call itself finalizes the adaptive plan, which runs every shuffle map
stage of `step` as a job of its own before the call returns (about
0.11 s per call in `graph_community_components` at sf0.001); the final
stage, which writes the checkpoint blocks, runs inside the round's
`count()`. So a round costs one job per exchange in `step` plus two for
the count — which is why a step should shuffle once.

Cluster caveat (as at every localCheckpoint use): the blocks are
executor-local; with lost-executor risk prefer reliable `checkpoint()`
or `persist(MEMORY_AND_DISK_2)`.
"""

from __future__ import annotations

import sys
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame], *,
             max_rounds: int, must_converge: bool = True) -> DataFrame:
    """Apply `step` until no row of its output has `_moved` set.

    The initial state is checkpointed too (`eager=False`): round 1 would
    otherwise replay its lineage once per reference inside `step`.
    Returns the first state with no moved row. After `max_rounds`
    steps it raises, naming the calling function — unless
    `must_converge=False`, for loops whose reference fixes the step
    count (an unrolled oracle over an absorbing move rule): those get
    the state after exactly `max_rounds` steps."""
    state = state.localCheckpoint(eager=False)
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=False)
        if state.filter(F.col("_moved")).count() == 0:
            return state
    if must_converge:
        caller = sys._getframe(1).f_code.co_name
        raise RuntimeError(f"{caller} did not converge in {max_rounds} rounds")
    return state
