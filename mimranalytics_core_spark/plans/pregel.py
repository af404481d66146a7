"""DataFrame-Pregel: iterate-until-fixpoint harness (SURVEY.md §4.3).

The reference runs NetworkX algorithms in a single Python heap
(reference README.md:28 — "NetworkX for pathfinding and centrality"); that is
its scalability ceiling. This harness is the distributed replacement: each
superstep is a join/aggregate over the full cluster, so the graph never has
to fit on one machine — the GraphX/GraphFrames execution pattern realized on
DataFrames (GraphX exposes no Python API).

Catalyst does not optimize across iterations, so the harness handles the two
things that kill naive loops at scale:

- **Lineage truncation**: each iteration's plan references the previous one;
  after k iterations the plan tree is O(2^k). A ``localCheckpoint`` every
  superstep materializes the state and cuts the plan back to a leaf.
- **Convergence via bounded work**: the loop re-derives a delta/frontier each
  step and stops when it is empty (``isEmpty`` touches at most one partition
  early-out) or at ``max_iter``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


CHANGED_COL = "__changed"
# Convergence is checked every 2nd superstep: a monotone step applied to an
# already-converged state is a no-op, so one wasted cheap superstep buys half
# the driver round-trips — per-job overhead dominates these small loops.
CHECK_EVERY = 2


def iterate_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int = 20,
    state_partitions: int | None = None,
) -> DataFrame:
    """Iterate ``state = step(state)`` until no row changed, at most
    ``max_iter`` supersteps.

    Convergence protocol (folded flag): ``step`` emits a boolean
    ``__changed`` column (:data:`CHANGED_COL`) alongside the new state.
    Convergence = no flagged row in the already-materialized checkpoint — a
    filter scan, no extra join and no extra shuffle. The flag is stripped
    from the returned state. A ``step`` that emits no flag runs exactly
    ``max_iter`` supersteps.

    ``state_partitions``: coalesce the state to this many partitions before
    each checkpoint. For loops whose state is far smaller than the input
    (label maps, rank vectors) this collapses per-superstep task overhead —
    measured 2.2× on connected components at sf0.1. Leave None when state is
    data-sized (the cluster case): there the shuffle width must follow data.
    """
    state = state.localCheckpoint(eager=True)
    # Empty initial state: every step of a monotone superstep function maps
    # empty → empty, so the loop is max_iter checkpoint jobs for nothing —
    # one cheap isEmpty on the just-materialized state skips them all (the
    # no-duplicates corpus / empty-graph case).
    if state.isEmpty():
        return state
    for i in range(max_iter):
        new_state = step(state.drop(CHANGED_COL) if CHANGED_COL in state.columns else state)
        if state_partitions is not None:
            new_state = new_state.coalesce(state_partitions)
        # Checkpoint every step: each step embeds a join against the previous
        # state and is evaluated at latest by the next convergence check —
        # materializing is strictly cheaper than recomputing a growing plan.
        # Lazy (round-16; the A/B is in the comment above
        # graph_algos.pagerank): the checkpoint persists on first use (the
        # convergence scan or the next superstep) with identical reuse.
        new_state = new_state.localCheckpoint(eager=False)
        if (
            CHANGED_COL in new_state.columns
            and ((i + 1) % CHECK_EVERY == 0 or i == max_iter - 1)
            and new_state.filter(F.col(CHANGED_COL)).isEmpty()
        ):
            return new_state.drop(CHANGED_COL)
        state = new_state
    return state.drop(CHANGED_COL) if CHANGED_COL in state.columns else state
