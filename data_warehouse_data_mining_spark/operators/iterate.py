"""One superstep primitive for every lineage-truncating loop.

An iterative DataFrame program (PageRank, label propagation, power
iteration, greedy selection) grows its logical plan by one superstep
per round; left alone, every action re-analyzes and re-optimizes the
whole chain, so planning cost grows with the iteration count. Every
such loop in the package runs through ``iterate``, which owns the
truncation policy in one place. State bounded by a literal domain
(the markov power iteration, the Bradley-Terry and UCB1 recurrences)
does not loop here at all: it runs in one applyInPandas task.

Truncation is a LAZY ``localCheckpoint``: the plan is cut to a
``LogicalRDD`` leaf immediately. Lazy does not mean job-free under
AQE: building that RDD makes the adaptive plan run its pending
shuffle stages at cut time (measured jobs per cut at sf0.01, local[3]:
pagerank 10, label propagation 7-8, bfs 1-6). Only the last stage's
blocks wait for the next job that reads them, which still measured
faster than eager cuts on kcore and bfs. The last superstep is never
cut: its consumer runs right after the loop.
Checkpointed blocks are released by the ContextCleaner once the frame
is garbage-collected, so nothing outlives the query. On a real cluster
swap ``localCheckpoint`` for ``checkpoint`` (with a reliable
``spark.sparkContext.setCheckpointDir``) in ``_cut`` — executor loss
then recomputes from durable storage instead of failing the job.
"""

from __future__ import annotations

from typing import Callable, TypeVar

S = TypeVar("S")  # a DataFrame, or a tuple of DataFrames cut together


def _cut(state):
    if isinstance(state, tuple):
        return tuple(s.localCheckpoint(eager=False) for s in state)
    return state.localCheckpoint(eager=False)


def iterate(
    state: S,
    step: Callable[[S, int], S],
    n: int,
    cut_every: int,
    until: Callable[[S, S], bool] | None = None,
) -> S:
    """Run ``state = step(state, i)`` for i = 0..n-1 and return the
    final state. Lineage is cut after supersteps ``cut_every``,
    ``2·cut_every``, … but never after the last one. With ``until``,
    the loop stops early at the first superstep whose ``until(prev,
    new)`` holds and returns that ``new``; it is not consulted after the
    last superstep, where stopping changes nothing."""
    for i in range(n):
        new = step(state, i)
        if i + 1 == n:
            return new
        if (i + 1) % cut_every == 0:
            new = _cut(new)
        if until is not None and until(state, new):
            return new
        state = new
    return state
