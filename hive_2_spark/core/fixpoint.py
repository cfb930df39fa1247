"""The one loop primitive behind every checkpointed iterative operator.

Each round runs ``step(state).localCheckpoint()``, so round N reads
materialized rows instead of replaying rounds 1..N-1. With ``done=None``
it runs exactly ``max_rounds`` rounds: the fixed unroll an SQL oracle
replays. With ``done(prev, nxt)`` — the cheap probe over two materialized
frames — it stops at the first round where ``done`` holds, and RAISES at
the cap: the oracles unroll exactly the cap, so an unconverged state
could only hash-mismatch, or hash-match a wrong answer.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    done: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
    what: str = "fixpoint",
) -> tuple[DataFrame, int]:
    """Returns (final state, rounds run)."""
    for rounds in range(1, max_rounds + 1):
        nxt = step(state).localCheckpoint()
        stop = done is not None and done(state, nxt)
        state = nxt
        if stop:
            return state, rounds
    if done is None:
        return state, max_rounds
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds; raising rather "
        "than returning an unconverged result"
    )
