"""Checkpoint ownership and the round loop of the iterative graph
operators — the one home of the engine's loop rules: cut the input once,
cut the state every round or two, one action per round, and release a
dead checkpoint by its OWN RDD id, never by a global storage diff (loops
run on concurrent threads of one session, and localCheckpoint blocks
released under another thread's query cannot be recomputed)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def _checkpointed_rdd_ids(df) -> set:
    """Id of the RDD a localCheckpoint'd DataFrame reads, off its own
    LogicalRDD plan node; empty (cleanup deferred to the ContextCleaner)
    for any other DataFrame."""
    try:
        return {df._jdf.queryExecution().analyzed().rdd().id()}
    except Exception:
        return set()


def _release_rdds(sc, ids) -> None:
    """Best-effort release of localCheckpoint blocks by RDD id (neither
    unpersist() nor dropping the reference frees them promptly, measured
    even after a JVM GC); failure only delays cleanup, so swallow it."""
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
    except Exception:
        pass


class _Scope:
    """Owner of every localCheckpoint one operator call ``cut``s; on any
    exit (return, non-convergence, error) it releases all but those
    handed to the caller with ``keep``.  One scope per call and no
    module state, so concurrent calls never touch each other's blocks."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids: set = set()

    def __enter__(self) -> "_Scope":
        return self

    def __exit__(self, *exc) -> None:
        _release_rdds(self._sc, self._ids)

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out = df.localCheckpoint(eager=False)
        self._ids |= _checkpointed_rdd_ids(out)
        if eager:
            # the one job localCheckpoint(eager=True) runs, started only
            # once the scope owns the RDD: a job that fails (an input
            # check's raise_error) leaves no persisted RDD behind
            out._jdf.queryExecution().analyzed().rdd().doCheckpoint()
        return out

    def release(self, df: DataFrame) -> None:
        ids = _checkpointed_rdd_ids(df) & self._ids
        _release_rdds(self._sc, ids)
        self._ids -= ids

    def own(self, df: DataFrame) -> DataFrame:
        """Take over the checkpoint another call handed out with ``keep``
        (released with this scope's own)."""
        self._ids |= _checkpointed_rdd_ids(df)
        return df

    def keep(self, *dfs: DataFrame) -> None:
        for df in dfs:
            self._ids -= _checkpointed_rdd_ids(df)


def _fixpoint(scope: _Scope, step: Callable[[DataFrame, int], DataFrame],
              state: DataFrame, *, rounds: int, every: int = 1,
              until: Callable[[DataFrame, DataFrame], bool] | None = None,
              label: str = "", trail: list | None = None) -> DataFrame:
    """The last ``state_k = step(state_{k-1}, k)``, k = 1..rounds.  Without
    ``until`` the state is cut eagerly every ``every`` rounds and on the
    last; with ``until(new, prev)`` each round is cut lazily and the test
    is its one action, ending the loop when true (ValueError when the
    rounds run out).  Each cut releases its predecessor, unless a
    ``trail`` list is given: then every cut is appended to it and lives
    until the scope exits, for a result that reads every round."""
    held = state
    for k in range(1, rounds + 1):
        new = step(state, k)
        if until is None and k % every and k < rounds:
            state = new
            continue
        new = scope.cut(new, eager=until is None)
        done = until is not None and until(new, state)
        if trail is None:
            scope.release(held)
        else:
            trail.append(new)
        held = state = new
        if done:
            return state
    if until is not None:
        raise ValueError(f"{label} did not converge in {rounds} rounds")
    return state
