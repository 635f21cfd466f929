"""The one round loop behind every iterative operator (paths ``p+``,
transitive closure, RDFS saturation, connected components, DESCRIBE).

A graph iteration is a relational step repeated by a generic driver.
Each round the caller's step builds the next frame from the previous
round's; the driver checkpoints it lazily and runs exactly ONE driver
action on it: an aggregate returning the convergence signal plus any
columns the caller needs on the driver.  The aggregate scans every
partition, so the checkpoint materializes inside that same job — a
round costs one scheduler barrier (driver latency amplifies every extra
one on a busy cluster) and the next round's plan starts from the
checkpoint, so lineage stays one round deep.

Tradeoff: ``localCheckpoint`` keeps a round's blocks on the executors
that computed them and truncates the lineage, so losing one of those
executors fails the next read instead of recomputing it.  A reliable
checkpoint would survive the loss at the cost of writing every round to
the checkpoint directory.

A loop that reaches its round cap without converging raises
:class:`FixpointCapError` rather than returning a partial result.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


class FixpointCapError(RuntimeError):
    """An iterative operator hit its ``max_iter`` cap before converging."""


def fixpoint(
    op: str,
    step: Callable[[Optional[DataFrame], Optional[Row]], DataFrame],
    done: Callable[[Row, Optional[Row]], bool],
    signal: Sequence[Column],
    *,
    max_iter: int,
    stats: dict | None = None,
) -> DataFrame:
    """Run rounds until ``done``; return the last round's frame.

    ``step(frame, row)`` builds a round's frame from the previous round's
    checkpointed frame and signal row (both ``None`` in round 1).  The
    round's one action evaluates the ``signal`` aggregates over it, and
    ``done(row, prev)`` decides convergence from this round's row and the
    previous one (``None`` in round 1).  ``stats["iterations"]`` gets the
    number of rounds run.
    """
    frame = row = None
    for i in range(1, max_iter + 1):
        frame = step(frame, row).localCheckpoint(eager=False)
        prev, row = row, frame.agg(*signal).collect()[0]
        if done(row, prev):
            if stats is not None:
                stats["iterations"] = i
            return frame
    raise FixpointCapError(
        f"{op} did not converge within max_iter={max_iter} rounds"
    )


def semi_naive(
    op: str,
    base: DataFrame,
    derive: Callable[[DataFrame, DataFrame, Optional[Row]], DataFrame],
    *,
    max_iter: int,
    signal: Sequence[Column] = (),
) -> DataFrame:
    """Closure of ``base`` under ``derive``, evaluated semi-naively.

    ``derive(delta, known, row)`` proposes rows from the previous round's
    new rows (``base`` in round 1), the union ``known`` of everything
    found so far, and that round's signal row (``None`` in round 1).  The
    round's new rows are the distinct proposals not already known (an
    anti-join on all of ``base``'s columns); the loop stops on an empty
    delta.  ``signal`` adds caller aggregates to the round's row count
    ``n``.  Returns the union of ``base`` and every delta — mutually
    disjoint, each distinct.
    """
    known = base

    def step(delta: Optional[DataFrame], row: Optional[Row]) -> DataFrame:
        nonlocal known
        if delta is None:
            delta = base
        else:
            known = known.unionByName(delta)
        new = derive(delta, known, row).distinct()
        return new.join(known, base.columns, "left_anti")

    fixpoint(
        op,
        step,
        lambda row, _prev: row["n"] == 0,
        [F.count(F.lit(1)).alias("n"), *signal],
        max_iter=max_iter,
    )
    return known
