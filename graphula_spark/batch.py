"""The batch-against-store rule: the rows of an update batch that a
stored corpus does not hold yet.

The reference gets set semantics on insert from its index: every write
is idempotent (``MDB_NODUPDATA``, Index.scala:101-107). Here an update
batch (new triples, new terms, derived triples) is joined against the
corpus instead, and every insert path takes it through `minus_stored`.

`BATCH_BROADCAST_MAX_ROWS` is the one row gate for broadcasting a
batch-sized frame whose size the planner cannot see: the anti step
below, and frames that are checkpointed or taken from a caller.
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: largest batch-sized frame that gets an explicit broadcast hint. At
#: 1M rows a three-long HashedRelation is about 48 MB, inside the
#: session's 64 MB broadcast budget; above it the shuffle join is the
#: right plan, since the batch is then corpus-sized.
BATCH_BROADCAST_MAX_ROWS = 1_000_000

#: join keys: column names, or a callable ``(left, right) -> Column``
#: for conditions an equi-join on names cannot say (a null-safe graph id)
Keys = Union[Sequence[str], Callable[[DataFrame, DataFrame], Column]]


def minus_stored(
    batch: DataFrame,
    n: int | None,
    corpus: DataFrame,
    on: Keys,
    dedup_overlap: bool = False,
) -> DataFrame:
    """The rows of `batch` that `corpus` does not hold, on keys `on`.

    `batch` is persisted and `n` is its counted row count (an upper
    bound will do; None when it was not counted, which drops the hint).
    Two steps, so the corpus only ever streams:

    1. ``corpus SEMI batch`` takes the overlap out of the corpus. It
       carries no hint: a persisted frame that has been counted has an
       exact cached size, so the planner broadcasts the batch whenever
       it fits the session's broadcast threshold.
    2. ``batch ANTI overlap`` removes it. The planner sizes the overlap
       at the corpus's estimate, so without a hint this plans as a
       SortMergeJoin that shuffles two batch-sized frames before AQE
       can convert it; below `BATCH_BROADCAST_MAX_ROWS` the overlap
       (at most the batch's size) is broadcast explicitly.

    A direct ``batch ANTI corpus`` can never broadcast (only the right
    side of a LEFT ANTI is broadcast, and there it is the corpus): it
    shuffles the whole corpus. Measured when the two-step came in, at
    20M triples: 348 MB of corpus shuffle for a 0.8M-row derivation
    (`git show efe3c4f:tools/probe_r8.py`).

    ``dedup_overlap`` is for corpora that are not distinct (a union of
    a store and a batch): a LEFT SEMI keeps the corpus's multiplicity,
    so the overlap is deduplicated back to its batch-sized bound before
    it is broadcast.
    """
    keys = on if callable(on) else lambda _left, _right: list(on)
    overlap = corpus.join(batch, keys(corpus, batch), "left_semi")
    if dedup_overlap:
        overlap = overlap.dropDuplicates(None if callable(on) else list(on))
    right = (
        F.broadcast(overlap)
        if n is not None and n <= BATCH_BROADCAST_MAX_ROWS
        else overlap
    )
    return batch.join(right, keys(batch, overlap), "left_anti")
