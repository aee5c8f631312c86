"""The one place the package decides how an intermediate frame is pinned.

An operator materializes a frame when several consumers read it (the
forks of a prefix primitive, each iteration of a graph or BPE loop, the
sampling and shuffle passes of a global sort) and replaying its lineage
would redo expensive or non-deterministic work. Every such site calls
:func:`materialize`; nothing else in the package calls
``localCheckpoint``, ``checkpoint``, ``persist`` or ``cache`` on an
intermediate frame (``tests/test_operators.py`` guards this). The IVF
index's ``persist`` in ``operators/similarity.py`` is not an
intermediate: it is a long-lived in-memory index with an explicit
``unpersist`` lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Pin ``df`` so every consumer reads the same stored partitions.

    Today this is ``df.localCheckpoint(eager=eager)``. The trade, once:

    - It truncates lineage, so later plans start at a leaf scan instead
      of re-analyzing the upstream tree, and a non-deterministic
      projection (a range-partition id, a monotonic id) is observed once
      by every fork.
    - It registers no CacheManager entry, unlike ``persist()``, so a
      sweep over many queries accumulates nothing for the session
      lifetime and later queries' cache lookups stay cheap.
    - The ContextCleaner releases its blocks once the returned frame is
      dropped; nothing needs an ``unpersist`` on an error path.
    - Its blocks live on executor local storage. If an executor is lost
      after materialization the blocks cannot be recomputed, so the
      whole job must be retried. Closing that gap (an elastic policy
      that stages through the exchange) is ROADMAP item 1.

    Measured on q319 at sf0.1: a media feature frame pinned before its
    global sort took 1.48 s, against 2.81 s when the sort's sampling pass
    re-ran the plant+decode chain (1.29 s for the bare chain).

    ``eager=True`` runs the job now; every site but connected components'
    edge list is lazy, so the first consumer's job fills the blocks.
    """
    return df.localCheckpoint(eager=eager)
