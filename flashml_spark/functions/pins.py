"""Exact unpinning of ``localCheckpoint`` frames.

A frame returned by ``df.localCheckpoint(...)`` owns exactly one
persisted RDD: the one behind its ``LogicalRDD`` leaf.  Freeing that RDD
(and only it) is safe while other code pins frames concurrently — unlike
diffing the session-global persistent-RDD set before and after a pin,
which also captures (and then frees) pins taken by other threads.

Pass the frame ``localCheckpoint`` returned, not a projection of it: a
``select`` on top has a ``Project`` root, not the pinned leaf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def unpin(*frames: DataFrame) -> None:
    """Drop the checkpoint blocks each pinned frame owns (non-blocking).

    Spark only reclaims abandoned ``localCheckpoint`` blocks after the
    driver garbage-collects the RDD object, so an iterative loop that
    pins every round holds all rounds in executor storage for the life
    of the session unless it frees the superseded round explicitly.
    """
    for frame in frames:
        frame._jdf.queryExecution().logical().rdd().unpersist(False)
