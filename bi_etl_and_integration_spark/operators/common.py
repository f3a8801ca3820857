"""Shared operator-layer plumbing."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_scopes = threading.local()


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` — an intermediate read more than once (the
    Multicast / Cache Connection Manager pre-materialization,
    PRO/Глава 07:76-80) — and return it.  Inside a :func:`cache_scope`
    on this thread the frame is registered with the innermost scope,
    which unpersists it on exit; outside any scope this is exactly
    ``df.persist()`` and the frame stays cached for the session.
    Every cache in the package goes through here."""
    df = df.persist()
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def cache_scope():
    """Unpersist, on exit (normal or by exception), every frame
    :func:`cached` registered inside this block.  Scopes nest: a scope
    frees only its own frames (Spark keys caches by plan, so a plan
    cached in two scopes is freed by the first to exit).  The stack
    is thread-local, so a ``foreachBatch`` callback or a
    ``Pipeline.run(max_parallel>1)`` stage on another thread needs its
    own scope.  Reading a frame after its scope exited stays correct;
    it only recomputes."""
    stack = _scopes.__dict__.setdefault("stack", [])
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield
    finally:
        stack.pop()
        for df in frames:
            df.unpersist()


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and CUT ITS LINEAGE — the primitive
    every iterative/offset-dependent operator needs (star
    connected-components rounds, flatten_hierarchy pointer-doubling
    rounds, sequence packing's partition-offset table): without
    truncation the logical plan grows multiplicatively per round and
    Catalyst re-analysis dominates (persist alone does NOT cut the
    plan), and offset tables computed from one evaluation are only
    valid if that exact evaluation is frozen.

    Reliable ``checkpoint`` when a checkpoint dir is configured — the
    cluster-failure-safe choice (survives executor loss / dynamic
    allocation / spot nodes, the 100 TB regime); ``localCheckpoint``
    otherwise, whose executor-local blocks have no lineage fallback —
    fine in local/dev mode only."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
