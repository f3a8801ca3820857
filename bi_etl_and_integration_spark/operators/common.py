"""Shared operator-layer plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


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
