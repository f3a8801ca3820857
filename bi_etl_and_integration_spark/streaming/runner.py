"""Streaming execution helpers (SURVEY.md §3.3 Spark mapping).

  - ``stream_to_memory``: drive a streaming plan over file sources to
    completion synchronously (test/smoke harness).
  - ``foreach_batch_upsert_snapshot``: exactly-once-style sink — per
    micro-batch MERGE into a keyed ``SnapshotTable`` via the idempotent
    apply operator (the reference's 'mark processed range only on
    success' contract is Spark's checkpoint + idempotent sink).
  - ``incremental_cdc_run``: the batch-incremental scheduler analog of
    the reference's daily CDC run (PRACT/004:310-312): read
    (state, max] from a change table, apply, commit state LAST.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.cdc import (
    StateStore, apply_changes, apply_changes_transactional, read_range)
from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable


def stream_to_memory(stream_df: DataFrame, name: str,
                     output_mode: str = "append"):
    """Start a memory-sink query, process all available input, return
    the owning SparkSession for ``spark.table(name)`` inspection.
    Caller stops the query (or uses it as a context manager)."""
    q = (stream_df.writeStream.outputMode(output_mode)
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    return q


def incremental_cdc_run(spark: SparkSession, *, changes: DataFrame,
                        target: DataFrame, keys: Sequence[str],
                        offset_col: str, state_store: StateStore,
                        state_name: str,
                        apply_fn: Callable[[DataFrame], None],
                        op_col: str = "op",
                        min_available=None) -> DataFrame:
    """One incremental run:

      range = (stored_state, current_max]   (PRACT/005:159-163)
      applied = merge(target, net(range))
      apply_fn(applied)                      # caller persists the result
      state.commit(max)                      # ONLY after success

    Returns the applied DataFrame.  A crash before commit re-processes
    the same range on the next run; ``apply_changes`` is idempotent so
    the rerun converges (PRACT/004:342-362).
    """
    start = state_store.get(state_name)
    end_row = changes.agg(F.max(offset_col).alias("m")).collect()[0]
    end = end_row["m"]
    if end is None or (start is not None and end <= start):
        return target
    rng = read_range(changes, offset_col, start, end,
                     min_available=min_available)
    applied = apply_changes(target, rng, keys, offset_col, op_col)
    apply_fn(applied)
    state_store.commit(state_name, end)
    return applied


def foreach_batch_upsert_snapshot(stream_df: DataFrame, *,
                                  table_path: str, keys: Sequence[str],
                                  offset_col: str, checkpoint_dir: str,
                                  op_col: str = "op"):
    """writeStream.foreachBatch sink applying each micro-batch as a
    keyed MERGE that lands as one SnapshotTable commit: concurrent
    readers keep the previous version (no visibility gap), a crash
    mid-batch leaves only invisible data files (the streaming
    checkpoint replays the batch; the apply is idempotent so the retry
    converges), and the batch history is auditable per epoch."""
    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        table = SnapshotTable(batch.sparkSession, table_path)
        apply_changes_transactional(table, batch, keys, offset_col,
                                    op_col)

    return (stream_df.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update"))


def stream_enrich(stream_df: DataFrame, dim: DataFrame,
                  on: Sequence[str], *, how: str = "left",
                  broadcast: bool = True) -> DataFrame:
    """Stream-static enrichment — the streaming twin of the Lookup
    Full Cache (PRO/Глава 07:33-39): join a stream against a batch
    dimension table.  Stream-static joins are STATELESS in Spark
    (each micro-batch joins the dimension's current snapshot — no
    watermark, no state store), so this is the right shape for
    dimension lookups in a CDC/event pipeline; broadcast ships the
    dimension once per executor per batch.

    ``how`` is validated against what stream-static supports: inner
    and left (stream side preserved).  A right/full join against a
    static frame is not streamable — rejected up front rather than
    failing at start().
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream_enrich: how={how!r} unsupported — stream-static "
            "joins stream on the left: use 'inner' or 'left'")
    d = F.broadcast(dim) if broadcast else dim
    return stream_df.join(d, list(on), how)
