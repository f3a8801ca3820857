"""Streaming incremental near-dup dedup — the rolling-crawl pipeline.

Wires the batch machinery certified by x43/x43b (`minhash_lookup`
against a frozen `MinhashIndex`; epoch-partitioned parquet writes as
the persisted analog of `minhash_index_append` — band keys are
per-document, so union-of-epochs == banding-of-union) into a
Structured Streaming `foreachBatch` sink, so
a continuously-arriving corpus (CCNet/RefinedWeb-style crawl) is
deduplicated ONLINE: each micro-batch is

  1. deduplicated WITHIN itself (min-id survivor per near-dup pair —
     the standard greedy keep-first rule),
  2. probed against the persisted index (everything kept so far);
     matches are dropped,
  3. its survivors written to the output and their LSH bucket/shingle
     rows APPENDED to the index — so batch N+1 dedups against
     corpus + batches 1..N without ever re-reading their text.

Scale shape: per batch the work is O(batch + matching buckets) — the
index participates only through the (band, bucket) equi-join and the
candidate-id shingle fetch, exactly the x43-certified lookup plan.
The index directories grow append-only; a real deployment compacts
them periodically with :func:`compact_minhash_index` (plain parquet
rewrite — both tables are flat).  Supported maintenance contract,
e2e-tested including the worst crash alignment: STOP the stream,
compact, RESUME from the same checkpoint.  Compaction never touches
the newest epoch — the only one Structured Streaming can replay after
a crash between the sink writes and the checkpoint commit — so a
replayed batch still probes the full compacted history and its
epoch-directory overwrite cannot destroy compacted state.

Exactly-once: Structured Streaming may REPLAY a micro-batch after a
crash (checkpoint holds the offset, the sink may have partially run).
Every write here is therefore keyed by ``epoch_id`` and idempotent:
survivors land at ``<survivors>/epoch=<id>`` and index rows at
``<index>/{buckets,shingles}/epoch=<id>`` with ``overwrite`` mode — a
replayed epoch overwrites its own directory instead of double-adding
(the replay contract `runner.foreach_batch_upsert_snapshot` meets with
an idempotent apply).  Within one
epoch the probe index is the union of all PRIOR epochs only, so a
replay sees the identical index state and produces the identical
survivor set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.common import (
    cache_scope, cached)
from bi_etl_and_integration_spark.operators.dedup import (
    MinhashIndex,
    MinhashParams,
    minhash_index,
    minhash_lookup,
    minhash_lsh_dedup,
)


def load_minhash_index(spark: SparkSession, index_dir: str,
                       params: MinhashParams, *,
                       before_epoch: int | None = None,
                       ) -> MinhashIndex | None:
    """Reconstruct a persisted :class:`MinhashIndex` from the
    ``<index_dir>/{buckets,shingles}`` parquet trees written by
    :func:`dedup_stream` (``epoch=<n>`` subdirectories are read as one
    partitioned table).  ``before_epoch`` keeps only strictly-earlier
    epochs — :func:`dedup_stream` passes the current epoch id so a
    REPLAYED micro-batch never probes the partial rows its crashed
    attempt wrote (docs must not match themselves, and the replay must
    see the identical prior-epochs-only index state).  Returns None
    when the index has no epochs yet (cold start)."""
    from pyspark.errors import AnalysisException
    buckets_dir = os.path.join(index_dir, "buckets")
    shingles_dir = os.path.join(index_dir, "shingles")
    try:
        buckets = spark.read.parquet(buckets_dir)
        shingles = spark.read.parquet(shingles_dir)
    except AnalysisException as exc:
        # ONLY path-not-found means cold start.  Any other read error
        # (torn files, permissions, FS hiccup) must RAISE: silently
        # returning None would skip the cross-batch probe for this
        # micro-batch, writing near-dups of the existing corpus as
        # survivors AND appending their shingles as canonical —
        # permanent duplicate pollution with no error anywhere.
        err = str(exc)
        if "PATH_NOT_FOUND" in err or "Path does not exist" in err:
            return None
        raise
    if before_epoch is not None:
        buckets = buckets.where(F.col("epoch") < before_epoch)
        shingles = shingles.where(F.col("epoch") < before_epoch)
    return MinhashIndex(buckets.drop("epoch"), shingles.drop("epoch"),
                        params)


def compact_minhash_index(spark: SparkSession, index_dir: str, *,
                          target_partitions: int | None = None) -> int:
    """Offline maintenance for a :func:`dedup_stream` index: rewrite
    the accumulated ``epoch=<n>`` partitions into a single compacted
    epoch so file counts (and the probe join's listing cost) stay
    bounded on a long-running crawl.  Supported cycle (e2e-tested):
    stop the stream -> compact -> resume from the same checkpoint.

    REPLAY SAFETY (the reason the newest epoch is never touched):
    Structured Streaming commits batch N to the checkpoint's commit
    log only AFTER ``foreachBatch`` returns, and starts N+1 only after
    N committed — so when a stream is stopped, every epoch directory
    except possibly the NEWEST belongs to a committed batch that will
    never run again.  The newest epoch may be a written-but-uncommitted
    batch that the resumed stream REPLAYS: the replay probes with
    ``before_epoch = newest`` and then overwrites ``epoch=newest``.
    Compacting history INTO the newest epoch would therefore (a) hide
    all prior history from the replayed probe and (b) let the replay's
    overwrite destroy the compacted index.  This function instead
    compacts ``epochs[:-1]`` into ``epochs[-2]`` and leaves
    ``epochs[-1]`` exactly as written — a replayed newest batch sees
    the identical prior-epochs-only index state (now one directory)
    and overwrites only its own directory.

    The rewrite is crash-safe in the same way the stream's own writes
    are: the compacted data lands in the surviving epoch directory via
    ``overwrite`` BEFORE the older epoch directories are removed, and
    the merge DEDUPLICATES rows by their identity keys (shingles by
    id, buckets by (band, bucket, id)) — so a crash between the two
    steps, which leaves the same rows in both the compacted and the
    old epoch dirs, is fully repaired by re-running compaction
    (without the dedup, a re-run would bake the duplicates into the
    surviving epoch, and duplicated shingle rows multiply
    minhash_lookup's verify-join output per candidate id).

    Local-filesystem note: the old-epoch removal uses shutil, so this
    maintenance entry point (unlike the stream itself) assumes a
    posix-visible index_dir; on an object store swap the rmtree for
    the store's delete API.

    Returns the epoch id the history was compacted into (the newest
    epoch id when there were <3 epochs and nothing needed merging)."""
    import shutil

    kinds = ("buckets", "shingles")
    dedup_keys = {"buckets": ["band", "bucket", "id"],
                  "shingles": ["id"]}
    loaded, kind_epochs = {}, {}
    for kind in kinds:
        loaded[kind] = spark.read.parquet(os.path.join(index_dir, kind))
        kind_epochs[kind] = sorted(
            r["epoch"] for r in loaded[kind]
            .select("epoch").distinct().collect())
    # the epoch LANDSCAPE is the union across kinds: a crash between
    # one kind's rewrite and the other's can leave per-kind epoch
    # inventories diverging (e.g. buckets already compacted, shingles
    # not) — deriving the newest/keep epochs from one kind alone would
    # strand the other kind's old dirs forever (their rows re-merged
    # by every later compaction but never deleted -> permanent
    # duplicate candidates in minhash_lookup's verify join)
    union = sorted({e for es in kind_epochs.values() for e in es})
    if len(union) <= 2:
        # 0/1 epochs: nothing to merge; 2 epochs: the only committed
        # candidate is already a single directory per kind
        return union[-1] if union else 0
    newest, keep = union[-1], union[-2]
    for kind in kinds:
        merged = (loaded[kind]
                  .where(F.col("epoch") < newest)  # committed only
                  .drop("epoch")
                  .dropDuplicates(dedup_keys[kind]))
        if target_partitions:
            merged = merged.repartition(target_partitions)
        tmp = os.path.join(index_dir, kind, f"__compact_{keep}")
        merged.write.mode("overwrite").parquet(tmp)
        # re-read from the staged copy so the overwrite of the target
        # epoch dir does not invalidate the plan's own input files
        staged = spark.read.parquet(tmp)
        staged.write.mode("overwrite").parquet(
            os.path.join(index_dir, kind, f"epoch={keep}"))
        for e in kind_epochs[kind]:
            if e < newest and e != keep:
                shutil.rmtree(
                    os.path.join(index_dir, kind, f"epoch={e}"),
                    ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return keep


def _intra_batch_survivors(batch: DataFrame, text_col: str, id_col: str,
                           p: MinhashParams,
                           jaccard_threshold: float) -> DataFrame:
    """Greedy keep-first within one batch: a document is dropped when
    it near-dups a SMALLER-id document of the same batch (the pair
    generator emits id_a < id_b, so dropping every id_b keeps exactly
    the minimal elements).  Greedy-by-id, not full connected
    components — the standard crawl-dedup rule (a doc similar only to
    an already-dropped doc survives); use `dedup_canonicalize` for
    transitive-closure semantics on a bounded corpus."""
    pairs = minhash_lsh_dedup(batch, text_col, id_col,
                              jaccard_threshold=jaccard_threshold,
                              **p._asdict())
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return batch.join(dropped, id_col, "left_anti")


def dedup_stream(stream_df: DataFrame, *, index_dir: str,
                 survivors_dir: str, checkpoint_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 64, bands: int = 16,
                 shingle_n: int = 3, jaccard_threshold: float = 0.8,
                 seed: int = 42, n_probes: int = 1,
                 compact_every: int | None = None):
    """Build the `writeStream` for online rolling dedup; caller calls
    ``.start()`` (and owns trigger/query-name options).

    Per micro-batch: intra-batch greedy dedup -> index probe
    (:func:`minhash_lookup`, banded with the index's params) -> survivors
    to ``<survivors_dir>/epoch=<n>`` and their bucket/shingle rows to
    ``<index_dir>/{buckets,shingles}/epoch=<n>`` — all three writes
    epoch-keyed and overwrite-idempotent under replay.

    LIVE-SAFE COMPACTION (``compact_every=N``, VERDICT r7 item 6):
    every N epochs, :func:`compact_minhash_index` runs INSIDE
    ``foreachBatch`` after the epoch's own writes.  This is safe with
    no stop-the-world and no tombstone protocol because Structured
    Streaming SERIALIZES micro-batches — batch N+1's probe cannot
    start until ``foreachBatch(N)`` returns — so at the moment
    compaction rewrites and deletes old epoch directories there is
    provably NO concurrent index reader to race with (the hazard a
    directory-listing store cannot otherwise close: an external
    reader's plan-time file list races with any physical deletion; see
    the SCALE.md note — external index readers must still use the
    stop-compact-resume contract or read a SnapshotTable-style
    manifest copy).  Crash alignment is the e2e-tested one: a crash
    anywhere inside the batch replays it; the replay probes
    ``before_epoch = epoch_id`` over the compacted directories, which
    hold exactly the same ROW SET as the uncompacted epochs they
    replaced (the merge deduplicates by identity keys), so the replay
    produces the identical survivor set; a crash mid-compaction is
    repaired by the next compaction pass (same staged-rewrite
    contract as offline compaction).
    """
    params = MinhashParams(num_hashes, bands, shingle_n, seed, n_probes)
    if compact_every is not None and compact_every < 2:
        raise ValueError("compact_every must be >= 2 (a 1-epoch "
                         "cadence would compact every batch for "
                         "nothing — there is never more than one "
                         "committed epoch to merge)")

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # one scope per micro-batch: frees the batch, its survivors and
        # the shingle tables the lookup/dedup operators cache
        with cache_scope():
            batch = cached(batch)
            kept = _intra_batch_survivors(batch, text_col, id_col,
                                          params, jaccard_threshold)
            index = load_minhash_index(spark, index_dir, params,
                                       before_epoch=epoch_id)
            if index is not None:
                dup = minhash_lookup(kept, index, text_col, id_col,
                                     jaccard_threshold=jaccard_threshold)
                kept = kept.join(
                    dup.select(F.col("id_a").alias(id_col)).distinct(),
                    id_col, "left_anti")
            kept = cached(kept)
            kept.write.mode("overwrite").parquet(
                os.path.join(survivors_dir, f"epoch={epoch_id}"))
            fresh = minhash_index(kept, text_col, id_col,
                                  **params._asdict())
            fresh.buckets.write.mode("overwrite").parquet(
                os.path.join(index_dir, "buckets", f"epoch={epoch_id}"))
            fresh.shingles.write.mode("overwrite").parquet(
                os.path.join(index_dir, "shingles",
                             f"epoch={epoch_id}"))
            if compact_every and epoch_id > 0 \
                    and epoch_id % compact_every == 0:
                # after this epoch's writes: the newest epoch (this
                # one, possibly uncommitted until foreachBatch
                # returns) is never touched by the merge
                compact_minhash_index(spark, index_dir)

    return (stream_df.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update"))
