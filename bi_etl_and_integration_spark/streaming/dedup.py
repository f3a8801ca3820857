"""Streaming incremental near-dup dedup — the rolling-crawl pipeline.

Wires the batch machinery certified by x43/x43b (`minhash_lookup`
against a frozen `MinhashIndex`; one appended snapshot version per
batch as the persisted analog of `minhash_index_append` — band keys
are per-document, so union-of-batches == banding-of-union) into a
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

Persistence: the index is two :class:`SnapshotTable`s,
``<index>/buckets`` and ``<index>/shingles``; each micro-batch appends
one version to each, stamped with its ``epoch_id``.  Exactly-once:
Structured Streaming may REPLAY a micro-batch after a crash (the
checkpoint holds the offset, the sink may have partially run).  A
batch therefore probes, in each table, the newest version committed by
an EARLIER epoch — the state its first attempt saw — and a commit whose
epoch the table already records is skipped (Delta's idempotent-writer
``txn`` check, made in the commit's retry loop).  A replay thus
produces the identical survivor set, and a crash between the buckets
and the shingles commit is repaired by the replay committing only the
missing table.  Survivors are an export: ``<survivors>/epoch=<id>``,
written with ``overwrite``, so a replayed epoch overwrites its own
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
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
from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable


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
    to ``<survivors_dir>/epoch=<n>`` and their bucket/shingle rows
    appended to the ``<index_dir>/{buckets,shingles}`` snapshot tables
    as one epoch-stamped version each — replay-idempotent (see the
    module docstring).

    ``compact_every=N``: every N epochs, after the epoch's own commits,
    both tables are compacted (:meth:`SnapshotTable.compact`, one file
    per read split, written in parallel) inside ``foreachBatch``; the
    compacted version keeps its parent's epoch, so a replay still probes
    the pre-epoch version.  Nothing is deleted in the stream: a reader
    holding an older snapshot, in the stream or outside it, keeps
    reading it.  Every compaction therefore leaves one more full copy
    of the index on disk — over E epochs about E/N copies, so storage
    grows quadratically in E — until :meth:`SnapshotTable.vacuum` runs,
    the one deleter.  Vacuum is maintenance with the stream stopped
    (it would delete a running batch's staged, uncommitted files):
    stop → ``vacuum(keep_last=3)`` on both tables → resume.  Three
    versions keep the newest epoch's append, its compaction and the
    version before them, which a replay of that epoch probes.
    """
    params = MinhashParams(num_hashes, bands, shingle_n, seed, n_probes)
    if compact_every is not None and compact_every < 2:
        raise ValueError("compact_every must be >= 2 (a 1-epoch "
                         "cadence would rewrite the whole index on "
                         "every batch)")

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        tables = [SnapshotTable(spark, os.path.join(index_dir, kind))
                  for kind in ("buckets", "shingles")]
        # one scope per micro-batch: frees the batch, its survivors and
        # the shingle tables the lookup/dedup operators cache
        with cache_scope():
            batch = cached(batch)
            kept = _intra_batch_survivors(batch, text_col, id_col,
                                          params, jaccard_threshold)
            prior = [t._version_before(epoch_id) for t in tables]
            if None not in prior:
                index = MinhashIndex(*(t.read(v)
                                       for t, v in zip(tables, prior)),
                                     params)
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
            for table, rows in zip(tables, (fresh.buckets,
                                            fresh.shingles)):
                table._commit("append", *table._stage(rows),
                              epoch=epoch_id)
            if compact_every and epoch_id > 0 \
                    and epoch_id % compact_every == 0:
                for table in tables:
                    table.compact()

    return (stream_df.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update"))
