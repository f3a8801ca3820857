"""Incrementally-maintained aggregate materialized view (SURVEY.md §1.1:
ClickHouse MV carrying AggregateFunction partial states, DM/Правильное
построение витрины с множественными агрегациями.md:78-99).

The ClickHouse pattern: the MV stores per-key partial STATES
(``groupArrayState``), readers finalize with ``-Merge`` combinators.
Spark-native equivalent: the view is a ``SnapshotTable``; each batch
appends one partial-state delta (sum/count pairs per measure) as an
append commit; reads merge every delta of the latest version; periodic
compaction folds them into one as an overwrite commit.  Appends never
rewrite history — the write cost of a refresh is O(batch), not O(view),
which is the property that makes nightly 100 TB fact loads maintainable.

Crash safety: refreshes and compactions are manifest commits, so a
reader sees the view before or after one, never a half-appended delta;
replaced deltas stay readable by version until ``SnapshotTable.vacuum``.

Exactness: pass DECIMAL measure columns for money-like data.  Double
partial sums re-associate across deltas (and across compactions), which
can flip a downstream rounding boundary; decimal states make
refresh-then-merge bit-identical to a direct aggregation.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.aggregate import (
    merge_state_tables, merge_states, partial_states)
from bi_etl_and_integration_spark.sources.snapshots import SnapshotTable


class IncrementalAggMV:
    """``IncrementalAggMV(path, keys, measures, finals)``:

    - ``refresh(batch_df)``  aggregate the batch to partial states and
      append them as a new delta (one shuffle over the batch only)
    - ``read(spark)``        merged + finalized view
    - ``compact(spark)``     fold all deltas into one (read cost resets)

    measures: {name: Column}; finals: {name: sum|count|avg}.
    """

    def __init__(self, path: str, keys: Sequence[str],
                 measures: Mapping[str, Column],
                 finals: Mapping[str, str] | None = None):
        self.path = path
        self.keys = list(keys)
        self.measures = dict(measures)
        # unlisted measures default to SUM (the class contract) even
        # when a PARTIAL finals dict is passed — merge_states' own
        # fallback is avg, which would silently change semantics
        self.finals = {m: "sum" for m in measures} | dict(finals or {})

    def refresh(self, batch: DataFrame) -> None:
        states = partial_states(batch, self.keys, self.measures)
        SnapshotTable(batch.sparkSession, self.path).write(states, "append")

    def _states(self, spark: SparkSession) -> DataFrame:
        return SnapshotTable(spark, self.path).read()

    def read(self, spark: SparkSession) -> DataFrame:
        return merge_states(self._states(spark), self.keys,
                            list(self.measures), self.finals)

    def compact(self, spark: SparkSession) -> None:
        """Fold every delta into a single state set.  The merged result
        is itself a valid state table (sums of sums), so compaction and
        incremental appends compose indefinitely.  The fold keeps the
        deltas' column order and types (a decimal SUM widens its
        precision) so later refreshes still append onto it."""
        states = self._states(spark)
        merged = merge_state_tables(states, self.keys, list(self.measures))
        SnapshotTable(spark, self.path).write(
            merged.select([F.col(f.name).cast(f.dataType)
                           for f in states.schema.fields]), "overwrite")

    def n_delta_files(self) -> int:
        """Files in the latest version (``history`` needs no session)."""
        return SnapshotTable(None, self.path).history()[-1]["n_files"]
