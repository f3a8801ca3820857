"""CDC / incremental-batch operators (SURVEY.md §2.10, §3.3).

Reference parity (PRACT/004-006 CDC practice notes, PRO/Глава 12):
  - ``cdc_states`` table persisting the processed LSN, advanced ONLY
    after a successful apply (PRACT/006 CDC Store LSN label.md:19-27,
    97-120) -> ``StateStore`` (atomic JSON file write-then-rename).
  - processing range [stored_state, current_max] per run
    (PRACT/005:159-163) -> ``read_range``.
  - CDC Source operation codes 1=delete / 2=insert / 4=update
    (PRO/Глава 12:61) -> ``OP_DELETE/OP_INSERT/OP_UPDATE``.
  - "Net" mode: collapse to last change per key (PRACT/006:162)
    -> ``net_changes``.
  - CDC Splitter -> ``split_ops``; set-based apply -> ``apply_changes``.
  - retention hazard: stored state older than the log's minimum
    retained offset means silent data loss; the reference's cure is a
    forced full reload (PRACT/004:99-116,231-241) -> ``read_range``
    raises ``RetentionError``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.windows import limit_by

OP_DELETE, OP_INSERT, OP_UPDATE = 1, 2, 4


class RetentionError(RuntimeError):
    """Stored state predates the retained change log — full reload needed."""


class StateStore:
    """Persisted offset state ("cdc_states" analog).

    One JSON file per state name under ``root``; committed atomically
    via temp-file + ``os.replace`` so a crash mid-write never corrupts
    the previous state — the reference's advance-only-on-success
    contract.  (On a cluster this root lives on shared storage; for
    streaming jobs Spark's own checkpoint dir supersedes this.)
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def get(self, name: str, default=None):
        try:
            with open(self._path(name)) as f:
                return json.load(f)["state"]
        except FileNotFoundError:
            return default

    def commit(self, name: str, state) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"state": state, "last_update": time.time()}, f)
        os.replace(tmp, self._path(name))


def read_range(changes: DataFrame, offset_col: str,
               start, end, *, min_available=None) -> DataFrame:
    """Read the change log for the half-open range (start, end].

    ``min_available`` models log retention: if the caller's stored state
    is older than what the log still holds, raise instead of silently
    losing changes (PRACT/004:231-241).
    """
    if min_available is not None and start is not None and start < min_available:
        raise RetentionError(
            f"stored state {start!r} < min retained offset "
            f"{min_available!r}: full reload required")
    c = F.col(offset_col)
    cond = c <= F.lit(end)
    if start is not None:
        cond = (c > F.lit(start)) & cond
    return changes.where(cond)


def retention_risk(changes: DataFrame, ts_col: str, state_ts, *,
                   retention_hours: float) -> DataFrame:
    """The reference's ``HoursOfDataLossRisk`` monitor (PRACT/004
    CDC.md:247-298): how many hours remain before the oldest UNPROCESSED
    change falls off the retained log.  Emits one row:
    (oldest_unprocessed_ts, hours_of_data_loss_risk, at_risk).

    Negative hours == changes already lost; pair with ``read_range``'s
    RetentionError for the hard stop, this for the dashboard/alert.
    """
    c = F.col(ts_col)
    unprocessed = (changes.where(c > F.lit(state_ts))
                   if state_ts is not None else changes)
    oldest = F.min(c)
    risk = (F.lit(retention_hours)
            - (F.unix_timestamp(F.current_timestamp())
               - F.unix_timestamp(oldest)) / 3600.0)
    return unprocessed.agg(
        oldest.alias("oldest_unprocessed_ts"),
        risk.alias("hours_of_data_loss_risk"),
        (risk < F.lit(0.0)).alias("at_risk"))


def net_changes(changes: DataFrame, keys: Sequence[str], offset_col: str,
                tiebreak: Sequence[Column] | None = None) -> DataFrame:
    """CDC "Net" mode: last change per key wins within the range."""
    order = [F.col(offset_col).desc()] + list(tiebreak or [])
    return limit_by(changes, keys, order, 1)


def split_ops(changes: DataFrame, op_col: str = "op",
              ) -> dict[str, DataFrame]:
    """CDC Splitter: fan out insert / update / delete streams."""
    return {
        "insert": changes.where(F.col(op_col) == OP_INSERT),
        "update": changes.where(F.col(op_col) == OP_UPDATE),
        "delete": changes.where(F.col(op_col) == OP_DELETE),
    }


def apply_changes(target: DataFrame, changes: DataFrame,
                  keys: Sequence[str], offset_col: str,
                  op_col: str = "op",
                  payload_cols: Sequence[str] | None = None,
                  tiebreak: Sequence[Column] | None = None) -> DataFrame:
    """Set-based, idempotent CDC apply (PRO/Глава 12:62-73 splitter +
    staged apply, collapsed into one plan):

      1. net-collapse the range to the final op per key
      2. drop target rows whose key has ANY change (update or delete)
      3. union in the final images of inserts/updates

    Deterministic in (target, changes) -> re-running a crashed batch is
    a no-op (the MERGE-idempotency cure, PRACT/004:342-362).  One
    shuffle on ``keys`` covers the anti-join; the union appends.

    When several changes for one key can share an offset (SQL Server
    CDC rows of one transaction share the commit LSN; ``__$seqval``
    orders within it), pass that intra-offset sequence as
    ``tiebreak``.  Without one, same-offset rows resolve by operation
    precedence — delete, then update, then insert — which is the only
    order consistent with transaction semantics (nothing follows a
    delete; an update follows its insert), so reruns are deterministic
    instead of resurrecting or losing the key by partition order.
    """
    keys = list(keys)
    payload_cols = list(payload_cols or
                        [c for c in target.columns if c not in keys])
    op_precedence = (F.when(F.col(op_col) == OP_DELETE, 0)
                     .when(F.col(op_col) == OP_UPDATE, 1)
                     .otherwise(2)).asc()
    net = net_changes(changes, keys, offset_col,
                      list(tiebreak) if tiebreak is not None
                      else [op_precedence])
    survivors = target.join(net.select(*keys), keys, "left_anti")
    upserts = (net.where(F.col(op_col) != OP_DELETE)
               .select(*keys, *payload_cols))
    return survivors.select(*keys, *payload_cols).unionByName(upserts)


def snapshot_plus_catchup(snapshot: DataFrame, changes: DataFrame,
                          keys: Sequence[str], offset_col: str,
                          snapshot_offset, op_col: str = "op") -> DataFrame:
    """Initial load + catch-up (PRACT/004:36-95): full snapshot taken at
    ``snapshot_offset``, then apply all changes recorded after it —
    covers rows changed *during* the copy exactly once."""
    catchup = changes.where(F.col(offset_col) > F.lit(snapshot_offset))
    return apply_changes(snapshot, catchup, keys, offset_col, op_col)


def snapshot_diff(old: DataFrame, new: DataFrame, keys: Sequence[str],
                  compare_cols: Sequence[str] | None = None, *,
                  op_col: str = "op") -> DataFrame:
    """Generate a change feed by diffing two full snapshots — CDC for
    sources with NO change tracking (the change-detection-by-compare
    pattern dimension loads fall back to, PRO/Глава 10:41-48, and the
    alternative PRO/Глава 12 names when table CDC can't be enabled).

    Output: the NEW row image (old image for deletes) + ``op`` ∈
    {OP_INSERT, OP_UPDATE, OP_DELETE} — directly consumable by
    :func:`split_ops` / :func:`apply_changes`, so a snapshot-only
    source plugs into the same incremental apply path as a real CDC
    feed.  Unchanged rows are dropped (the feed carries deltas only).
    ONE full-outer join on the keys — op classification, null-safe
    compares and image selection all ride the same join (each snapshot
    is scanned once, not re-joined per image)."""
    from bi_etl_and_integration_spark.operators.cleanse import (
        keyed_diff_parts)
    j, old_key, new_key, markers, out_keys, compare_cols = \
        keyed_diff_parts(old, new, keys, compare_cols)
    differs = F.concat_ws(",", *markers) != ""
    op = (F.when(old_key.isNull(), F.lit(OP_INSERT))
          .when(new_key.isNull(), F.lit(OP_DELETE))
          .otherwise(F.lit(OP_UPDATE)))
    # new image ("t" side); old image only when the row no longer exists
    images = [F.when(new_key.isNull(), F.col(f"s.{c}"))
              .otherwise(F.col(f"t.{c}")).alias(c)
              for c in compare_cols]
    return (j.where(old_key.isNull() | new_key.isNull() | differs)
            .select(*out_keys, op.alias(op_col), *images))


def apply_changes_transactional(table, changes: DataFrame,
                                keys: Sequence[str], offset_col: str,
                                op_col: str = "op",
                                payload_cols: Sequence[str] | None = None,
                                tiebreak: Sequence[Column] | None = None
                                ) -> int:
    """:func:`apply_changes` committed into a ``SnapshotTable``: one
    CDC batch == one table version.  Readers of the previous version
    are never disturbed mid-apply (the manifest create is the only
    visibility switch), each batch is auditable in ``history()``, and
    a bad batch reverts with ``rollback`` — the transactional target
    the reference's staged-apply pattern assumes the warehouse
    provides (PRACT/004:342-362), built on the engine's own commit
    log.  Returns the committed version.

    An empty table (no committed version yet) bootstraps from the
    change stream's insert images alone."""
    try:
        target = table.read()
    except FileNotFoundError:
        payload = list(payload_cols or
                       [c for c in changes.columns
                        if c not in (*keys, op_col, offset_col)])
        target = changes.select(*keys, *payload).limit(0)
    merged = apply_changes(target, changes, keys, offset_col,
                           op_col, payload_cols, tiebreak)
    return table.write(merged, "overwrite")
