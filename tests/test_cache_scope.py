"""Unit tests: every caching operator's intermediates end with the
caller's ``cache_scope()`` (operators/common.py)."""

from __future__ import annotations

import gc
import time

import pytest

from bi_etl_and_integration_spark.operators import dedup as dd
from bi_etl_and_integration_spark.operators import text as tx
from bi_etl_and_integration_spark.operators.common import cache_scope
from bi_etl_and_integration_spark.sources.readers import read_csv_tolerant

BASE = "the quick brown fox jumps over the lazy dog "
DOCS = [(0, BASE * 3), (1, BASE * 3 + "again"), (2, "spark joins " * 8),
        (3, "spark joins " * 8 + "twice"), (4, "a lone novel document")]


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _settled(spark, base, deadline_s=10.0):
    """Persistent RDD ids beyond ``base`` once the ContextCleaner has
    had a chance to drop blocks of frames nothing references."""
    deadline = time.monotonic() + deadline_s
    while _persistent(spark) - base and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
    return _persistent(spark) - base


def _lookup(docs):
    idx = dd.minhash_index(docs.where("doc_id % 2 = 0"), num_hashes=32,
                           bands=16)
    return dd.minhash_lookup(docs.where("doc_id % 2 = 1"), idx,
                             num_hashes=32, bands=16,
                             jaccard_threshold=0.5)


OPERATORS = {
    "minhash_lsh_dedup": lambda docs, _: dd.minhash_lsh_dedup(
        docs, num_hashes=32, bands=16, jaccard_threshold=0.5),
    "minhash_lookup": lambda docs, _: _lookup(docs),
    "simhash_dedup": lambda docs, _: dd.simhash_dedup(docs),
    "ngram_jaccard_dedup": lambda docs, _: dd.ngram_jaccard_dedup(
        docs, threshold=0.5),
    "exact_jaccard_join": lambda docs, _: dd.exact_jaccard_join(
        docs, threshold=0.5),
    "bm25_rank": lambda docs, _: tx.bm25_rank(docs, ["spark", "fox"]),
    "read_csv_tolerant": lambda docs, path: read_csv_tolerant(
        docs.sparkSession, path, "a int, b string")[0],
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_caching_operator_releases_in_scope(spark, rows, tmp_path, op):
    """Called and consumed three times inside one scope, the operator
    caches at least one intermediate; after the scope the persistent
    RDD set is back at its baseline."""
    docs = rows(DOCS, "doc_id long, text string")
    path = str(tmp_path / "in.csv")
    with open(path, "w") as fh:
        fh.write("a,b\n1,x\n2,y\nnot-an-int,z\n")
    base = _persistent(spark)
    with cache_scope():
        for _ in range(3):
            OPERATORS[op](docs, path).count()
        assert _persistent(spark) - base, f"{op} cached nothing"
    assert _settled(spark, base) == set(), op
