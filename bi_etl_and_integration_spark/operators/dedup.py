"""Deduplication operators for training-data pipelines
(beyond-reference surface; BASELINE.json north star).

Seven regimes, all expressed as shuffle-bounded DataFrame plans:

  exact_dedup        hash-groupBy on a normalized content key (1 shuffle)
  minhash_lsh        shingle -> minhash signature -> band buckets ->
                     bucket-join candidate pairs -> Jaccard verify.
                     The band/bucket join is the ONLY pair generator; no
                     O(n^2) stage exists, so it survives 100 TB corpora.
                     minhash_index / minhash_lookup split it into a
                     frozen-corpus index and a per-batch probe
  exact_jaccard      prefix-filtered set-similarity join: ALL pairs at
                     Jaccard >= t, complete (the LSH recall reference)
  ngram_jaccard      word n-gram shingle sets + exact Jaccard on blocked
                     candidate pairs
  simhash            64-bit simhash from token hashes; near-dups =
                     Hamming distance <= k via band equality
  embedding_dedup    cosine near-dup over an embedding column via
                     sign-of-random-projection buckets (multi-probe)
  substring_dedup    exact repeated-substring removal (ExactSubstr) at
                     window granularity

The four Jaccard generators differ only in how they propose candidate
pairs (band buckets, prefix keys, a block key); all of them verify on
one shingle-set base (:func:`_shingle_sets`) with one exact Jaccard
(:func:`_jaccard_pairs`) — the candidate-then-verify set-similarity
join (Vernica et al., SIGMOD 2010).  :func:`dedup_canonicalize` turns
any generator's pairs into a per-document survivor.

Minhash math: h_i(doc) = min over shingles of ((a_i*x + b_i) mod p);
row-wise via higher-order functions — signatures never leave the JVM.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.common import cached
from bi_etl_and_integration_spark.operators.fuzzy import tokenize
from bi_etl_and_integration_spark.operators.relational import (
    source_bytes, spread_for_compute)

_P = 2_147_483_647  # Mersenne prime 2^31-1 for the minhash hash family

#: source-size window inside which a band join side gets the static
#: SHUFFLE_HASH hint (see _shj_if_big).  Below the floor AQE's
#: broadcast upgrade is the right plan; above the CEILING the hint is
#: withheld again (ADVICE r11): a forced shuffled-hash build cannot
#: spill, so at genuine cluster scale — where one skewed band bucket
#: could outgrow a build partition — the planner's default (SMJ, plus
#: the session's maxShuffledHashJoinLocalMapThreshold runtime rewrite,
#: which only converts partitions that FIT) degrades safely instead
#: of OOMing.  8 GiB over >= 200 shuffle partitions keeps worst-case
#: builds tens-of-MB-class; the bench SFs sit far below it.
_SHJ_SOURCE_BYTES = 24 * 1024 * 1024
_SHJ_SOURCE_BYTES_MAX = 8 * 1024 * 1024 * 1024


def _shj_if_big(src, banded: DataFrame) -> DataFrame:
    """SHUFFLE_HASH-hint a band self-join side when the corpus is big
    enough that AQE's broadcast upgrade would be a pessimization.

    AQE decides the upgrade from COMPRESSED shuffle bytes, so an
    8M-row band table (~160 MB in memory) can slip under the 32 MB
    broadcast threshold and pay a single-threaded hash build + ship
    that a shuffled-hash join never needs (the r10 q43 MERGE-pin found
    the same estimate-vs-reality trap for co-located SMJs).  Measured
    on the LSH band self-join, interleaved min-of-5: sf0.1 broadcast
    0.54 s vs SHJ 1.01 s (broadcast wins small), sf1 2.14 vs 2.27
    (even), sf10 broadcast 9.0 s vs SHJ 3.1 s (broadcast loses big) —
    so the hint keys on the SOURCE'S known file bytes with the
    crossover between sf1 (5.9 MB) and sf10 (58 MB).  Unknown sizes
    (in-memory test frames) stay unhinted: AQE's runtime stats are
    the right default at small scale, and at genuine cluster scale
    the band shuffle exceeds every broadcast threshold anyway while
    the session's maxShuffledHashJoinLocalMapThreshold still converts
    the SMJ to a shuffled-hash join when partitions allow."""
    srcs = src if isinstance(src, (list, tuple)) else [src]
    try:
        files = [f for s in srcs if s is not None for f in s.inputFiles()]
    except Exception:  # noqa: BLE001 — exotic source: AQE decides
        files = []
    nbytes = source_bytes(files)
    if nbytes is not None and (
            _SHJ_SOURCE_BYTES < nbytes <= _SHJ_SOURCE_BYTES_MAX):
        return banded.hint("SHUFFLE_HASH")
    return banded


def _normalized(text: Column) -> Column:
    return F.array_join(tokenize(text), " ")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", *,
                normalize: bool = False) -> DataFrame:
    """Exact dedup: canonical = min id per content hash; emits
    (canonical id, n_dups, the ids collapsed).  ``normalize=True``
    hashes the tokenized-rejoined text instead of the raw bytes
    (catches whitespace/case-only dups at one extra string pass per
    document); raw-byte hashing is the default exact-dedup contract."""
    content = (_normalized(F.col(text_col)) if normalize
               else F.col(text_col))
    keyed = df.withColumn("__k", F.xxhash64(content))
    return (keyed.groupBy("__k")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_dups"),
                 F.sort_array(F.collect_list(id_col)).alias("member_ids"))
            .drop("__k"))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), JVM-side: sliding window over
    the token array via transform+slice, then array_distinct."""
    toks = tokenize(text)
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(k <= 0, F.array(F.array_join(toks, " ")))
        .otherwise(F.transform(F.sequence(F.lit(1), k),
                               lambda i: F.array_join(
                                   F.slice(toks, i, n), " "))))


def hashed_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word-n-gram shingles hashed to longs.  Downstream set ops
    (Jaccard, minhash) run on longs instead of strings — same semantics
    up to 64-bit collisions, far cheaper.

    Shingle identity is the xxhash64 of the n consecutive TOKEN HASHES,
    assembled by zipping n shifted slices of the token-hash array — no
    per-shingle string building (array_join+slice of strings is ~4x
    slower at corpus scale).  Values are reduced mod the Mersenne prime
    so minhash coefficients can multiply without int64 overflow."""
    toks = tokenize(text)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    k = F.greatest(F.size(th) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(th, i + 1, F.size(th))
                            for i in range(n)])
    hs = F.transform(
        F.slice(zipped, 1, k),
        lambda s: F.pmod(F.xxhash64(*[s.getField(str(i)) for i in range(n)]),
                         F.lit(_P)))
    whole = F.array(F.pmod(F.xxhash64(F.concat_ws(" ", toks)), F.lit(_P)))
    return F.array_distinct(F.when(F.size(th) < n, whole).otherwise(hs))


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int,
                  *extra: Column) -> DataFrame:
    """(id, __hs) hashed shingle sets — the one base every Jaccard pair
    generator bands, blocks and verifies on.  The input is spread
    first: shingling is the CPU-heavy pass.  ``extra`` columns (a
    block key, a side tag) ride along in the same projection."""
    return (spread_for_compute(df, id_col)
            .select(F.col(id_col).alias("id"),
                    hashed_shingles(F.col(text_col), n).alias("__hs"),
                    *extra))


def _jaccard_pairs(pairs: DataFrame, sa: str, sb: str,
                   threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard_sim) for the rows of ``pairs`` whose shingle
    sets ``sa``/``sb`` reach Jaccard >= ``threshold`` — tested on the
    UNROUNDED value, emitted rounded to 4 decimals.  |A∪B| by
    inclusion-exclusion: shingle arrays are distinct and null-free, so
    this is exact and skips materializing the merged array per pair."""
    inter = F.size(F.array_intersect(F.col(sa), F.col(sb)))
    union = F.size(sa) + F.size(sb) - inter
    jac = (inter / F.greatest(union, F.lit(1))).cast("double")
    return pairs.where(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard_sim"))


def _verify_candidates(cand: DataFrame, sets_a: DataFrame,
                       sets_b: DataFrame, threshold: float) -> DataFrame:
    """Exact verify of (id_a, id_b) candidates: a pair proposed by
    several band buckets or prefix keys is verified once
    (dropDuplicates), then each side's (id, __hs) shingle set joins in
    for :func:`_jaccard_pairs`."""
    pairs = (cand.dropDuplicates(["id_a", "id_b"])
             .join(sets_a.select(F.col("id").alias("id_a"),
                                 F.col("__hs").alias("sh_a")), "id_a")
             .join(sets_b.select(F.col("id").alias("id_b"),
                                 F.col("__hs").alias("sh_b")), "id_b"))
    return _jaccard_pairs(pairs, "sh_a", "sh_b", threshold)


def _minhash_banded(base: DataFrame, *, num_hashes: int, bands: int,
                    seed: int, n_probes: int) -> DataFrame:
    """(id, band, bucket) LSH band keys from a (id, __hs) shingle table.

    Shared by the self-join dedup, the frozen-corpus index, and the
    incremental lookup — the SAME seeded affine families and band
    hashing on every path, so an index built today matches a batch
    banded tomorrow.  Generated-SQL, TWO expressions total: the
    signature mins as one ARRAY agg, the band keys as one ARRAY of
    xxhash64 over its slices — a single parse + analysis pass instead
    of 64x4 py4j round-trips (~1 s of driver time per plan
    construction); __h < p and a < p so the product stays under 2^62
    — no ANSI overflow."""
    import random
    if num_hashes % bands != 0:
        # a remainder would let global band windows straddle probe
        # families, silently voiding the independent-family recall math
        raise ValueError(f"num_hashes ({num_hashes}) must be a "
                         f"multiple of bands ({bands})")
    coeffs = []
    for probe in range(max(1, n_probes)):
        rnd = random.Random(seed + 7919 * probe)
        coeffs += [(rnd.randrange(1, _P), rnd.randrange(0, _P))
                   for _ in range(num_hashes)]
    rows_per_band = num_hashes // bands
    bands = bands * max(1, n_probes)
    exploded = base.select("id", F.explode("__hs").alias("__h"))
    sig_sql = "ARRAY(" + ", ".join(
        f"MIN(PMOD(__h * {a}L + {b}L, {_P}L))"
        for a, b in coeffs) + ") AS __sig"
    sig = exploded.groupBy("id").agg(F.expr(sig_sql))
    band_sql = "ARRAY(" + ", ".join(
        "XXHASH64(" + ", ".join(
            f"__sig[{j}]" for j in range(b * rows_per_band,
                                         (b + 1) * rows_per_band)) + ")"
        for b in range(bands)) + ")"
    return sig.select(
        "id", F.posexplode(F.expr(band_sql)).alias("band", "bucket"))


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *, num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      jaccard_threshold: float = 0.8,
                      seed: int = 42, n_probes: int = 1) -> DataFrame:
    """MinHash+LSH near-dup pairs: returns (id_a, id_b, jaccard_sim)
    with id_a < id_b and verified similarity >= threshold.

    bands=16 over 64 hashes => rows/band=4; collision prob at s=0.8 is
    1-(1-s^4)^16 ≈ 0.999 — the standard S-curve tuning.  Candidate
    generation = explode band keys + self-join on (band, bucket): the
    shuffle is on bucket keys, never all-pairs.

    Plan shape: each shingle is hashed ONCE (explode), then the 64
    signature mins run as one codegen'd hash aggregation — not as 64
    higher-order array passes, which would re-hash every shingle per
    coefficient.  Verification Jaccard runs on the hashed shingle sets.

    ``n_probes`` > 1 is the multi-probe recall dial: each probe is an
    INDEPENDENT affine hash family (probe i seeded ``seed + 7919*i``;
    probe 0 == the single-probe family, so results are a strict
    superset of the n_probes=1 run).  All probes compute in the SAME
    single aggregation pass and band self-join — a probe is just
    ``bands`` more band indices from its own family — so the cost is
    k× signature expressions and k× candidate rows, not k sequential
    job waves; each candidate pair is verified once (dropDuplicates
    before the Jaccard join).  A pair at Jaccard s escapes all probes
    with (1-p(s))^k, p(s) = 1-(1-s^r)^bands.

    .. versionchanged:: round 2
       ``num_hashes`` not divisible by ``bands`` now raises ValueError
       (previously the remainder hashes were silently unused, and with
       multi-probe the band windows could straddle probe families);
       callers with odd combinations must pick num_hashes = r x bands.
    """
    # consumed 3x (signature + both verify sides)
    base = cached(_shingle_sets(df, text_col, id_col, shingle_n))
    banded = _minhash_banded(base, num_hashes=num_hashes, bands=bands,
                             seed=seed, n_probes=n_probes)
    # join strategy: broadcast for small corpora (AQE), shuffled-hash
    # above the measured crossover (see _shj_if_big — AQE's broadcast
    # upgrade is a pessimization there), SMJ never (equal sides sort
    # twice): sf10 8.9 -> 3.1 s, identical pair set
    a, b = banded.alias("a"), _shj_if_big(df, banded).alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.bucket") == F.col("b.bucket")) &
                   (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    return _verify_candidates(cand, base, base, jaccard_threshold)


class MinhashParams(NamedTuple):
    """Banding parameters of a :class:`MinhashIndex`.  Every
    :func:`minhash_lookup` probe and :func:`minhash_index_append`
    batch is banded with the index's own params: different seeded
    families almost never collide, so a mismatch would not error at
    the join but silently collapse recall to ~0."""
    num_hashes: int = 64
    bands: int = 16
    shingle_n: int = 3
    seed: int = 42
    n_probes: int = 1


class MinhashIndex(NamedTuple):
    """Frozen-corpus LSH index: ``buckets`` = (band, bucket, id) band
    keys, ``shingles`` = (id, __hs) hashed shingle sets for the exact
    verify, ``params`` = the banding family that produced them.
    Reconstructable from persisted parquet:
    ``MinhashIndex(spark.read.parquet(b), spark.read.parquet(s),
    MinhashParams(...))``."""
    buckets: DataFrame
    shingles: DataFrame
    params: MinhashParams


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, num_hashes: int = 64,
                  bands: int = 16, shingle_n: int = 3, seed: int = 42,
                  n_probes: int = 1) -> MinhashIndex:
    """Build the FROZEN-CORPUS side of incremental near-dup: returns
    a :class:`MinhashIndex` — ``buckets`` = (band, bucket, id) LSH
    band keys, ``shingles`` = (id, __hs) hashed shingle sets for the
    exact verify, plus the banding ``params``.  Write both DataFrames
    to parquet ONCE (bucket table ideally bucketed/sorted by
    (band, bucket)); every future crawl batch then joins against the
    index without re-reading the corpus text — the
    continuous-ingestion shape (CCNet/RefinedWeb-style rolling dedup)
    where re-running the self-join over corpus+batch would re-pay the
    full corpus shingle+signature cost per batch.

    :func:`minhash_lookup` bands each probe batch with ``params``, so
    a lookup cannot drift from its index.  Fold a deduped batch's
    survivors back in with :func:`minhash_index_append`."""
    base = _shingle_sets(df, text_col, id_col, shingle_n)
    params = MinhashParams(num_hashes, bands, shingle_n, seed, n_probes)
    buckets = _minhash_banded(base, num_hashes=num_hashes, bands=bands,
                              seed=seed, n_probes=n_probes)
    return MinhashIndex(buckets, base, params)


def minhash_index_append(index: MinhashIndex, df: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> MinhashIndex:
    """Fold a new batch (typically a deduped batch's SURVIVORS) into a
    :class:`MinhashIndex` — the maintenance half of the rolling-crawl
    lifecycle: dedup batch against index (:func:`minhash_lookup`),
    keep the non-duplicates, append them so the NEXT batch dedups
    against corpus+survivors, all without ever rebuilding the index
    or re-reading corpus text.

    The batch is banded with the index's OWN stored params (no way to
    drift), and both tables extend by plain unionByName — on a
    persisted index this is an append-only parquet write of just the
    batch's bucket/shingle rows.  Lookup-after-append is exactly
    equal to a fresh full rebuild: band keys are per-document
    (signature mins over the doc's own shingles — corpus-independent),
    so union-of-bandings == banding-of-union."""
    new = minhash_index(df, text_col, id_col, **index.params._asdict())
    return MinhashIndex(index.buckets.unionByName(new.buckets),
                        index.shingles.unionByName(new.shingles),
                        index.params)


def minhash_lookup(df: DataFrame, index: MinhashIndex,
                   text_col: str = "text", id_col: str = "doc_id", *,
                   jaccard_threshold: float = 0.8) -> DataFrame:
    """Incremental near-dup: probe a NEW batch against a
    :func:`minhash_index` — returns (id_a = batch id, id_b = corpus
    id, jaccard_sim >= threshold).

    Plan shape: the batch is banded with the index's own
    :class:`MinhashParams` (one agg over batch shingles only),
    candidates come from the (band, bucket) equi-join against the
    index's bucket table — the corpus text is never touched; the
    exact-Jaccard verify joins the index's stored shingle sets for
    candidate corpus ids only.  Batch cost is O(batch + matching
    buckets), independent of corpus size beyond the join — the
    property that makes rolling dedup of a growing 100 TB corpus
    affordable.  Recall is the self-join S-curve (same families),
    certified by x43 against the exact two-table prefix join."""
    p = index.params
    # consumed twice (banding + verify)
    base = cached(_shingle_sets(df, text_col, id_col, p.shingle_n))
    banded = _minhash_banded(base, num_hashes=p.num_hashes, bands=p.bands,
                             seed=p.seed, n_probes=p.n_probes)
    # join strategy: a genuinely small probe batch stays unhinted
    # (AQE broadcasts it — the rolling-crawl shape); above the
    # crossover (x43's certification probes HALF the corpus) the
    # banded batch takes the same SHUFFLE_HASH hint as the self-join,
    # else AQE broadcasts a multi-million-row side (see _shj_if_big)
    cand = (_shj_if_big(df, banded).alias("a")
            .join(index.buckets.alias("b"),
                  (F.col("a.band") == F.col("b.band")) &
                  (F.col("a.bucket") == F.col("b.bucket")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))
    return _verify_candidates(cand, base, index.shingles,
                              jaccard_threshold)


def _bit_masks(bits: int) -> list[int]:
    # two's-complement literal for the sign bit so every mask fits a long
    return [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash: sum per-bit ±1 votes of token xxhash64 values,
    sign -> bit.  One JVM-side array-accumulator pass: votes for all 64
    bits accumulate in a single ``aggregate`` (bit masks are compile-time
    literals), then fold into the long."""
    masks = _bit_masks(bits)
    toks = tokenize(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.when(h.bitwiseAND(F.lit(m)) != 0, F.lit(1))
                      .otherwise(F.lit(-1)) for m in masks]),
            lambda a, b: a + b))
    out = F.lit(0).cast("long")
    for i, m in enumerate(masks):
        out = out.bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0, F.lit(m).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return out


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, bits: int = 64,
                  out_col: str = "__sh") -> DataFrame:
    """Per-document SimHash as a DataFrame plan: explode tokens, then ONE
    hash aggregation with 64 conditional-sum vote columns, fold to the
    long.  ~10x faster than the per-row array-accumulator ``simhash``
    column (which allocates a 64-wide array per token) and scales as a
    single shuffle on the doc id.  Docs with zero tokens get simhash 0
    (same as the column variant on an empty token array)."""
    masks = _bit_masks(bits)
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode_outer(tokenize(text_col)).alias("__t"))
    toks = toks.select("id", F.xxhash64("__t").alias("__h"))
    # branch-free votes, SWAR-packed: bit i wins iff 2*ones_i > n_tokens
    # (the +1/-1 vote sum being > 0).  Instead of 64 per-bit sums, pack
    # four 16-bit lane counters per long: sum((h >> j) & 0x0001000100010001)
    # accumulates bits j, j+16, j+32, j+48 at once — 16 aggregate
    # columns instead of 64 (4x less hash-agg work), safe for documents
    # up to 65535 tokens (a 100 TB web corpus caps well under that; the
    # bound is asserted via the count column).
    # expressions are built as generated SQL text (one JVM parse) rather
    # than hundreds of chained Column calls: each Column op is a py4j
    # round-trip, and this fold alone was ~1.5 s of DRIVER time per
    # plan construction — pure client overhead, paid even on a cluster
    lane_mask = 0x0001000100010001
    aggs = [F.expr(f"SUM(SHIFTRIGHTUNSIGNED(__h, {j}) & {lane_mask}L) "
                   f"AS __p{j}")
            for j in range(16)]
    votes = toks.groupBy("id").agg(F.count("__h").alias("__n"), *aggs)

    def mask_sql(m: int) -> str:
        # the sign bit's mask is LONG_MIN, which has no positive literal
        return f"{m}L" if m >= 0 else "(-9223372036854775807L - 1L)"

    terms = []
    for i, m in enumerate(masks):
        j, lane = i % 16, i // 16
        ones = f"(SHIFTRIGHTUNSIGNED(__p{j}, {16 * lane}) & 65535L)"
        terms.append(f"IF(2 * {ones} > __n, {mask_sql(m)}, 0L)")
    out = F.expr(" | ".join(terms))
    return votes.select("id", out.alias(out_col))


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, max_hamming: int = 3,
                  bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit hash into ``bands`` chunks —
    any pair within distance < bands shares at least one exact chunk, so
    an equi-join per chunk finds all candidates (no cross join).
    """
    chunk = 64 // bands
    # persist: both self-join sides otherwise recompute the whole
    # token-explode + vote aggregation (the broadcast side is separate
    # lineage, so ReuseExchange can't kick in); the table is only
    # (id, 64-bit hash) — N×16 bytes, cacheable at any corpus size
    base = cached(simhash_table(df, text_col, id_col))
    banded = base.select(
        "id", "__sh",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("__sh"), b * chunk)
            .bitwiseAND(F.lit((1 << chunk) - 1))
            for b in range(bands)])).alias("band", "key"))
    # join strategy: same crossover-keyed hint as the minhash band
    # self-join (_shj_if_big)
    a, b = banded.alias("a"), _shj_if_big(df, banded).alias("b")
    ham = F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
    # verify BEFORE the pair-dedup: the hamming check needs only the two
    # hashes already sitting in the joined row (narrow, codegen'd), so
    # filtering first means the dropDuplicates shuffle carries matches
    # only — on near-dup-heavy corpora the candidate multiset is many
    # times the match set (a pair collides in up to ``bands`` bands)
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.key") == F.col("b.key")) &
                   (F.col("a.id") < F.col("b.id")))
            .where(ham <= max_hamming)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    ham.alias("hamming"))
            .dropDuplicates(["id_a", "id_b"]))
    return cand


def ngram_jaccard_dedup(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *, n: int = 3,
                        threshold: float = 0.8,
                        block: Column | None = None) -> DataFrame:
    """Exact n-gram Jaccard on blocked candidate pairs (the verify-only
    variant of minhash_lsh_dedup for modest corpora / audits)."""
    blk = block if block is not None else F.xxhash64(
        F.slice(tokenize(F.col(text_col)), 1, n))
    # both sides of the self-join
    base = cached(_shingle_sets(df, text_col, id_col, n, blk.alias("blk")))
    a, b = base.alias("a"), base.alias("b")
    cand = a.join(b, (F.col("a.blk") == F.col("b.blk")) &
                  (F.col("a.id") < F.col("b.id")))
    return _jaccard_pairs(
        cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.__hs").alias("sh_a"),
                    F.col("b.__hs").alias("sh_b")),
        "sh_a", "sh_b", threshold)


_CEIL_EPS = 1e-6
"""Rounding slack for prefix-length / length-filter bounds in
:func:`exact_jaccard_join`.  Double products ``t * |s|`` carry <= 0.5
ulp relative error (~1.1e-16 * t * |s|), which can push ``ceil`` one
past the exact rational ceiling or a ``>=`` comparison just past an
exactly-at-threshold integer.  Subtracting this epsilon UNDER-estimates
both bounds, which is always completeness-safe (longer prefixes, more
admitted candidates — the exact verify pass discards the extras), and
is far below the 1.0 quantum of the integer-valued true bound for any
realistic shingle-set size (safe while 1.1e-16 * |s| < 1e-6, i.e.
|s| < ~1e9 shingles per document)."""


def exact_jaccard_join(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *, n: int = 3,
                       threshold: float = 0.5,
                       other: DataFrame | None = None) -> DataFrame:
    """EXACT set-similarity self-join: ALL pairs with n-gram shingle
    Jaccard >= ``threshold``, guaranteed complete — no LSH, no
    blocking heuristic, no all-pairs stage.

    This is the prefix-filtering algorithm (Bayardo et al., WWW 2007
    "Scaling Up All Pairs Similarity Search"; distributed formulation
    per Vernica et al., SIGMOD 2010 "Efficient Parallel Set-Similarity
    Joins Using MapReduce"): order every document's shingle set by a
    GLOBAL canonical order (document frequency ascending — rarest
    first — ties by shingle value), and emit only each document's
    PREFIX of ``|s| - ceil(t*|s|) + 1`` shingles as join keys.
    Completeness: a pair at Jaccard >= t overlaps in >= ceil(t*|s|)
    elements of each side, so fewer than the prefix length of either
    side's elements can be missing from the other — the two prefixes
    must share an element under any consistent total order.  The
    frequency order makes the shared element as RARE as possible, so
    per-key join groups stay small (the published candidate-count
    minimizer).

    Pipeline (3 shuffles, never O(n²)): shingle df counts (groupBy) →
    per-doc frequency-sorted shingle array (join + groupBy) → prefix
    explode + equi-self-join on (shingle, length-filter
    ``t*|a| <= |b|``) → pair-dedup → exact Jaccard verify on the full
    sorted arrays.  The length filter is PPJoin's: |b| < t*|a| caps
    J(a,b) <= |b|/|a| < t, so those candidates never verify.

    This is the exact-reference generator the LSH recall
    certifications (x02/x02b) measure against; it is also a
    production exact-dedup path in its own right for thresholds high
    enough that prefixes stay short (at t=0.8, prefix = 20% of each
    doc's shingles).

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b, jaccard_sim
    rounded to 4 decimals AFTER thresholding on the unrounded value.

    ``other`` switches to the R-S (two-table) join: all pairs
    (id_a from ``df``, id_b from ``other``) at Jaccard >= t — the
    incremental-dedup shape (new batch vs frozen corpus).  The
    canonical frequency order is computed over the UNION of both
    sides (prefix completeness needs ONE total order), the id
    inequality is dropped, and both sides keep the same prefix
    length bound.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = _shingle_sets(df, text_col, id_col, n, F.lit(0).alias("__side"))
    if other is not None:
        base = base.unionByName(_shingle_sets(
            other, text_col, id_col, n, F.lit(1).alias("__side")))
    ex = base.select("id", "__side", F.explode("__hs").alias("__h"))
    freq = ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # canonical order (df asc, shingle asc) packed into ONE sortable
    # long: df caps at 2^31 rows per shingle and __h < 2^31-1 already
    # persisted: consumed THREE times (prefix explode + both verify
    # sides) — without it the scan→shingle→freq-join→collect subtree
    # recomputes per consumer (ReusedExchange only covers the shuffle,
    # not the post-shuffle agg or the upstream compute).
    ranked = cached(ex.join(freq, "__h")
                    .groupBy("id", "__side")
                    .agg(F.sort_array(F.collect_list(
                        F.col("__df") * F.lit(1 << 31) + F.col("__h")))
                        .alias("__sorted")))
    sz = F.size("__sorted")
    # Overlap bound with rounding slack: ceil(t*|s|) computed on
    # doubles can round ABOVE the exact rational ceiling (t=0.34,
    # |s|=150 -> fl(51.0) = 51.000000000000004 -> ceil 52, true 51),
    # shortening the prefix BELOW the completeness bound.  Subtracting
    # a small epsilon before ceil can only UNDER-estimate the bound,
    # which lengthens prefixes — completeness-preserving by
    # construction (the exact verify step discards extras).  eps=1e-6
    # absorbs the <= 0.5 ulp product error for any |s| < 1e9.
    plen = (sz - F.ceil(F.lit(threshold) * sz - F.lit(_CEIL_EPS))
            .cast("int") + 1)
    pref = ranked.select(
        "id", "__side", sz.alias("__len"),
        F.explode(F.slice("__sorted", 1, plen)).alias("__k"))
    a = pref.where(F.col("__side") == 0).alias("a")
    # join strategy: same crossover-keyed SHUFFLE_HASH as the band
    # joins (_shj_if_big, keyed on the union of both sources) — the
    # static SMJ sorts both exploded prefix tables, and AQE's
    # broadcast upgrade mis-fires on compressed sizes at mid scale
    b = _shj_if_big(
        [df, other],
        pref.where(F.col("__side") == (1 if other is not None else 0))
    ).alias("b")
    # PPJoin length filter with the same epsilon slack: t*|a| on
    # doubles can round up past an exactly-at-threshold |b| (|a|=150,
    # |b|=51, t=0.34: 51 >= 51.000000000000004 is false), rejecting a
    # J == t pair.  The slack only ADMITS boundary candidates; the
    # exact verify keeps the result set tight.
    pair_pred = ((F.col("a.__k") == F.col("b.__k")) &
                 (F.col("b.__len")
                  >= F.lit(threshold) * F.col("a.__len") - F.lit(_CEIL_EPS)) &
                 (F.col("a.__len")
                  >= F.lit(threshold) * F.col("b.__len") - F.lit(_CEIL_EPS)))
    if other is None:
        pair_pred = pair_pred & (F.col("a.id") < F.col("b.id"))
    cand = (a.join(b, pair_pred)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))
    # the packed (df, shingle) keys are per-doc distinct like __hs
    sets = ranked.select("id", "__side", F.col("__sorted").alias("__hs"))
    return _verify_candidates(
        cand, sets.where(F.col("__side") == 0),
        sets.where(F.col("__side") == (1 if other is not None else 0)),
        threshold)


def embedding_dedup(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", *, threshold: float = 0.95,
                    n_planes: int = 8, n_probes: int = 1, seed: int = 42,
                    max_bucket_rows: int | None = None) -> DataFrame:
    """Embedding cosine near-dup: bucket by sign-of-random-projection
    (n_planes hyperplanes -> 2^n buckets), then verify cosine INSIDE
    each bucket with one vectorized numpy gram matrix per bucket
    (``applyInPandas``): the only shuffle is the bucket key, compute is
    BLAS, and per-bucket memory is O(bucket² ) — ``n_planes`` is the
    dial that bounds bucket size (add planes until the hottest bucket's
    pair count fits an executor).  A pair-join + per-pair interpreted
    cosine was ~10x slower at equal semantics.  The hyperplanes are
    drawn inside the Arrow worker from the batch's vector width, so
    building the plan launches no Spark job.

    ``n_probes`` is the recall dial: random-projection LSH is
    approximate, and a pair at cosine s lands in the same bucket of
    one hyperplane draw with p(s) = (1 - acos(s)/pi)^n_planes, so k
    independent draws (probe i seeded ``seed + 7919*i``; probe 0 is the
    single-probe draw) lift recall to 1 - (1-p)^k at k× verify cost.
    All probes run in ONE plan: each row posexplodes its bucket ids,
    one shuffle on (probe, bucket) feeds one BLAS verify stage — k×
    shuffle ROWS but a single stage barrier, not k sequential job
    waves.  With more than one probe a final dropDuplicates collapses
    pairs several probes found (cosine is deterministic per pair, so
    the copies are identical rows)."""
    from bi_etl_and_integration_spark.operators.similarity import (
        sign_buckets_udf)
    buckets = sign_buckets_udf(
        n_planes, [seed + 7919 * i for i in range(n_probes)])(F.col(vec_col))
    probed = df.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("v"),
                       F.posexplode(buckets).alias("probe", "bkt"))
    verify, out_schema = _cosine_verify(
        df, id_col, threshold,
        max_bucket_rows=max_bucket_rows or _MAX_BUCKET_ROWS)
    pairs = probed.groupBy("probe", "bkt").applyInPandas(verify, out_schema)
    return pairs if n_probes == 1 else pairs.dropDuplicates(["id_a", "id_b"])


_VERIFY_BLOCK = 4096          # gram-matrix row block: O(block x n) mem
_MAX_BUCKET_ROWS = 32_768     # loud-failure cap: beyond this the
#                               O(bucket^2) verify COMPUTE is the
#                               problem, not memory — raise n_planes


def _cosine_verify(df: DataFrame, id_col: str, threshold: float,
                   max_bucket_rows: int = _MAX_BUCKET_ROWS):
    """(pandas fn, schema) verifying all intra-group pairs blockwise;
    expects columns (id, v) plus the group key(s).

    Hot-bucket guards: (1) the n x n similarity matrix is never
    materialized — rows are processed in ``_VERIFY_BLOCK`` slabs, so
    peak memory is O(block x n) float64 (~1 GB at the 32k cap), not
    O(n^2); (2) a bucket larger than ``max_bucket_rows`` (a degenerate
    pile-up, e.g. all-zero vectors) raises a loud ValueError telling
    the caller to add hyperplanes instead of silently burning an
    executor on n^2/2 pair computations."""
    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cosine_sim double"

    def verify(pdf):
        import numpy as np
        import pandas as pd
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine_sim": []})
        if n > max_bucket_rows:
            raise ValueError(
                f"embedding-dedup bucket holds {n} rows "
                f"(cap {max_bucket_rows}): a degenerate hot bucket "
                f"makes the O(n^2) verify intractable — raise n_planes "
                f"(each plane roughly halves bucket size) or pre-filter "
                f"the pile-up value (e.g. zero vectors)")
        pdf = pdf.sort_values("id")
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        unit = mat / norms[:, None]
        ids = pdf["id"].to_numpy()
        out_a, out_b, out_s = [], [], []
        for lo in range(0, n - 1, _VERIFY_BLOCK):
            hi = min(lo + _VERIFY_BLOCK, n)
            # rows lo..hi vs all columns; upper triangle only (j > i)
            sims = unit[lo:hi] @ unit.T
            # threshold on the raw cosine, round only the emitted value
            # (as _jaccard_pairs does)
            ia, ib = np.nonzero(sims >= threshold)
            keep = ib > ia + lo
            ia, ib = ia[keep], ib[keep]
            out_a.append(ids[ia + lo])
            out_b.append(ids[ib])
            out_s.append(np.round(sims[ia, ib], 4))
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cosine_sim": np.concatenate(out_s)})

    return verify, out_schema


def dedup_canonicalize(df: DataFrame, pairs: DataFrame, *,
                       id_col: str = "doc_id",
                       canonical_col: str = "canonical_id",
                       prefer: Column | None = None) -> DataFrame:
    """End-to-end near-dup RESOLUTION: turn a pair list (``id_a``,
    ``id_b`` from any of this module's pair generators) into a
    per-document canonical assignment — the step that actually
    shrinks a training corpus, where the pair stages only diagnose.

    Near-duplication is not transitive pair-by-pair (A~B, B~C but
    A!~C), yet a corpus cut must be: the published convention
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") is to drop all but one document per CONNECTED
    COMPONENT of the similarity graph.  This composes the
    O(log² n)-round large-star/small-star
    :func:`~bi_etl_and_integration_spark.operators.fuzzy.connected_components`
    over the pair edges (bounded: only documents appearing in a pair
    enter the graph) and keeps the minimum id per component.

    Returns every row of ``df`` plus ``canonical_col`` (= own id for
    non-duplicated docs) and ``is_dup`` (true iff this row loses the
    election — ``WHERE NOT is_dup`` is the deduped corpus).

    ``prefer`` picks WHICH duplicate survives: the cluster member with
    the greatest ``prefer`` value (ties -> lowest id) — the published
    practice of keeping the longest / highest-quality copy rather
    than an arbitrary one.  Default (None) elects the minimum id.
    The election is one extra aggregate over the CLUSTERED rows only
    (docs appearing in a pair), never the corpus; either way it is
    order-free deterministic.  The tie-break negates the id, so ids
    must be numeric when ``prefer`` is used.
    """
    from bi_etl_and_integration_spark.operators.fuzzy import (
        connected_components)
    comp = connected_components(pairs, "id_a", "id_b")
    comp = comp.select(F.col("id").alias(id_col),
                       F.col("component").alias("__comp"))
    if prefer is not None:
        members = (df.select(F.col(id_col), prefer.alias("__pref"))
                   .join(comp, id_col))
        # argmax(prefer, tie -> min id) per component, as a max over
        # (pref, -id) structs — one agg, no window
        winner = (members.groupBy("__comp")
                  .agg(F.max(F.struct(
                      F.col("__pref"),
                      (-F.col(id_col)).alias("__negid")))
                      .alias("__w"))
                  .select(F.col("__comp"),
                          (-F.col("__w.__negid")).alias("__win")))
        comp = comp.join(winner, "__comp")             .select(F.col(id_col), F.col("__win").alias("__comp"))
    out = (df.join(comp, id_col, "left")
           .withColumn(canonical_col,
                       F.coalesce(F.col("__comp"), F.col(id_col)))
           .drop("__comp"))
    return out.withColumn("is_dup",
                          F.col(canonical_col) != F.col(id_col))


def substring_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *,
                    window: int = 100, stride: int = 50,
                    min_repeats: int = 2,
                    out_col: str | None = None) -> DataFrame:
    """Exact repeated-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language
    Models Better", ExactSubstr): remove every text span whose
    ``window``-char content occurs ``min_repeats``+ times ANYWHERE in
    the corpus, keeping the occurrence in the lowest-id document.
    Sub-document granularity is what MinHash/SimHash (document-level)
    cannot express: a boilerplate paragraph shared by a million
    otherwise-unique pages survives document-level dedup entirely.

    Spark-first plan — the suffix-array construction of the paper is
    replaced by the standard blocked approximation at window
    granularity, all JVM-side:

    1. narrow map: per doc, xxhash64 of each window at ``stride``
       offsets (sequence + explode — no Python);
    2. ONE shuffle: groupBy(hash) -> occurrence count + min-id owner
       (map-side combine collapses within-partition repeats first);
    3. join windows ⋈ repeated-hashes (shuffle on hash), drop the
       owner doc's rows — only DUPLICATED windows flow, a tiny
       fraction of the corpus;
    4. per doc: sort + merge overlapping [s, s+window) spans and cut
       them out of the text — both as ``aggregate`` higher-order
       folds over the per-doc span array (bounded by spans-per-doc,
       never corpus-sized state);
    5. left join back: docs with no duplicated window pass through
       untouched.

    ``stride < window`` guarantees any duplicated run of length
    >= window + stride - 1 is covered by at least one aligned window;
    smaller stride tightens the boundary slop (<= stride - 1 chars on
    each side of a duplicated run may survive).  64-bit hash
    collisions can merge unrelated windows (~n²/2^65 — same exposure
    as x20's decontamination join, documented not hidden).

    Owner semantics: the MINIMUM ``id_col`` among docs containing a
    given window keeps ALL its occurrences (document-granular
    keep-first; the paper's positional all-but-first is not stable
    under distributed reordering).  Ids must be numeric.

    Returns ``df`` with ``out_col`` (default: replaces ``text_col``)
    cleaned and ``n_removed_chars``.
    """
    if stride > window:
        raise ValueError("substring_dedup: stride must be <= window "
                         "(gaps would let duplicated runs escape)")
    out_col = out_col or text_col
    t, i = text_col, id_col
    # window hashing is the CPU-heavy pass (len/stride substrings +
    # xxhash each): spread it when the source can't split (guide §2.5)
    src = spread_for_compute(df.select(i, t), i)
    wins = (src.select(
        F.col(i),
        F.explode(F.expr(
            f"sequence(0, greatest(length({t}) - {window}, 0), "
            f"{stride})")).alias("__s"),
        F.col(t))
        .select(F.col(i), F.col("__s"),
                F.xxhash64(F.expr(
                    f"substring({t}, __s + 1, {window})")).alias("__h")))
    owners = (wins.groupBy("__h")
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.min(F.col(i)).alias("__owner"))
              .where(F.col("__n") >= min_repeats)
              .select("__h", "__owner"))
    spans = (wins.join(owners, "__h")
             .where(F.col(i) != F.col("__owner"))
             .groupBy(i)
             .agg(F.sort_array(F.collect_list("__s")).alias("__ss")))
    # merge sorted starts into disjoint [a, b) intervals
    merged = F.expr(f"""
        aggregate(
          __ss,
          CAST(array() AS array<struct<a: int, b: int>>),
          (acc, s) -> CASE
            WHEN size(acc) > 0 AND element_at(acc, -1).b >= s THEN
              concat(slice(acc, 1, size(acc) - 1),
                     array(named_struct(
                       'a', element_at(acc, -1).a,
                       'b', greatest(element_at(acc, -1).b,
                                     s + {window}))))
            ELSE concat(acc, array(named_struct('a', s,
                                                'b', s + {window})))
          END)""")
    cleaned = df.join(spans.select(F.col(i), merged.alias("__m")),
                      i, "left")
    # cut merged spans: fold (cursor, kept-text) over the intervals,
    # then append the tail after the last span
    cut = F.expr(f"""
        aggregate(
          __m,
          named_struct('pos', 0, 'out', CAST('' AS string)),
          (st, iv) -> named_struct(
            'pos', greatest(st.pos, iv.b),
            'out', concat(st.out,
                          substring({t}, st.pos + 1,
                                    greatest(iv.a - st.pos, 0)))),
          st -> concat(st.out, substring({t}, st.pos + 1,
                                         length({t}))))""")
    return (cleaned
            .withColumn("__clean",
                        F.when(F.col("__m").isNull(), F.col(t))
                        .otherwise(cut))
            .withColumn("n_removed_chars",
                        (F.length(t) - F.length("__clean"))
                        .cast("int"))
            .drop("__m", *([t] if out_col == t else []))
            .withColumnRenamed("__clean", out_col))
