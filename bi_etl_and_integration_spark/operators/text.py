"""Text-analysis operators for large-scale training-data pipelines
(beyond-reference surface; BASELINE.json north star).

All pure-JVM column expressions (no Python UDFs): language ID via
stopword-marker scoring, quality scoring via length/punct/stopword
ratios, token counting (whitespace + BPE-ish regex), and rolling-hash
document fingerprinting.  Each runs as a single narrow projection over
``documents`` — no shuffle, fully codegen'd, safe at 100 TB.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.common import cached, materialize
from bi_etl_and_integration_spark.operators.fuzzy import STOPWORDS, tokenize

#: tiny per-language marker lexicons (n-gram-heuristic stand-in; a real
#: deployment swaps in fastText — kept dependency-free here)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "pas", "pour"],
    "es": ["el", "los", "las", "es", "una", "por", "para", "con"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}


def token_count(text: Column | str, mode: str = "whitespace") -> Column:
    """Token counting: 'whitespace' (split on runs of spaces) or 'bpe'
    (BPE-ish word/number/punct segmentation regex)."""
    c = F.col(text) if isinstance(text, str) else text
    if mode == "whitespace":
        # measured-and-kept (x12b plan, sf0.1, min-of-4): this HOF
        # form 1.0s; regexp_count(c,'\S+') 3.1s; CASE-WHEN trim+split
        # 3.0s.  tokenize()'s array_remove form read 3.9-4.5s against
        # this form's 1.4-1.9s (x12b, 5 alternating pairs, same plan
        # shape).  The split array is materialized once and shared.
        return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(
            c, F.lit(r"(\p{L}+|\p{N}+|[^\s\p{L}\p{N}])"), 0))
    raise ValueError(mode)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score in [0,1]:
    length band, punctuation ratio, stopword ratio, mean word length,
    uppercase ratio — the standard web-scale quality heuristics."""
    c = F.col(text_col)
    toks = tokenize(c)
    n_chars = F.length(c)
    # token count as ONE regexp_count pass over the ORIGINAL text
    # (r9, measured at sf10/500k docs): counting alphanumeric runs
    # needs neither the case-folded copy nor the split array that
    # tokenize materializes — declared x08 shape 2.85 -> 2.16 s
    # (count leg alone: split-of-lowered 3.13, split-no-lower 2.40,
    # regexp_extract_all 2.26, regexp_count 1.70).  Equal to
    # size(tokenize(c)) except where case-folding changes a char's
    # category (e.g. 'İ' lowercases to i + combining dot): run count
    # is over the text as written.  The stopword leg below still
    # tokenizes (lexicon match needs the case fold) and its ratio
    # denominator stays size(toks) so numerator/denominator count the
    # same tokens; a plan that only needs counts never pays the split.
    n_tokens = F.regexp_count(c, F.lit(r"[\p{L}\p{N}]+"))
    # stopword hits: measured-and-kept as the per-token HOF — the
    # language_id-style padded regexp_count was tried and is ~3x
    # SLOWER here (a 45-way alternation backtracks per char; the
    # langid lexicons are ~8 words, below the crossover).  punct
    # count via regexp_count (single char-class pass) instead of
    # materializing a regexp_extract_all match array just to size it.
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_toks_lower = F.size(toks)
    # punct count as a translate() char-map pass: strictly cheaper than
    # a regex scan, same ASCII set as \p{Punct}
    punct = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
    n_punct = n_chars - F.length(F.translate(c, punct, ""))
    out = (df
           .withColumn("q_n_chars", n_chars)
           .withColumn("q_n_tokens", n_tokens)
           .withColumn("q_mean_word_len",
                       F.when(n_tokens > 0, n_chars / n_tokens)
                       .otherwise(F.lit(0.0)))
           .withColumn("q_punct_ratio",
                       F.when(n_chars > 0, n_punct / n_chars)
                       .otherwise(F.lit(0.0)))
           .withColumn("q_stopword_ratio",
                       F.when(n_toks_lower > 0, n_stop / n_toks_lower)
                       .otherwise(F.lit(0.0))))
    length_ok = (F.col("q_n_tokens") >= 5) & (F.col("q_n_chars") <= 100_000)
    punct_ok = F.col("q_punct_ratio") <= 0.2
    stop_ok = F.col("q_stopword_ratio").between(0.01, 0.8)
    score = (length_ok.cast("double") + punct_ok.cast("double") +
             stop_ok.cast("double")) / F.lit(3.0)
    return out.withColumn("q_score", score)


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: score = count of tokens that are markers
    of each language; argmax wins, 'und' if no marker hits.
    Deterministic tie-break by language code.

    Plan shape: tokens are joined with DOUBLE spaces (each token gets
    its own framing pair) and hits counted with one anchored-alternation
    ``regexp_count`` per language — whole-stage-codegen string passes.
    The obvious per-token ``F.filter`` HOF evaluates its lambda
    interpreted per token per language, ~10x slower at corpus scale."""
    tcol = F.col(text_col) if isinstance(text_col, str) else text_col
    padded = F.concat(F.lit(" "), F.array_join(tokenize(text_col), "  "),
                      F.lit(" "))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        hits = F.regexp_count(
            padded, F.lit(" (" + "|".join(markers) + ") "))
        # zh markers are chars, not space-separated tokens
        if lang == "zh":
            hits = hits + F.regexp_count(
                tcol, F.lit("[" + "".join(markers) + "]"))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col,
        F.when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(F.lit("und")))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, chunk_tokens: int = 256,
                    overlap_tokens: int = 64) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    LLM-training / RAG preprocessing step.  Output: one row per chunk
    ``(id, chunk_start, chunk, n_tokens)``; ``chunk_start`` is the
    1-based token offset (a stable chunk key: re-chunking the same doc
    yields identical ids, so downstream dedup/embedding jobs are
    idempotent).

    Tokens split on runs of any whitespace character and are rejoined
    with single spaces (no lowercasing or punctuation stripping, the
    chunk must carry the original words).  Entirely higher-order
    functions over one narrow projection + explode: no shuffle, no
    UDF, safe at 100 TB; a doc's chunk fan-out is len/step rows,
    bounded by the longest document, not the corpus."""
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = tokenize(text_col, lower=False, pattern=r"\s+")
    # last window starts at most at len-overlap so every tail token is
    # covered exactly once past the previous chunk's overlap
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap_tokens, F.lit(1)),
        F.lit(step))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("chunk_start"),
            F.array_join(F.slice(toks, s, chunk_tokens), " ")
            .alias("chunk"),
            F.least(F.lit(chunk_tokens), F.size(toks) - s + 1)
            .cast("int").alias("n_tokens")))
    # NULL / empty / whitespace-only text -> no chunks (explode drops
    # the empty array); sequence(1, 1) would otherwise fabricate one
    # chunk for a zero-token document
    chunks = F.when(F.size(toks) > 0, chunks).otherwise(F.array())
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(chunks).alias("c"))
            .select("id", "c.chunk_start", "c.chunk", "c.n_tokens"))


def pack_sequences(df: DataFrame, len_col: str = "n_tokens", *,
                   budget: int = 512) -> DataFrame:
    """Greedy next-fit sequence packing: assign rows (chunks) to packs
    so each pack's total token count stays ≤ ``budget`` — the step
    after :func:`chunk_documents` that fills fixed-length training
    batches instead of padding each chunk.

    Runs as ``mapInPandas`` with per-partition streaming state (the
    generator spans all Arrow batches of one partition, so packs cross
    batch boundaries but never partition boundaries — zero shuffle,
    zero coordination).  ``pack_id`` = partition_id << 32 | local pack
    index: globally unique without any global counter.  A single row
    longer than the budget gets a pack of its own (never dropped —
    truncation is the caller's policy).  Next-fit packs ≥ 50% full on
    average for chunk mixes ≤ budget; per-partition sorting by length
    upstream tightens it further if needed."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    from pyspark.sql.types import LongType, StructField, StructType
    # never .add() on df.schema: it mutates the df's cached StructType
    out_schema = StructType(
        list(df.schema.fields) + [StructField("pack_id", LongType(), False)])

    def pack(batches):
        from pyspark import TaskContext
        base = TaskContext.get().partitionId() << 32
        cur, used = 0, 0
        for pdf in batches:
            ids = []
            for n in pdf[len_col]:
                n = int(n)
                if used > 0 and used + n > budget:
                    cur, used = cur + 1, 0
                used += n
                ids.append(base | cur)
            pdf = pdf.copy()
            pdf["pack_id"] = ids
            yield pdf

    return df.mapInPandas(pack, out_schema)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "doc_fp") -> DataFrame:
    """Document fingerprint: 64-bit hash of the token-normalized text
    (lowercased, punctuation stripped, whitespace collapsed) — the
    canonical near-exact-dup key.  xxhash64 is Spark's JVM-side 64-bit
    hash; content-identical docs collide by construction."""
    normalized = F.array_join(tokenize(text_col), " ")
    return df.withColumn(out_col, F.xxhash64(normalized))


def bm25_rank(docs: DataFrame, query_terms: list[str], *,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75,
              topk: int | None = None) -> DataFrame:
    """BM25 full-text relevance ranking (Robertson/Spärck Jones; the
    Okapi formula as published), as one declarative plan:

      1. per-doc token length — narrow projection (size of the split
         array, no explode);
      2. corpus stats (N, avg doclen) — one tiny aggregate,
         cross-joined back as a broadcast scalar row;
      3. tf per (doc, term) as a per-row array count over the SAME
         tokenize pass — keep only query tokens, then count each
         term in that near-empty array; no explode, no exchange;
      4. df per term folded into step 2's aggregate (docs with
         tf > 0), then the BM25 sum per doc over the rows with any
         tf > 0.

    ``query_terms`` are lower-cased and deduplicated (first
    occurrence order): a repeated term is scored once, as in a bag
    of distinct query terms.

    IDF uses the +1 smoothing form ``ln(1 + (N-df+.5)/(df+.5))`` so
    scores stay positive.  Returns (id, bm25_score) — ``topk`` caps
    output via TakeOrdered; ties at the boundary break on id."""
    if not query_terms:
        raise ValueError("query_terms is empty")
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    # ONE tokenize pass over the corpus (r12, guide §2.3/§2.4): tf per
    # (doc, term) is a per-row array count — |query| is a small literal
    # list, so `size(filter(toks, = term))` replaces the old
    # explode → groupBy(doc, term) pipeline outright.  That removes
    # BOTH agg exchanges (tf and df), the broadcast df join, AND the
    # repeated corpus tokenize: the old plan evaluated the split in
    # the stats subtree, the explode subtree and (via dfreq) a third
    # time — ~3 full-corpus tokenizations per run (x33's before-plan
    # carries two Generate nodes over the same 500k-doc scan).
    # ``per_doc`` is (id, dl, tf_0..tf_k) — a narrow int frame —
    # cached because stats and the score projection both consume it.
    toks = tokenize(text_col, pattern=" ")
    # per-term counts in ONE full-array pass: first keep only query
    # tokens (|query| comparisons per token), then count each term
    # over that near-empty array — measured at sf10 (500k docs,
    # min-of-4 quiet): 3 full ArrayFilters 0.66 s vs this 0.53 s vs
    # the 0.33 s tokenize+size floor.  Closures, NOT default args:
    # pyspark reads a 2-param lambda as (element, index).
    qt = F.filter(F.col("__toks"), lambda x: x.isin(terms))

    def _count_of(term: str):
        return F.size(F.filter(F.col("__qt"),
                               lambda x: x == F.lit(term)))

    per_doc = cached(docs.select(F.col(id_col), toks.alias("__toks"))
                     .select(F.col(id_col),
                             F.size("__toks").alias("__dl"),
                             qt.alias("__qt"))
                     .select(F.col(id_col), F.col("__dl"),
                             *[_count_of(t).alias(f"__tf{i}")
                               for i, t in enumerate(terms)]))
    # corpus stats AND per-term document frequencies in one tiny
    # aggregate (broadcast scalar row): df_i = #docs with tf_i > 0 —
    # identical to the old count over the (doc, term) tf table
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
          for i in range(len(terms))])
    matched = per_doc.where(
        reduce(lambda a, c: a | c,
               [F.col(f"__tf{i}") > 0 for i in range(len(terms))]))
    # per-term contribution: identical arithmetic to the old per-row
    # contrib; absent terms add literal 0.0 (exact — adding 0.0 to a
    # positive double is the identity), so only the SUMMATION ORDER
    # can differ from the old shuffle-ordered groupBy sum, and that
    # order was never deterministic to begin with; the decimal(38,10)
    # rounding anchor (queries.dec_round) absorbs the <= 1 ulp
    # difference, oracle-verified at sf0.01/sf0.1
    score = None
    for i in range(len(terms)):
        tf_i = F.col(f"__tf{i}")
        idf_i = F.log(F.lit(1.0) + (F.col("__n") - F.col(f"__df{i}")
                                    + 0.5) / (F.col(f"__df{i}") + 0.5))
        denom_i = (tf_i
                   + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl")))
        c_i = F.when(tf_i > 0, idf_i * tf_i * (k1 + 1.0) / denom_i) \
            .otherwise(F.lit(0.0))
        score = c_i if score is None else score + c_i
    scored = (matched.crossJoin(F.broadcast(stats))
              .select(F.col(id_col), score.alias("bm25_score")))
    if topk is not None:
        return scored.orderBy(F.col("bm25_score").desc(),
                              F.col(id_col)).limit(topk)
    return scored


def unigram_lm_score(docs: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text",
                     model: DataFrame | None = None) -> DataFrame:
    """Unigram language-model scoring — the classic corpus-quality
    signal (KenLM-perplexity's dependency-free stand-in): train token
    unigram probabilities over the corpus itself (or score against a
    ``model`` trained elsewhere via this same function's token
    aggregate), then score each document by its mean token
    log-probability.  Low ``avg_logprob`` (high perplexity) = rare-
    token gibberish; the standard filter threshold then drops the tail.

    Two shuffles total, both on compact keys:
      1. token model: explode → groupBy(token) count — map-side
         partial aggregation makes the shuffle |vocab|-bounded;
      2. per-doc score: exploded tokens join the model on token
         (AQE broadcasts the model when the vocab is small), then
         groupBy(doc) — the join never moves the documents table,
         only (doc_id, token) pairs.

    Tokens are lowercased single-space splits (the engine-portable
    convention shared with ``bm25_rank``); add-one smoothing is
    unnecessary when self-scoring (every token is in the model) and a
    foreign ``model`` scores unseen tokens as NULL → excluded from the
    mean, with ``n_unseen`` reporting the miss count.

    Output: (id_col, n_tokens, avg_logprob, n_unseen).
    """
    toks = tokenize(text_col, pattern=" ")
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("__tok"))
    if model is None:
        model = exploded.groupBy("__tok") \
            .agg(F.count(F.lit(1)).alias("__cnt"))
    total = model.agg(F.sum("__cnt").cast("double").alias("__n"))
    logp = F.log(F.col("__cnt") / F.col("__n"))
    return (exploded
            .join(model, "__tok", "left")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.avg(logp).alias("avg_logprob"),
                 F.sum(F.when(F.col("__cnt").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_unseen")))


def _bpe_train_vocab(word_freq: dict[str, int], n_merges: int,
                     min_pair_count: int) -> list[tuple[str, str]]:
    """Driver-side trainer over an in-memory (word, freq) vocabulary —
    same algorithm and tie-break as the distributed rounds."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freq.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        nxt: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + f
        vocab = nxt
    return merges


#: distinct-word count at or below which BPE training runs on the
#: driver (the vocab regime every published BPE trainer assumes)
_BPE_DRIVER_MAX_WORDS = 200_000


def bpe_train(docs: DataFrame, *, text_col: str = "text",
              n_merges: int = 50, min_pair_count: int = 2,
              ) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge-table training (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units",
    ACL 2016 — the published algorithm).  Trains on the WORD
    VOCABULARY (distinct word, frequency), which is the standard
    reduction: pair statistics over the corpus equal frequency-weighted
    pair statistics over the vocab, and the vocab is orders of
    magnitude smaller than the corpus.

    The corpus-sized pass is ALWAYS distributed (explode + word-count
    aggregate).  What happens next is sized to the vocab, exactly like
    the IVF/PQ trainers: a vocab that fits the driver
    (``<= _BPE_DRIVER_MAX_WORDS`` distinct words — the common case
    even for large corpora, and the regime every published BPE trainer
    assumes) collects once and iterates in memory, where n_merges
    rounds cost milliseconds instead of n_merges job waves.  A larger
    web-scale vocab stays in Spark: per merge round,
    adjacent-pair counts via a zip_with(slice, slice) explode + hash
    aggregate (ONE shuffle of (pair, partial-count) rows), the single
    best pair collected to the driver (count desc, then lexicographic
    — fully deterministic), and the merge applied with a left-to-right
    greedy array fold (the published replacement order), state
    lineage cut per round (:func:`materialize`) so the analyzer never
    sees a growing plan.  Both paths implement the identical algorithm
    and tie-break (regression-tested against each other); the driver
    ends up holding ONLY the merge table either way.

    Returns the ranked merge list; feed it to :func:`bpe_encode`.
    """
    toks = tokenize(text_col, pattern=" ")
    vocab = (docs.select(F.explode(toks).alias("__w"))
             .groupBy("__w").agg(F.count(F.lit(1)).alias("__freq")))
    # one job decides AND delivers: collect at most max+1 vocab rows —
    # if they all fit, that IS the training input
    head = vocab.limit(_BPE_DRIVER_MAX_WORDS + 1).collect()
    if len(head) <= _BPE_DRIVER_MAX_WORDS:
        return _bpe_train_vocab({r["__w"]: r["__freq"] for r in head},
                                n_merges, min_pair_count)
    # split into character symbols + explicit end-of-word marker
    state = materialize(vocab.select(
        F.concat(F.split(F.col("__w"), ""),
                 F.array(F.lit("</w>"))).alias("__syms"),
        F.col("__freq")))

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (state.select(
            F.explode(F.zip_with(
                F.slice(F.col("__syms"), 1, F.size("__syms") - 1),
                F.slice(F.col("__syms"), 2, F.size("__syms") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b"))))
            .alias("__p"), F.col("__freq"))
            .groupBy("__p").agg(F.sum("__freq").alias("__n")))
        best = (pairs.orderBy(F.col("__n").desc(),
                              F.col("__p.a").asc(),
                              F.col("__p.b").asc())
                .head(1))
        if not best or best[0]["__n"] < min_pair_count:
            break
        a, b = best[0]["__p"]["a"], best[0]["__p"]["b"]
        merges.append((a, b))
        la, lb = F.lit(a), F.lit(b)
        merged = F.aggregate(
            F.col("__syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.try_element_at(acc, F.lit(-1)) == la) & (s == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(la, lb))))
            .otherwise(F.concat(acc, F.array(s))))
        state = materialize(state.withColumn("__syms", merged))
    return merges


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]], *,
               text_col: str = "text",
               out_col: str = "bpe_tokens") -> DataFrame:
    """Apply a trained BPE merge table: tokenize each document into
    subword units (lowercased whitespace words → greedy lowest-rank
    pair merging, the published encoder).

    Arrow ``mapInPandas``, not a per-merge JVM expression chain: the
    encoder loops until no merge applies (rank-priority, not one pass
    per merge), and inlining n_merges folds into one plan is
    quadratic analyzer work for a fundamentally sequential per-word
    loop.  Per-batch memory is the batch itself; the merge table
    ships once per task as a plan constant.  Map-only — no shuffle.
    """
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)
    rank = {tuple(m): i for i, m in enumerate(merges)}
    out_schema = StructType(
        list(docs.schema.fields)
        + [StructField(out_col, ArrayType(StringType()))])

    def encode_word(word: str, cache: dict) -> list[str]:
        if word in cache:
            return cache[word]
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            present = [rank[p] for p in zip(syms, syms[1:]) if p in rank]
            if not present:
                break
            # merge ALL occurrences of the lowest-rank pair in one
            # left-to-right sweep — exactly how training applied it
            a, b = merges[min(present)]
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and syms[i] == a and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    def run(batches):
        cache: dict = {}
        for pdf in batches:
            col = pdf[text_col].map(
                lambda t: [s for w in (t or "").lower().split(" ") if w
                           for s in encode_word(w, cache)])
            pdf = pdf.copy()
            pdf[out_col] = col
            yield pdf

    return docs.mapInPandas(run, out_schema)


def normalize_text(df: DataFrame, text_col: str = "text", *,
                   form: str | None = "NFC", strip_control: bool = True,
                   collapse_whitespace: bool = True,
                   out_col: str | None = None) -> DataFrame:
    """Unicode + whitespace normalization — the canonical first stage
    of a web-corpus pipeline (and the precondition for exact dedup:
    'café' composed and decomposed must hash identically).

    Three independently-switchable steps, applied in this order:

    1. ``form`` — Unicode normalization (NFC/NFKC/NFD/NFKD).  Spark
       has no built-in normalizer, so this is the ONE Python step: an
       Arrow ``pandas_udf`` over ``unicodedata.normalize``.  Pure-ASCII
       strings short-circuit inside the batch (``str.isascii`` — ASCII
       is invariant under all four forms), so a mostly-ASCII corpus
       pays Arrow transfer but near-zero CPU; pass ``form=None`` to
       skip the Python stage entirely.
    2. ``strip_control`` — drop C0 controls, DEL, AND the C1 block
       U+0080-U+009F (Windows-1252 mojibake artifacts, incl. NEL)
       while keeping \\t \\n \\r for the collapse step to fold — JVM
       ``regexp_replace``; the ``\\x{...}`` class form parses
       identically in Java regex and RE2.
    3. ``collapse_whitespace`` — runs of whitespace to one space +
       trim — JVM ``regexp_replace``.

    Steps 2-3 stay whole-stage-codegen'd; only step 1 leaves the JVM.
    Narrow map, no shuffle — safe at any scale.
    """
    c = F.col(text_col)
    if form is not None:
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"normalize_text: unknown form {form!r}")
        @F.pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            import unicodedata
            return s.map(lambda t: t if t is None or t.isascii()
                         else unicodedata.normalize(form, t))

        c = _norm(c)
    if strip_control:
        c = F.regexp_replace(
            c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}]",
            "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col or text_col, c)


def concat_chunk_pack(df: DataFrame, count_col: str, order_col: str, *,
                      budget: int) -> DataFrame:
    """Deterministic concat-and-chunk packing: lay every item's tokens
    end-to-end in ``order_col`` order and cut fixed ``budget``-token
    training sequences ACROSS item boundaries — the GPT-style
    pretraining packer (documents concatenated with EOS, then chunked),
    complementing :func:`pack_sequences`' greedy no-split bins.
    Deterministic given the ordering column, hence exactly
    SQL-oracle-able, unlike the partition-local greedy packer.

    Adds per item: ``start_off`` (global token offset), ``first_seq``
    / ``last_seq`` (ids of the sequences the item lands in, item
    spans last_seq - first_seq + 1 of them; a zero-count item spans
    its insertion point only, first == last).

    Plan shape — the global running sum WITHOUT the single-reducer
    cliff (an unpartitioned ``Window.orderBy`` moves the whole table
    to ONE partition): classic two-phase distributed prefix sum —
    ``repartitionByRange(order_col)`` (sampled range boundaries, the
    same exchange a global sort uses), per-partition cumsum via a
    window PARTITIONED on the stable post-range partition id, then a
    partition-count-sized offset table (one row per partition —
    driver-bounded by construction) broadcast-joined back.  Two
    shuffles of the data + one broadcast, any input size.

    ``count_col`` must be non-negative and non-NULL: the per-partition
    total is read as max(running sum), which equals the sum ONLY for
    non-negative counts (and a NULL poisons the cumsum silently) — so
    the cumsum guards every input with ``raise_error``, mirroring the
    weighted-percentile weight guard.
    """
    from pyspark.sql import Window
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    cnt = F.col(count_col).cast("bigint")
    # a NULL count fails the >= 0 predicate and lands in the same
    # raise_error leg (message spells out which it was)
    checked = F.when(cnt >= 0, cnt).otherwise(
        F.raise_error(F.concat(
            F.lit(f"concat_chunk_pack: {count_col} must be a "
                  f"non-negative, non-NULL token count; got "),
            F.coalesce(F.col(count_col).cast("string"), F.lit("NULL")))))
    ranged = (df.withColumn(count_col, checked)
              .repartitionByRange(n_parts, F.col(order_col))
              .withColumn("__pid", F.spark_partition_id()))
    wp = (Window.partitionBy("__pid").orderBy(order_col)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = ranged.withColumn(
        "__lcum", F.sum(F.col(count_col).cast("bigint")).over(wp))
    # materialize BEFORE reading the totals: the offset table below is
    # only valid for the exact partitioning this evaluation produced,
    # and an unmaterialized plan would re-run the range exchange when
    # the result is consumed (shared operators.common.materialize —
    # reliable checkpoint when a dir is set)
    from bi_etl_and_integration_spark.operators.common import materialize
    local = materialize(local)
    totals = (local.groupBy("__pid")
              .agg(F.max("__lcum").alias("__ptot"))
              .orderBy("__pid").collect())        # == #partitions rows
    tot_by_pid = {r["__pid"]: r["__ptot"] for r in totals}
    off, offsets = 0, []
    for pid in range(n_parts):       # empty partitions still need rows
        offsets.append((pid, off))
        off += int(tot_by_pid.get(pid, 0) or 0)
    sess = df.sparkSession
    off_df = sess.createDataFrame(offsets, "__pid int, __off long")
    cum = F.col("__lcum") + F.col("__off")
    start = cum - F.col(count_col)
    last = F.when(F.col(count_col) > 0,
                  F.expr(f"(({'__lcum'} + __off) - 1) div {budget}")) \
        .otherwise(F.expr(f"(({'__lcum'} + __off) - "
                          f"{count_col}) div {budget}"))
    return (local.join(F.broadcast(off_df), "__pid")
            .withColumn("start_off", start.cast("bigint"))
            .withColumn("first_seq",
                        F.expr(f"(__lcum + __off - {count_col}) "
                               f"div {budget}").cast("bigint"))
            .withColumn("last_seq", last.cast("bigint"))
            .drop("__pid", "__lcum", "__off"))
