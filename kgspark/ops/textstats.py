"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs):
- token stats: whitespace tokenization + a BPE-ish subword count estimate
  (words + punctuation marks + digit runs).
- quality score: length / punctuation-ratio / stopword-ratio blend — the
  standard web-corpus quality gates (C4/Gopher-style rules).
- language ID: stopword-hit heuristic over small per-language lexicons
  (a real system swaps in a fastText-style model behind the same column
  contract; the plumbing and the oracle-checkable heuristic live here).
- fingerprint: md5 over the sorted token multiset — an order-insensitive
  content fingerprint (catches shuffled boilerplate dups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_tokens

STOPWORDS_EN = ["the", "a", "an", "and", "of", "to", "in", "is", "was", "it"]
_LANG_LEXICON = {
    "en": ["the", "and", "of", "was", "is"],
    "fr": ["le", "la", "et", "de", "est"],
    "de": ["der", "die", "und", "von", "ist"],
    "es": ["el", "la", "y", "de", "es"],
}


def _e6(col):
    """floor(x * 1e6) as BIGINT — engine-portable fixed-point: the double
    multiply is IEEE-identical everywhere, unlike round() whose half-up vs
    half-even tie-breaking differs between engines."""
    return F.floor(col * 1000000.0).cast("long")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len_e6, n_subwords)."""
    toks = word_tokens("text")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    # BPE-ish estimate: every ~4 chars of a word is a subword piece
    n_subwords = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int")
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        _e6(n_chars / F.greatest(n_tokens, F.lit(1))).alias("avg_token_len_e6"),
        n_subwords.alias("n_subwords"),
    )


def quality_blend(toks):
    """(len_e6, punct_e6, stop_e6, quality_e6) columns over the text column
    and its token array: length, punctuation-ratio and stopword-ratio
    scores in fixed-point millionths, and their 0.4/0.3/0.3 blend."""
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    punct_e6 = _e6(n_punct / F.greatest(n_chars, F.lit(1)))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_e6 = _e6(n_stop / F.greatest(n_tokens, F.lit(1)))
    len_e6 = _e6(F.least(n_tokens / F.lit(100.0), F.lit(1.0)))
    quality_e6 = F.floor(
        0.4 * len_e6 + 0.3 * (1000000 - punct_e6) + 0.3 * F.least(stop_e6 * 5, F.lit(1000000))
    ).cast("long")
    return len_e6, punct_e6, stop_e6, quality_e6


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, len_score_e6, punct_ratio_e6, stopword_ratio_e6, quality_e6)
    — fixed-point millionths in [0, 1e6]: `quality_blend` per doc."""
    len_e6, punct_e6, stop_e6, quality_e6 = quality_blend(word_tokens("text"))
    return docs.select(
        "doc_id",
        len_e6.alias("len_score_e6"),
        punct_e6.alias("punct_ratio_e6"),
        stop_e6.alias("stopword_ratio_e6"),
        quality_e6.alias("quality_e6"),
    )


def lang_argmax(toks):
    """(pred_lang, hits) columns over a token array: the language with the
    most lexicon hits, tie-broken alphabetically ('und' when none hits)."""

    def _hits(words):
        # closure factory: a default-arg lambda would read as a 2-arg
        # (element, index) filter lambda to Spark
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    langs = sorted(_LANG_LEXICON)
    hits = {lg: _hits(_LANG_LEXICON[lg]) for lg in langs}
    best = F.greatest(*[hits[lg] for lg in langs])
    pred = F.lit("und")
    # first (alphabetical) language reaching the max wins the tie
    for lg in reversed(langs):
        pred = F.when((hits[lg] == best) & (best > 0), F.lit(lg)).otherwise(pred)
    return pred, best


def langid_heuristic(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, lang_hits): `lang_argmax` over the word tokens."""
    pred, best = lang_argmax(word_tokens("text"))
    return docs.select("doc_id", pred.alias("pred_lang"), best.cast("long").alias("lang_hits"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 over the sorted token multiset."""
    return docs.select(
        "doc_id", F.md5(F.array_join(F.array_sort(word_tokens("text")), " ")).alias("fp")
    )


def tfidf_topk(docs: DataFrame, k: int = 3, idf_mode: str = "log") -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF:
    (doc_id, term, tf, df, score..., rank). Ties break on term asc so the
    result is total-ordered.

    idf_mode='log' (default): score = tf * ln(N/df) as double — the
    textbook weight, engine floating point. idf_mode='ratio_e6':
    score_e6 = floor(tf * 1e6 * N / df) in exact BIGINT arithmetic —
    bit-identical across engines, which is what the DuckDB-oracled query
    uses (ln() last-ulp differences could flip an e6 floor; see the
    portability notes in MEMORY).

    Scale shape (r7): explode -> (doc,term) count [shuffle 1] -> df as a
    COUNT WINDOW over term on the tf rows [shuffle 2] -> per-doc top-k
    window [shuffle 3 on doc]. The df-as-window form replaces the old
    df-aggregate + join-back, which made Catalyst compute the whole
    explode + (doc,term) aggregate subtree TWICE (once under the join's
    build side); the window consumes the single tf subtree. The corpus
    size N joins in as a broadcast single row, never a driver-side
    collect in the plan."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(word_tokens("text")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    tf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")).cast("long")
    )
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = tf.join(F.broadcast(n))
    if idf_mode == "ratio_e6":
        scored = scored.withColumn(
            "score_e6",
            F.floor(F.col("tf") * F.lit(1_000_000) * F.col("n_docs") / F.col("df"))
            .cast("long"),
        )
        order = [F.col("score_e6").desc(), F.col("term").asc()]
    elif idf_mode == "log":
        scored = scored.withColumn(
            "score", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
        order = [F.col("score").desc(), F.col("term").asc()]
    else:
        raise ValueError(f"unknown idf_mode {idf_mode!r}")
    w = Window.partitionBy("doc_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("n_docs")
    )
