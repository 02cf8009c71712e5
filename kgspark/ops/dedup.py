"""Document deduplication: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All fingerprints are built from `md5` (hex string) rather than engine-native
hashes so results are portable across engines (the DuckDB oracle computes
the identical signatures — and at cluster scale md5 is still JVM-side,
whole-stage-codegen'd). Everything below is pure column expressions: no
Python UDFs, no driver-side loops.

Scale notes per operator:
- exact: one shuffle on the 32-hex digest; group sizes are tiny (true dups).
- minhash-lsh: explode to (doc, band) rows -> one aggregate per
  (band, band_key) bucket -> pairs inside each bucket (`bucket_pairs`,
  shared with canonicalize's surface blocking). Bucket size is bounded
  because band keys combine R minhashes, so boilerplate shingles alone
  make no giant bucket.
- ngram-jaccard: candidate generation via shared *rare* shingles (document
  frequency cap) — the blocking trick that keeps the self-join linear-ish;
  verify with exact Jaccard on shingle sets.
- simhash: n-bit majority-vote signature; near-dup = Hamming<=k retrieval
  via nibble banding (`simhash_hamming_pairs`): with the 16 bits split into
  4 bands, any pair within Hamming distance 3 shares at least one whole
  band (pigeonhole), so one equi-join on (band, nibble) retrieves ALL such
  pairs — exact recall, no cross-join.
- embedding cosine: see simsearch.py (shares the blocked-pair machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Every operator reads a documents table of (doc_id, text).
N_HASHES = 8  # MinHash families: two md5 calls per shingle give 8 slices
N_BANDS = 4  # MinHash-LSH bands of N_HASHES // N_BANDS minhashes each
SHINGLE_N = 3  # MinHash word n-gram width (minhash_lsh_pairs' default)
MAX_DF = 20  # n-gram Jaccard blocks only on shingles in <= MAX_DF docs
SIMHASH_BANDS = 4  # simhash nibble bands
SIMHASH_K = 3  # max Hamming distance; < SIMHASH_BANDS gives exact recall

# --- shared shingling -------------------------------------------------------


def word_tokens(col: str):
    return F.split(F.lower(F.col(col)), r"\s+")


def word_shingles_from(tokens_col, n: int = 5):
    """Distinct word n-gram shingles as strings (space-joined), over a
    pre-split token array COLUMN: project `word_tokens` first, so the split
    is evaluated once per row (CollapseProject keeps the boundary because
    the token column is referenced more than once). Built inline over the
    split expression instead, Catalyst re-evaluates the split() subtree for
    every transform element (measured ~2x on the shingle build over the
    bench corpus)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(tokens_col, i + 1, n), " "),
        )
    )


# --- exact dedup -------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (min) id and the duplicate count."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --- MinHash-LSH -------------------------------------------------------------


def minhash_signature(docs: DataFrame, shingle_n: int) -> DataFrame:
    """(doc_id, mh0..mh7): engine-portable minhash, mh as BIGINT.

    Hash families are 8-hex-char substrings of md5(shingle) (families 0-3)
    and md5(shingle || '#') (families 4-7): two md5 invocations per shingle
    instead of eight, identical in DuckDB (`substring(md5(s), k*8+1, 8)`).

    The 8-hex-char slice is parsed to a uint32-valued BIGINT before the
    min-aggregation (r7, guide §2.3 narrower types): parsing is bijective
    on fixed-width hex and preserves order (lexicographic min over
    lowercase fixed-width hex == numeric min), so signatures are the same
    minhashes the hex form carried — but min(BIGINT) aggregates in a
    HashAggregate with partial map-side combine, where min(STRING) forced
    a SortAggregate with a full Sort of the exploded shingle stream on
    both sides of the shuffle (measured in the r6 plan)."""
    # Null AND blank/whitespace-only docs are dropped here, NOT at the
    # banding join: they have no shingles (similarity undefined; empty-doc
    # dedup belongs to exact_dedup), and left in they collapse to one
    # signature (null mh -> md5("") band keys; blank text -> every shingle
    # is "") -> O(n^2) spurious pairs (round-3/round-4 advice). The
    # length(trim(..)) > 0 predicate is null-rejecting, so it covers both.
    # Filtering the SIGNATURE frame instead is 9x slower: Catalyst pushes
    # a predicate on mh0 through the projection chain and re-evaluates the
    # shingle/hash expressions for the filter (measured on sf0.1).
    sh = (
        docs.where(F.length(F.trim("text")) > 0)
        .select("doc_id", word_tokens("text").alias("_toks"))
        .select("doc_id", word_shingles_from(F.col("_toks"), shingle_n).alias("sh"))
    )
    # explode -> hash once per shingle row -> 8 map-side-combined mins.
    # An array-transform formulation keeps everything shuffle-free but
    # Catalyst's CollapseProject inlines the md5 struct into each of the 8
    # array_min consumers, re-hashing every shingle 8x (measured 20% SLOWER
    # than the naive form); as separate projection columns the two md5s are
    # computed once per shingle, and the min-agg shuffle carries only
    # 8 x 8-hex-char strings per doc.
    hashed = sh.select("doc_id", F.explode(F.col("sh")).alias("s")).select(
        "doc_id",
        F.md5(F.col("s")).alias("h1"),
        F.md5(F.concat(F.col("s"), F.lit("#"))).alias("h2"),
    )

    def slot(k: int):
        field, off = ("h1", k) if k < 4 else ("h2", k - 4)
        return (
            F.conv(F.substring(F.col(field), off * 8 + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"v{k}")
        )

    numeric = hashed.select("doc_id", *[slot(k) for k in range(N_HASHES)])
    return numeric.groupBy("doc_id").agg(
        *[F.min(f"v{k}").alias(f"mh{k}") for k in range(N_HASHES)]
    )


def bucket_pairs(banded: DataFrame) -> DataFrame:
    """Distinct member pairs (x, y) with x < y of the rows that share a
    (band, band_key) bucket — the one place LSH band buckets become pairs.

    `banded` holds (band, band_key, m): `m` is a struct whose first field
    is the row's unique id (pairs are ordered by it); its other fields are
    a payload the caller's verify step reads from x and y. One aggregate
    per bucket builds `banded` once, where a band-key self-join plans it
    once per join side (the whole md5 signature subtree ran twice).
    where(size > 1) drops the singleton buckets, the vast majority, before
    any pair is generated. Only for bounded buckets (band keys that combine
    minhashes, or a prefix block): a low-cardinality key such as a SimHash
    nibble or an SRP bucket would collect a corpus share per bucket."""
    key = banded.schema["m"].dataType.fieldNames()[0]
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )
    return (
        buckets.select(F.explode("ms").alias("x"), "ms")
        .select("x", F.explode("ms").alias("y"))
        .where(F.col(f"x.{key}") < F.col(f"y.{key}"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, shingle_n: int = SHINGLE_N) -> DataFrame:
    """Candidate near-dup pairs (a < b) via banded MinHash-LSH (portable
    md5 signature — same pairs as the DuckDB oracle's md5 band keys).

    Bucket membership is keyed on the R minhash values themselves (a
    struct) rather than md5(mh0||'|'||mh1): the '|' join makes the concat
    injective, so two docs share a band key iff they share the R minhash
    values — the identical pair set without hashing. Bucket sizes are
    bounded (band keys combine R minhashes), so `bucket_pairs`' per-bucket
    list stays small."""
    sig = minhash_signature(docs, shingle_n)
    r = N_HASHES // N_BANDS
    # null-text docs already dropped inside minhash_signature (see there)
    banded = sig.select(
        F.struct("doc_id").alias("m"),
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[F.col(f"mh{b * r + i}").alias(f"k{i}") for i in range(r)]
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    return bucket_pairs(banded).select(
        F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
    )


# --- n-gram Jaccard ----------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, shingle_n: int = 5,
                        threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs by exact word-shingle Jaccard >= threshold.

    Candidate generation: self-join on shared shingles whose document
    frequency <= MAX_DF (rare-shingle blocking — drops boilerplate shingles
    that would otherwise explode the join quadratically)."""
    sh = docs.select("doc_id", word_tokens("text").alias("_toks")).select(
        "doc_id", word_shingles_from(F.col("_toks"), shingle_n).alias("sh")
    )
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("sh").alias("shingle"))
    rare = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= MAX_DF)
        .select("shingle")
    )
    blocked = exploded.join(rare, "shingle")
    l = blocked.select(F.col("doc_id").alias("a"), "shingle")
    rgt = blocked.select(F.col("doc_id").alias("b"), "shingle")
    shared = (
        l.join(rgt, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sz_a, "a")
        .join(sz_b, "b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        # integer-exact threshold: n_shared/union >= t  <=>  n_shared >= t*union
        .where(F.col("n_shared") >= threshold * F.col("n_union"))
        .withColumn(
            "jaccard_e6",
            F.floor(F.col("n_shared") / F.col("n_union") * 1000000.0).cast("long"),
        )
        .select("a", "b", "jaccard_e6")
    )


# --- SimHash ------------------------------------------------------------------


def simhash_bits(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """n-bit SimHash over word tokens, engine-portable (n_bits <= 60).

    Bit j of token t = bit j of the first ceil(n/4) hex chars of md5(t);
    the signature bit is the majority vote weighted +1/-1 over DISTINCT
    tokens. 16 bits is the oracle-checkable toy width; a CC-scale dedup
    wants 60 (fewer random collisions per band — same banding machinery).
    60, not 64: the value must fit a positive BIGINT in both engines."""
    if n_bits > 60:
        raise ValueError("n_bits <= 60 (positive BIGINT range in both engines)")
    hex_chars = (n_bits + 3) // 4
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(word_tokens("text"))).alias("tok")
    ).where(F.col("tok") != "")
    toks = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, hex_chars), 16, 10).cast("long")
    )
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(n_bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_cols)
    sig = None
    for j in range(n_bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_hamming_pairs(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """All pairs (a < b) with Hamming(simhash_a, simhash_b) <= SIMHASH_K.

    Banding on (n_bits/SIMHASH_BANDS)-bit nibbles: a pair within Hamming
    distance SIMHASH_K < SIMHASH_BANDS must agree exactly on >=1 band
    (pigeonhole), so the (band, nibble) equi-join has EXACT recall — this
    is the CC-crawl-scale plan (one shuffle, bucket fan-out bounded by band
    cardinality), not an approximation. Verification is a JVM-side popcount
    on the XOR. n_bits=16 is the oracle-paired toy width (its Hamming<=3
    ball is loose, so the output itself is large on a similar-topic
    corpus); a production crawl dedup uses n_bits=60 — 15-bit bands, tight
    ball, same plan (test-pinned against brute force at both widths).

    Reference analog (what, not how): duplicate-title collapse in the
    reference's entity merge (SURVEY.md §2 A-family); re-expressed as the
    standard simhash banding retrieval."""
    if n_bits % SIMHASH_BANDS:
        raise ValueError("n_bits must divide evenly into SIMHASH_BANDS")
    sig = simhash_bits(docs, n_bits=n_bits)
    bits = n_bits // SIMHASH_BANDS
    mask = (1 << bits) - 1
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * bits).bitwiseAND(F.lit(mask))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "nib"),
    )
    left = banded.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"), "band", "nib"
    )
    right = banded.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"), "band", "nib"
    )
    return (
        left.join(right, ["band", "nib"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
        .select(
            "a",
            "b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_K)
    )


# --- corpus-level span dedup (C4-style) --------------------------------------


def span_dedup(docs: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """Global span-level dedup, the C4 move (Raffel et al. 2020 discard
    repeated three-sentence spans corpus-wide; here the span unit is a
    fixed token window since the corpus has no sentence boundaries):
    split each doc into consecutive `chunk_tokens`-token chunks, keep
    only the FIRST occurrence of each distinct chunk corpus-wide (first =
    lowest (doc_id, chunk_idx)), and reassemble the surviving text.

    Returns (doc_id, n_chunks, n_kept, text_deduped).

    Scale shape (r7, guide §8 "decide with small rows, move big rows
    once" — here ZERO times): the exploded stream that shuffles carries
    only (id, chunk_idx, md5) — never the chunk text. The winner per
    chunk hash is a groupBy min-struct (partial aggregate combines
    map-side, so a billion-copy boilerplate chunk reduces before the
    wire); the join back rides the same hashpartitioning (ReusedExchange)
    and yields just the DROPPED (id, chunk_idx) positions — a set bounded
    by the duplicate occurrences, tiny on real corpora. Reassembly then
    happens MAP-SIDE on the un-shuffled base table: re-derive the chunks
    (pure function of text) and filter out the dropped positions, so the
    corpus text itself crosses the wire exactly zero times (the old form
    shuffled the full text twice: once into the hash join, once back on
    doc_id). The drop-set join broadcasts when small; a pathological
    all-duplicates corpus degrades to ONE text-free shuffle of positions.
    """
    # two-step split -> chunk (r7): inlined, the split() subtree was
    # re-evaluated for every transform element (see word_shingles_from)
    tc = F.col("_toks")
    n_chunks = F.ceil(F.size(tc) / F.lit(chunk_tokens)).cast("int")
    base = docs.select("doc_id", "text").where(F.col("text").isNotNull())
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(tc, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    chunked = base.select(
        "doc_id", F.split("text", r"\s+").alias("_toks")
    ).select(
        "doc_id",
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"),
    ).select("doc_id", "chunk_idx", F.md5(F.col("chunk")).alias("_h"))
    # two consumers (winner agg + join back) share one Exchange(_h):
    # ReusedExchange computes the chunk build once. No localCheckpoint
    # here — cutting the lineage would also cut the REBUILD branch off the
    # shared corpus subtree and re-derive the (round-robin-spread) corpus
    # a second time; with the plan intact, every branch reuses both the
    # corpus exchange and the _h exchange (verified in the committed plan).
    winners = chunked.groupBy("_h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_first")
    )
    dropped = (
        chunked.join(winners, "_h")
        .where(
            (F.col("_first.doc_id") != F.col("doc_id"))
            | (F.col("_first.chunk_idx") != F.col("chunk_idx"))
        )
        .groupBy("doc_id")
        .agg(F.collect_list("chunk_idx").alias("_dropped"))
    )
    # map-side rebuild: same chunk derivation as above (byte-identical by
    # construction), minus the dropped positions, in original order —
    # filter's index lambda sees exactly the chunk_idx posexplode emitted
    drop_set = F.coalesce(F.col("_dropped"), F.expr("array()").cast("array<int>"))
    return (
        base.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.split("text", r"\s+").alias("_toks"),
            drop_set.alias("_drop"),
        )
        .select(
            "doc_id",
            n_chunks.cast("long").alias("n_chunks"),
            (n_chunks.cast("long") - F.size("_drop")).alias("n_kept"),
            F.array_join(
                F.filter(
                    chunk_arr,
                    lambda _c, i: ~F.array_contains(F.col("_drop"), i),
                ),
                " ",
            ).alias("text_deduped"),
        )
    )


def near_dup_clusters(docs: DataFrame) -> DataFrame:
    """End-to-end near-dup resolution — the full training-data dedup
    pass, not just candidate pairs: MinHash-LSH pairs -> connected
    components over the near-dup graph -> one canonical survivor per
    cluster (lowest id). Returns every doc with its cluster id, cluster
    size, and keep flag, so `WHERE keep` IS the deduplicated corpus.

    Transitivity is deliberate (A~B, B~C merges all three even if A,C
    never paired — the standard corpus-dedup semantics, same clustering
    the reference applies to entity surface forms,
    /root/reference/scripts/assign_canonical_names_simple.py:118-151).

    Scale shape: pairs come from the band buckets (minhash_lsh_pairs);
    components are a per-partition union-find over the pairs where they
    land, then the same union-find over the boundary graph only (docs
    that appear in pairs of 2+ partitions, linked to their local roots)
    on half as many partitions, until one partition is left. Pairs that
    arrive in one partition (all 7,993 of them at sf0.1) are settled by
    the first union-find alone; docs in no pair come back as their own
    cluster."""
    from pyspark.sql import Window

    from ..canonicalize import connected_components

    pairs = minhash_lsh_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, pairs.select(F.col("a"), F.col("b")))
    w_sz = F.count("*").over(Window.partitionBy("component"))
    return (
        comp.select(F.col("node").alias("doc_id"), "component")
        .withColumn("cluster_size", w_sz.cast("long"))
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )
