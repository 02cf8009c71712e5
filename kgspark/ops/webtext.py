"""Webtext corpus operators for training-data pipelines: Gopher-style
repetition signals, URL canonicalization, and a point-in-time (as-of)
join.

Reference parity: the reference corpus loaders normalize scraped page
identity and filter boilerplate before linking
(/root/reference/scripts/parse_1911_v1t1_sk.py's cleanup pass and the
crawl-manifest handling in its ingest docs); these operators are the
Spark-first generalization a 100 TB web corpus needs.

Scale notes (all three families):
- repetition_stats is MAP-ONLY: every signal — dup-n-gram fraction, top
  n-gram coverage, longest run — is computed per row with higher-order
  functions over the token array (array_sort + aggregate with a struct
  accumulator = run-length encoding inside whole-stage codegen). The
  obvious explode -> groupBy(doc_id, ngram) alternative shuffles the
  ENTIRE token stream (~corpus size x n); this shuffles nothing.
- url ops are pure column regex/array expressions, map-only.
- asof_join is ONE shuffle on the `by` key (union + window), not a range
  join: Spark's SortMergeJoin on an inequality degenerates to
  per-key-cartesian + filter, while the union-window form sorts each key
  group once and scans it once — the classic streaming-merge as-of shape
  (same plan DuckDB/kdb use natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_tokens

TRACKING_PARAMS = ("utm_", "fbclid", "gclid", "mc_eid")
BLOOM_K = 3  # hash positions per key in a Bloom filter


def _e6(num, den):
    """Fixed-point e6 ratio with multiply-BEFORE-divide: floor(num*1e6/den).
    Dividing first (floor((num/den)*1e6)) double-rounds and can flip the
    floor at exact boundaries (num=41, den=80: 512499 vs 512500) — the
    DuckDB oracle multiplies first, so this must too (round-5 advice)."""
    return F.floor(num * 1000000.0 / den).cast("long")


def _ngrams(toks, n: int):
    """Array of space-joined n-grams; empty when the doc is shorter than n
    (sequence(0, size-n) would silently generate a DESCENDING index array
    for short docs — a Spark footgun — hence the explicit guard).

    n == 2 takes a zip_with + element-wise concat form (r7): the transform
    lambda sliced and re-joined the token array PER ELEMENT (one array
    allocation per n-gram); zip_with allocates per row. zip_with pads the
    shorter side with nulls, concat propagates them, and tokens are never
    null (split output), so exactly the trailing position is null —
    array_compact removes precisely it, which also yields the empty array
    for 1-token docs. Exploded bigram stream 2.5 -> 1.7 s on the 10x
    bench corpus; equality with the transform spec pinned by
    tests/test_ops.py. For n >= 3 a chained zip would concatenate
    incrementally (O(n^2) intermediate string bytes per n-gram — measured
    ~30% SLOWER on 5-gram shingles), so those stay on the transform
    form."""
    if n == 2:
        # zip_with over null toks is null; coalesce keeps the [] contract
        # the n >= 3 form gives null toks
        return F.coalesce(
            F.array_compact(
                F.zip_with(
                    toks,
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ),
            F.array().cast("array<string>"),
        )

    def join_at(i):
        return F.array_join(F.slice(toks, i + 1, n), " ")

    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), join_at),
    ).otherwise(F.array().cast("array<string>"))


def _max_run(sorted_arr):
    """Longest run of equal adjacent elements in a SORTED array == max
    multiplicity of any element. Struct-accumulator aggregate: O(t) per
    row after the O(t log t) sort, all inside codegen, no shuffle."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    use duplicate-line/paragraph fractions and top-n-gram coverage as
    quality gates; the fixture corpus is single-line, so the line-level
    variants collapse into the n-gram ones):

    - dup_{n}gram_frac_e6 for n in 2, 3: fraction of n-grams occurring
      more than once (1 - distinct/total) — high = internally repetitive
      boilerplate.
    - top_{n}gram_frac_e6: coverage of the single most frequent n-gram
      (max multiplicity / total).
    - max_token_run: longest run of the SAME token repeated back-to-back
      (catches "buy buy buy ..." spam directly).
    """
    out = docs.select("doc_id", word_tokens("text").alias("_toks"))
    cols = [F.col("doc_id")]
    for n in (2, 3):
        grams = F.array_sort(_ngrams(F.col("_toks"), n))
        total = F.greatest(F.size(grams), F.lit(1))
        cols.append(
            _e6(F.size(grams) - F.size(F.array_distinct(grams)), total).alias(
                f"dup_{n}gram_frac_e6"
            )
        )
        cols.append(
            _e6(
                F.when(F.size(grams) > 0, _max_run(grams)).otherwise(F.lit(0)),
                total,
            ).alias(f"top_{n}gram_frac_e6")
        )
    cols.append(
        _max_run(F.col("_toks")).cast("long").alias("max_token_run")
    )
    return out.select(*cols)


def synth_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL column derived from (doc_id, source) — the
    fixture corpus carries no crawl URLs, so both engines synthesize the
    SAME urls from the same table (the oracle still independently
    recomputes the normalization). Mess injected: mixed-case scheme+host,
    explicit default port, variable path depth, tracking params mixed
    with real ones."""
    d = F.col("doc_id")
    scheme = F.when(d % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    host = F.when(d % 4 == 0, F.concat(F.lit("WWW."), F.col("source"), F.lit(".Example.ORG"))).otherwise(
        F.concat(F.lit("www."), F.col("source"), F.lit(".example.org"))
    )
    port = F.when(d % 7 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(F.lit("/"), F.repeat(F.lit("s/"), (d % 4).cast("int")), F.lit("page"))
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), d.cast("string"), F.lit("&fbclid=zz")))
        .when(d % 3 == 1, F.concat(F.lit("?id="), d.cast("string")))
        .otherwise(F.lit(""))
    )
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, query)
    )


def url_canonicalize(df: DataFrame) -> DataFrame:
    """Canonical URL + parsed components of the `url` column, pure
    regex/array column ops (portable: identical regexes run in the DuckDB
    oracle — F.parse_url exists but has no DuckDB twin):

    - host: lowercased authority minus port; reg_domain: last two labels
      (the PSL-less heuristic — a production swap-in point);
    - path_depth: non-empty path segments;
    - canonical_url: lowercase scheme+host, default port dropped,
      tracking params (utm_*, fbclid, gclid, mc_eid) removed, '?'
      dropped when nothing survives.
    """
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    authority = F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]+)", 1)
    host = F.lower(F.regexp_extract(authority, r"^([^:]+)", 1))
    reg_domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    path = F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]),
            lambda t: p.startswith(t),
        ),
    )
    canon_q = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(F.lit(""))
    path_depth = F.size(F.filter(F.split(path, "/"), lambda s: F.length(s) > 0))
    return df.select(
        "*",
        host.alias("host"),
        reg_domain.alias("reg_domain"),
        path_depth.cast("long").alias("path_depth"),
        F.concat(scheme, F.lit("://"), host, path, canon_q).alias("canonical_url"),
    )


# PII patterns kept RE2-safe (no backrefs/lookaround): they must behave
# identically under Java regex (Spark) and RE2 (the DuckDB oracle).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{3}-\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(docs: DataFrame) -> DataFrame:
    """Training-data PII scrub of the `text` column into `text_redacted`:
    replace each PII_PATTERNS match class with a typed placeholder token
    ('<EMAIL>'...) and count removals per class — the standard
    pre-tokenization redaction pass (C4 and successors ship exactly this
    shape). Pure regexp column ops, map-only; replacement order follows
    the (ordered) dict, and each class counts/replaces on
    the output of the previous one, so earlier classes win overlaps —
    e.g. phone before ipv4 keeps '555-867-5309' from feeding digit runs
    to later numeric patterns.
    """
    out = F.col("text")
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(out, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return docs.select("*", *counts).withColumn("text_redacted", out)


def _micros(col):
    """Microseconds since epoch for TIMESTAMP_NTZ columns (the parquet
    fixtures are NTZ; unix_micros only takes LTZ and casting NTZ->LTZ
    would drag the session timezone into the result)."""
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_us: int = 300_000_000,
) -> DataFrame:
    """Interval-containment join: pairs every left interval
    [start, end] with the right rows whose ts falls inside it, per `by`
    group. Catalyst turns a raw `l.start <= r.ts AND r.ts <= l.end`
    predicate into per-key cartesian + filter; this is the bucketed
    range-join instead: explode each interval to the fixed-width time
    buckets it covers (fan-out bounded by interval_len/bucket + 1), map
    each right row to its single bucket, ONE equi-join on (by, bucket),
    then the exact containment filter. Each pair meets in exactly one
    bucket (the right row's), so no dedup pass is needed. Pick bucket_us
    on the order of the typical interval length."""
    l = left.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(_micros(F.col(start_col)) / bucket_us),
                F.floor(_micros(F.col(end_col)) / bucket_us),
            )
        ),
    )
    r = right.withColumn("_bkt", F.floor(_micros(F.col(ts_col)) / bucket_us))
    joined = l.join(r, [by, "_bkt"]).where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("_bkt")


def asof_join(left: DataFrame, right: DataFrame, by: str) -> DataFrame:
    """Point-in-time join: for every left row, attach the `value` and `ts`
    of the LATEST right row with right.ts <= left.ts within the same `by`
    group, as asof_value and asof_ts (nulls when no right row precedes).
    The operator Spark lacks natively; kdb asof / DuckDB ASOF JOIN /
    pandas merge_asof semantics.

    Plan: tag sides, union on (by, ts, side), one window
    last(..., ignoreNulls) ordered by (ts, side) with right rows sorting
    BEFORE left rows at equal ts (<=, not <). ONE hash shuffle on `by`
    and one per-group sort — the streaming-merge shape; never a range
    join (which Catalyst executes as per-key cartesian + filter)."""
    lcols = left.columns
    r = right.select(
        F.col(by), F.col("ts"), F.lit(0).alias("_side"),
        F.col("value").alias("_r_value"), F.col("ts").alias("_r_ts"),
    )
    types = dict(right.dtypes)
    l = left.select(
        *lcols, F.lit(1).alias("_side"),
        F.lit(None).cast(types["value"]).alias("_r_value"),
        F.lit(None).cast(types["ts"]).alias("_r_ts"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *[c for c in u.columns if not c.startswith("_")],
        F.col("_side"),
        F.last("_r_value", ignorenulls=True).over(w).alias("asof_value"),
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return filled.where(F.col("_side") == 1).drop("_side")


# --- incremental-crawl Bloom filter ------------------------------------------
#
# Spark's built-in bloom_filter_agg is an internal expression (not exposed on
# this build), and its serialized format would be engine-opaque anyway. This
# is a from-scratch Bloom filter whose bit layout is pure arithmetic over
# md5, so the DuckDB oracle can reproduce the filter AND the membership
# verdicts bit-for-bit — false positives included (they are a deterministic
# function of the layout, not noise).


def _bloom_pos(key_col, salt: int):
    """16-bit hash position: first 4 hex chars of md5(key || '#salt').
    conv() is exact here (4 hex chars), identical to the DuckDB nibble
    arithmetic the oracle uses."""
    return F.conv(
        F.substring(F.md5(F.concat(key_col, F.lit(f"#{salt}"))), 1, 4), 16, 10
    ).cast("long")


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build a 65536-bit Bloom filter over key_col as a 2048-row
    (block, mask) table of 32-bit blocks (bit 63 stays clear: DuckDB's
    BIGINT << traps on 1<<63, so the oracle could not rebuild a 64-bit
    layout). Per key, BLOOM_K 16-bit positions; bit_or the per-block masks.
    ONE map-side-combined shuffle on block (2048 groups); the
    result broadcasts anywhere. The classic incremental-crawl structure:
    yesterday's corpus compresses to 8 KiB that every executor can hold,
    so screening a new batch never joins the historical table."""
    pos = df.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(key_col), i) for i in range(BLOOM_K)])
        ).alias("pos")
    )
    return pos.groupBy((F.col("pos") / 32).cast("long").alias("block")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        ).alias("mask")
    )


def bloom_might_contain(df: DataFrame, bloom: DataFrame, key_col: str) -> DataFrame:
    """Screen df against a bloom_build table into a `maybe_seen` column:
    BLOOM_K broadcast joins (map-only, no shuffle of df) then an
    all-bits-set AND. False positives at the standard (1 - e^{-kn/m})^k
    rate; false negatives never."""
    out = df
    cond = F.lit(True)
    for i in range(BLOOM_K):
        b = bloom.select(
            F.col("block").alias(f"_blk{i}"), F.col("mask").alias(f"_mask{i}")
        )
        pos = _bloom_pos(F.col(key_col), i)
        out = out.withColumn(f"_blk{i}", (pos / 32).cast("long")).join(
            F.broadcast(b), f"_blk{i}", "left"
        ).withColumn(f"_bit{i}", (pos % 32).cast("int"))
        cond = cond & F.coalesce(
            F.expr(f"(shiftrightunsigned(_mask{i}, _bit{i}) & 1) = 1"),
            F.lit(False),
        )
    out = out.withColumn("maybe_seen", cond)
    return out.drop(*[c for i in range(BLOOM_K) for c in (f"_blk{i}", f"_mask{i}", f"_bit{i}")])
