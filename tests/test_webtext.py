"""Webtext operators: Gopher-style repetition signals, URL
canonicalization, as-of join."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.ops import webtext as W


def test_repetition_stats_pinned(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b a b c"),      # 2g: 6 total / 3 distinct, top 'a b' x3
            (1, "x"),                   # shorter than any n-gram
            (2, "buy buy buy now now"),  # token run of 3
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in W.repetition_stats(docs).collect()}
    assert rows[0]["dup_2gram_frac_e6"] == 500000      # (6-3)/6
    assert rows[0]["top_2gram_frac_e6"] == 500000      # 3/6
    assert rows[1]["dup_2gram_frac_e6"] == 0
    assert rows[1]["top_2gram_frac_e6"] == 0
    assert rows[1]["max_token_run"] == 1
    assert rows[2]["dup_2gram_frac_e6"] == 250000      # dup 'buy buy' (2 of 4)
    assert rows[2]["top_2gram_frac_e6"] == 500000      # 2/4
    assert rows[2]["dup_3gram_frac_e6"] == 0
    assert rows[2]["top_3gram_frac_e6"] == 333333      # 1/3
    assert rows[2]["max_token_run"] == 3


def test_repetition_stats_is_map_only(spark):
    """The scale contract: no shuffle — every signal is a per-row
    higher-order-function expression (the explode->groupBy alternative
    shuffles the whole token stream)."""
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = W.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_url_canonicalize(spark):
    df = spark.createDataFrame(
        [
            (0, "HTTPS://WWW.Foo.Example.ORG:443/a/b/page?utm_source=x&id=7&fbclid=z"),
            (1, "https://foo.example.org/page?utm_source=x"),  # all params stripped
            (2, "https://example.org/"),
        ],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in W.url_canonicalize(df).collect()}
    assert rows[0]["host"] == "www.foo.example.org"
    assert rows[0]["reg_domain"] == "example.org"
    assert rows[0]["path_depth"] == 3
    assert rows[0]["canonical_url"] == "https://www.foo.example.org/a/b/page?id=7"
    # '?' dropped entirely when every param is tracking noise
    assert rows[1]["canonical_url"] == "https://foo.example.org/page"
    assert rows[2]["path_depth"] == 0
    assert rows[2]["reg_domain"] == "example.org"


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 20.0), (3, 10, 25.0), (4, 99, 7.0)],
        "event_id long, user_id long, ts double",
    )
    right = spark.createDataFrame(
        [(10, 4.0, 100.0), (10, 20.0, 200.0), (77, 1.0, 300.0)],
        "user_id long, ts double, value double",
    )
    rows = {
        r["event_id"]: r
        for r in W.asof_join(left, right, by="user_id").collect()
    }
    assert rows[1]["asof_value"] == 100.0 and rows[1]["asof_ts"] == 4.0
    # tie: right row AT the left ts is eligible (<=, not <)
    assert rows[2]["asof_value"] == 200.0 and rows[2]["asof_ts"] == 20.0
    assert rows[3]["asof_value"] == 200.0
    # group with no preceding right row -> nulls, row preserved
    assert rows[4]["asof_value"] is None and rows[4]["asof_ts"] is None
    assert set(rows) == {1, 2, 3, 4}


def test_asof_join_single_shuffle_no_cartesian(spark):
    left = spark.createDataFrame([(1, 10, 5.0)], "event_id long, user_id long, ts double")
    right = spark.createDataFrame([(10, 4.0, 1.0)], "user_id long, ts double, value double")
    plan = (
        W.asof_join(left, right, by="user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    # one hash-partitioning exchange per union branch on the by key, none after
    assert plan.count("hashpartitioning(user_id") <= 2, plan

def test_interval_join_brute_force_parity(spark):
    """Bucketed interval join == the naive inequality join, including
    intervals spanning multiple buckets and boundary-exact timestamps."""
    import datetime as dt

    e = dt.datetime(2020, 1, 1)
    sec = dt.timedelta(seconds=1)
    left = spark.createDataFrame(
        [
            (1, 10, e, e + 100 * sec),          # spans 2 buckets at 60s
            (2, 10, e + 50 * sec, e + 55 * sec),
            (3, 77, e, e + 500 * sec),          # spans many buckets
            (4, 99, e, e + 10 * sec),           # no right rows
        ],
        "iv_id long, user_id long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            (100, 10, e),                # == start boundary of iv 1
            (101, 10, e + 55 * sec),     # == end boundary of iv 2
            (102, 10, e + 101 * sec),    # just outside iv 1
            (103, 77, e + 499 * sec),
            (104, 55, e),                # no left interval
        ],
        "ev_id long, user_id long, ts timestamp_ntz",
    )
    got = {
        (r["iv_id"], r["ev_id"])
        for r in W.interval_join(
            left, right, by="user_id", start_col="start_ts",
            end_col="end_ts", ts_col="ts", bucket_us=60_000_000,
        ).collect()
    }
    naive = {
        (r["iv_id"], r["ev_id"])
        for r in left.join(right, "user_id")
        .where((F.col("ts") >= F.col("start_ts")) & (F.col("ts") <= F.col("end_ts")))
        .collect()
    }
    assert got == naive
    assert (1, 100) in got and (2, 101) in got and (3, 103) in got
    assert (1, 102) not in got


def test_interval_join_is_equi_join(spark):
    """The scale contract: ONE equi-join, no per-key cartesian from the
    raw range predicate."""
    import datetime as dt

    e = dt.datetime(2020, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, e, e)], "iv_id long, user_id long, start_ts timestamp_ntz, end_ts timestamp_ntz"
    )
    right = spark.createDataFrame([(2, 10, e)], "ev_id long, user_id long, ts timestamp_ntz")
    plan = (
        W.interval_join(
            left, right, by="user_id", start_col="start_ts",
            end_col="end_ts", ts_col="ts",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_redact_pii_counts_and_order(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@x-1.example.com or d@e.io now"),
            (1, "call 555-867-5309 from 10.0.0.7 twice: 555-000-1111"),
            (2, "clean text"),
            # all-numeric 'domain' is no email (TLD must be alphabetic),
            # so the address body scrubs as an IPv4 instead
            (3, "ping a@1.2.3.4 ok"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in W.redact_pii(docs).collect()}
    assert rows[0]["n_email"] == 2 and rows[0]["n_phone"] == 0
    assert rows[0]["text_redacted"] == "mail <EMAIL> or <EMAIL> now"
    assert rows[1]["n_phone"] == 2 and rows[1]["n_ipv4"] == 1
    assert rows[1]["text_redacted"] == "call <PHONE> from <IPV4> twice: <PHONE>"
    assert rows[2]["n_email"] == rows[2]["n_phone"] == rows[2]["n_ipv4"] == 0
    assert rows[2]["text_redacted"] == "clean text"
    assert rows[3]["n_email"] == 0 and rows[3]["n_ipv4"] == 1
    assert rows[3]["text_redacted"] == "ping a@<IPV4> ok"
    # original text column untouched
    assert rows[1]["text"].startswith("call 555-")


def test_redact_pii_map_only(spark):
    docs = spark.createDataFrame([(0, "x@y.zz")], "doc_id long, text string")
    plan = W.redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

def test_bloom_no_false_negatives_and_plan(spark):
    hist = spark.range(200).select(F.concat(F.lit("doc-"), F.col("id")).alias("key"))
    bloom = W.bloom_build(hist, "key")
    assert bloom.count() <= 2048
    probe = spark.range(400).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc-"), F.col("id")).alias("key")
    )
    out = W.bloom_might_contain(probe, bloom, "key").collect()
    seen = {r["doc_id"]: r["maybe_seen"] for r in out}
    # zero false negatives: every historical key must flag
    assert all(seen[i] for i in range(200))
    # the filter actually discriminates: most unseen keys pass through
    fp = sum(1 for i in range(200, 400) if seen[i])
    assert fp < 40  # ~(1-e^{-3*200/65536})^3 ~ 1e-6; 40 is a loose ceiling
    # scale contract: screening is map-only over the batch — broadcast
    # joins, no exchange of the probe side
    plan = (
        W.bloom_might_contain(probe, bloom, "key")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan
