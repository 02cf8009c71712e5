"""Temporal snapshots: per-year profiles, lag chains, name-change events."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgspark import fixtures, temporal
from kgspark.pipeline import run_pipeline


def _fixture(spark):
    # E1 dominated by "Bytown" in 1998-1999, by "Ottawa" from 2000 on
    # (a real name change); E2 stable.
    pages = []
    links = []

    def add(url, year, surface, entity):
        pages.append((url, dt.datetime(year, 6, 1)))
        links.append((url, surface, entity, "high"))

    for i in range(4):
        add(f"u98{i}", 1998, "Bytown", "E1")
    add("u98x", 1998, "Ottawa", "E1")  # minority surface that year
    for i in range(3):
        add(f"u99{i}", 1999, "Bytown", "E1")
    for i in range(5):
        add(f"u00{i}", 2000, "Ottawa", "E1")
    for i in range(2):
        add(f"u01{i}", 2001, "Ottawa", "E1")
    for y in (1998, 2000, 2001):
        add(f"v{y}", y, "Canada", "E2")
    links.append(("u980", "Bytown", "E1", "low"))  # low-confidence: ignored

    pages_df = spark.createDataFrame(pages, "url string, warc_ts timestamp")
    links_df = spark.createDataFrame(
        links, "url string, surface string, entity_id string, confidence string"
    )
    return pages_df, links_df


def test_entity_snapshots_topsurface_and_counts(spark):
    pages, links = _fixture(spark)
    df = temporal.entity_snapshots(links, pages)
    assert df.columns == ["entity_id", "snapshot_year", "n_mentions", "top_surface"]
    snaps = {(r["entity_id"], r["snapshot_year"]): r for r in df.collect()}
    assert snaps[("E1", 1998)]["top_surface"] == "Bytown"
    assert snaps[("E1", 1998)]["n_mentions"] == 5  # 4 Bytown + 1 Ottawa (high only)
    assert snaps[("E1", 2000)]["top_surface"] == "Ottawa"
    assert snaps[("E2", 2001)]["top_surface"] == "Canada"
    assert ("E2", 1999) not in snaps


def test_entity_snapshots_count_tie_smaller_surface_wins(spark):
    # two surfaces tied at 2 mentions in one year: the smaller one wins
    rows = [("z1", "Zeta"), ("z2", "Zeta"), ("a1", "Alpha"), ("a2", "Alpha"), ("m1", "Mu")]
    pages = spark.createDataFrame(
        [(u, dt.datetime(2002, 6, 1)) for u, _ in rows], "url string, warc_ts timestamp"
    )
    links = spark.createDataFrame(
        [(u, s, "E3", "high") for u, s in rows],
        "url string, surface string, entity_id string, confidence string",
    )
    (snap,) = temporal.entity_snapshots(links, pages).collect()
    assert (snap["snapshot_year"], snap["n_mentions"], snap["top_surface"]) == (2002, 5, "Alpha")


def test_timeline_chain_order_and_lag(spark):
    pages, links = _fixture(spark)
    tl = temporal.entity_timeline(temporal.entity_snapshots(links, pages))
    rows = {(r["entity_id"], r["snapshot_year"]): r for r in tl.collect()}
    assert rows[("E1", 1998)]["prev_year"] is None
    assert rows[("E1", 1999)]["prev_year"] == 1998
    assert rows[("E1", 2000)]["prev_surface"] == "Bytown"
    assert rows[("E1", 2000)]["name_changed"] is True
    assert rows[("E1", 2001)]["name_changed"] is False
    # E2 skips 1999: the chain links 1998 -> 2000 directly (lag over
    # existing snapshots, like the reference's year chains)
    assert rows[("E2", 2000)]["prev_year"] == 1998


def test_name_change_events(spark):
    pages, links = _fixture(spark)
    ev = temporal.name_change_events(
        temporal.entity_timeline(temporal.entity_snapshots(links, pages))
    ).collect()
    assert len(ev) == 1
    e = ev[0]
    assert (e["entity_id"], e["from_year"], e["to_year"]) == ("E1", 1999, 2000)
    assert (e["from_surface"], e["to_surface"]) == ("Bytown", "Ottawa")


def test_pipeline_emits_temporal_stages(spark):
    # the 120-page fixture spans ~1.3 days of warc_ts (i*937 seconds), so
    # spread pages across 5 snapshot years deterministically by url hash
    pages = fixtures.gen_pages(spark, 120).withColumn(
        "warc_ts",
        F.expr("timestampadd(YEAR, CAST(abs(xxhash64(url)) % 5 AS INT), warc_ts)"),
    )
    out = run_pipeline(spark, pages, fixtures.gen_alias_index(spark))
    snaps = out["entity_snapshots"]
    assert snaps.count() > 0
    years = [r["snapshot_year"] for r in snaps.select("snapshot_year").distinct().collect()]
    assert len(years) > 1
    tl = out["entity_timeline"]
    assert tl.where(F.col("prev_year") >= F.col("snapshot_year")).count() == 0
