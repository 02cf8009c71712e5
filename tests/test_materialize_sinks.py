"""Sinks (Neo4j bulk CSV, Turtle), observations melt."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import fixtures, observations, sinks
from kgspark.pipeline import run_pipeline


def test_neo4j_bulk_and_turtle_roundtrip(tmp_path, spark):
    out = run_pipeline(spark, fixtures.gen_pages(spark, 80), fixtures.gen_alias_index(spark))
    entities, edges = out["entities"], out["edges"]

    d = str(tmp_path / "neo4j")
    sinks.write_neo4j_bulk(entities, edges, d)
    nodes = spark.read.option("header", True).csv(f"{d}/nodes")
    assert "entity_id:ID" in nodes.columns and ":LABEL" in nodes.columns
    rels = spark.read.option("header", True).csv(f"{d}/rels")
    assert {":START_ID", ":END_ID", ":TYPE"} <= set(rels.columns)
    assert rels.count() == edges.count()

    t = str(tmp_path / "ttl")
    sinks.write_turtle(spark, entities, edges, t)
    lines = spark.read.text(f"{t}/triples")
    assert lines.count() == entities.count() + edges.count()
    bad = lines.where(~F.col("value").endswith(" .")).count()
    assert bad == 0


def test_turtle_quote_escaping(spark):
    # Java replaceAll replacement rules make naive '\"' a no-op; valid
    # Turtle requires embedded quotes emitted as \" and backslashes as \\.
    ents = spark.createDataFrame(
        [("E1", 'John "Johnny" Macdonald'), ("E2", "back\\slash")],
        "entity_id string, canonical_name string",
    )
    lines = {r[0] for r in sinks.turtle_entity_lines(ents).collect()}
    assert 'kg:E1 rdfs:label "John \\"Johnny\\" Macdonald" .' in lines
    assert 'kg:E2 rdfs:label "back\\\\slash" .' in lines


def test_turtle_literal_inference(spark):
    df = spark.createDataFrame([("42",), ("3.14",), ("abc",)], "v string")
    got = [r[0] for r in df.select(sinks.turtle_literal("v")).collect()]
    assert got == ['42^^xsd:integer', '3.14^^xsd:decimal', '"abc"']


def test_melt_observations(spark):
    wide = spark.createDataFrame(
        [(1, "a", 10.0, None, "x"), (2, "b", None, 5.5, None)],
        "place_id int, name string, population double, farm_area double, note string",
    )
    obs = observations.melt_observations(
        wide, id_cols=["place_id"], metadata_cols=["name", "note"]
    )
    got = {(r["place_id"], r["variable"]): r for r in obs.collect()}
    assert (1, "population") in got and got[(1, "population")]["unit"] == "persons"
    assert (2, "farm_area") in got and got[(2, "farm_area")]["unit"] == "acres"
    assert (2, "population") not in got  # null skipped
    # numeric vs string split
    assert got[(1, "population")]["value_numeric"] == 10.0
    assert got[(1, "population")]["value_string"] is None


def test_melt_observations_semi_join_and_meta(spark):
    wide = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "place_id int, population double"
    )
    valid = spark.createDataFrame([(1,), (3,)], "id int")
    meta = spark.createDataFrame(
        [("population", "Demography")], "variable string, category string"
    )
    obs = observations.melt_observations(
        wide, id_cols=["place_id"], valid_ids=valid, variable_meta=meta
    )
    rows = obs.collect()
    assert {r["place_id"] for r in rows} == {1, 3}
    assert all(r["category"] == "Demography" for r in rows)
    with_ids = observations.observation_ids(obs, "place_id").collect()
    assert all(r["measurement_id"].startswith("MEAS_") for r in with_ids)
