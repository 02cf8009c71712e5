"""Registry-gate guard (round-5 verdict #8): the correctness driver records
only the FIRST 50 registered queries, so the flagship, its stage companions,
the spatial oracles, and multimodal MUST sit inside that window — round 5
lost all 12 of them to registration order. No Spark session needed: this is
pure dict-order arithmetic, so it runs first and fails fast."""

from kgspark.entry_queries import GATE_WINDOW, MUST_GATE, ORACLES, QUERIES


def test_must_gate_set_inside_driver_window():
    window = list(QUERIES)[:GATE_WINDOW]
    missing = [n for n in MUST_GATE if n not in window]
    assert not missing, (
        f"high-value queries fell outside the driver's first-{GATE_WINDOW} "
        f"correctness window: {missing}"
    )


def test_window_is_oracle_dense():
    # every gated slot except the (by-design rows-only) flagship must carry
    # a DuckDB oracle — a slot without one burns gate coverage
    window = list(QUERIES)[:GATE_WINDOW]
    no_oracle = [n for n in window if n not in ORACLES]
    assert no_oracle == ["kg_pipeline_triples"], no_oracle


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_demoted_queries_still_registered():
    # demotion must never silently drop a query from the registry — the
    # tail still runs under tools/check_oracles.py and pytest parity
    from kgspark.entry_queries import _DEMOTED

    assert all(n in QUERIES for n in _DEMOTED)
    assert len(QUERIES) == GATE_WINDOW + len(_DEMOTED)


def test_pipeline_pages_parses_scale_factor():
    # the corpus size keys on the sf<number> leaf, not on a substring of
    # the whole path ("0.1" occurs in "/tmp/run0.1/sf0.001")
    from kgspark.entry_queries import _pipeline_pages

    assert _pipeline_pages("testdata/sf0.001") == 200
    assert _pipeline_pages("testdata/sf0.01") == 1000
    assert _pipeline_pages("testdata/sf0.1") == 5000
    assert _pipeline_pages("testdata/sf0.01/") == 1000
    assert _pipeline_pages("/tmp/run0.1/sf0.001") == 200
    assert _pipeline_pages("/tmp/sf0.1x") == 200
