"""Mention detection, blocked fuzzy linking, top-1 aggregate, routing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import fixtures
from kgspark import link as linkmod
from kgspark.mentions import annotate_pages, explode_mentions
from kgspark.pipeline import gazetteer_from_alias_index


def _mentions(spark, n=80):
    pages = fixtures.gen_pages(spark, n)
    aliases = fixtures.gen_alias_index(spark)
    gaz, regions = gazetteer_from_alias_index(aliases)
    ann = annotate_pages(pages, gaz, regions).localCheckpoint(eager=False)
    return explode_mentions(ann), aliases


def test_gazetteer_mentions_found(spark):
    mentions, _ = _mentions(spark)
    gaz_hits = mentions.where(F.col("kind") == "gazetteer")
    assert gaz_hits.count() > 0
    # golden mentions whose surface is an exact alias must all be detected
    golden = fixtures.gen_golden_mentions(spark, 80)
    exact_aliases = {a for r in fixtures.ALIAS_INDEX_ROWS for a in r[2]}
    golden_exact = golden.where(F.col("surface").isin(list(exact_aliases)))
    missing = golden_exact.join(
        mentions.select("url", "surface").distinct(), ["url", "surface"], "left_anti"
    ).count()
    assert missing == 0


def test_exact_and_fuzzy_link(spark):
    mentions, aliases = _mentions(spark, 150)
    links = linkmod.link_mentions(mentions, aliases).localCheckpoint(eager=False)
    kinds = {r["match_kind"] for r in links.select("match_kind").distinct().collect()}
    assert "exact" in kinds
    # OCR-corrupted surfaces must link fuzzily to the right entity
    fz = links.where(F.col("match_kind") == "fuzzy")
    if fz.count() > 0:
        bad = fz.where(
            (F.col("surface").contains("Macdonaid")) & (F.col("entity_id") != "Q20")
        ).count()
        assert bad == 0


def test_top1_unique_per_mention(spark):
    mentions, aliases = _mentions(spark, 60)
    links = linkmod.link_mentions(mentions, aliases)
    dup = links.groupBy("url", "surface").count().where("count > 1").count()
    assert dup == 0


def test_link_golden_accuracy(spark):
    """High-confidence links must agree with golden entity ids >= 95%."""
    mentions, aliases = _mentions(spark, 150)
    links = linkmod.link_mentions(mentions, aliases)
    golden = fixtures.gen_golden_mentions(spark, 150).dropDuplicates(["url", "surface"])
    joined = links.join(
        golden.withColumnRenamed("entity_id", "gold_id"), ["url", "surface"]
    ).cache()
    n = joined.count()
    agree = joined.where(F.col("entity_id") == F.col("gold_id")).count()
    assert n > 0
    assert agree / n >= 0.95


def test_normalize_surface(spark):
    df = spark.createDataFrame([("  Sir  John A. Macdonald. ",), ("OTTAWA",)], "s string")
    out = [r[0] for r in df.select(linkmod.normalize_surface(F.col("s"))).collect()]
    assert out == ["sir john a. macdonald", "ottawa"]


def test_aho_corasick_matches_regex_semantics():
    """AC scanner output must equal the alternation-regex scanner output —
    leftmost-longest, non-overlapping, word-boundary — on adversarial
    vocabularies (nested/overlapping aliases, boundary traps)."""
    import random
    import re

    from kgspark.ac import automaton

    vocab = [
        "York", "New York", "New York City", "Fort", "Fort York",
        "Canada", "Upper Canada", "ada", "per Can", "A", "A. Macdonald",
        "Treaty 7", "7",
    ]
    texts = [
        "He left New York City for Fort York in Upper Canada.",
        "Canada borders Canadaland but not xCanada or Canada2.",
        "A. Macdonald signed Treaty 7. A said 7 was enough.",
        "per Canada? New York-bound. FortYork Fort  York.",
        "",
        "YorkYork York York",
    ]
    rng = random.Random(3)
    words = ["York", "New", "Fort", "Canada", "Upper", "the", "x", "7", "A."]
    for _ in range(30):
        texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(1, 40))))

    gaz_sorted = sorted(set(vocab), key=len, reverse=True)
    rx = re.compile(r"(?<!\w)(" + "|".join(re.escape(g) for g in gaz_sorted) + r")(?!\w)")
    ac = automaton(vocab)
    for t in texts:
        want = [(m.start(), m.end()) for m in rx.finditer(t)]
        got = ac.scan(t)
        assert got == want, (t, got, want)


def test_scanner_ac_and_regex_paths_agree():
    from kgspark.mentions import _build_scanner

    gaz = ["Canada", "Ottawa", "Upper Canada", "Treaty 7", "N.W.T.", "Sask."]
    regions = ["on", "qc"]
    for text in (
        "Upper Canada and Ottawa. Canada signed Treaty 7.",
        # aliases that end in punctuation, followed by a space
        "They reached the N.W.T. in 1880. Later Ottawa and Sask. were named.",
    ):
        m1 = _build_scanner(gaz, regions, use_ac=False)(text)
        m2 = _build_scanner(gaz, regions, use_ac=True)(text)
        assert m1 == m2


def test_fused_relation_scan_matches_per_pattern():
    """The single fused relation regex must find the identical (subj, pred,
    obj) set the five per-pred scans find on the fixture corpus (the fused
    pass is the annotate hot loop; equivalence argument in mentions.py)."""
    import re

    from kgspark import fixtures
    from kgspark.extract import extract_text_bytes
    from kgspark.mentions import _REL_COMBINED, _REL_PATTERNS, _REL_PHRASE_TO_PRED

    rel_res = [(p, re.compile(rx)) for p, rx in _REL_PATTERNS]
    n_rels = 0
    for i in range(150):
        t = extract_text_bytes(fixtures.page_record(i, bulk_words=200)["html"])
        old = {
            (m.group(1), pred, m.group(2))
            for pred, rx in rel_res
            for m in rx.finditer(t)
        }
        new = {
            (m.group(1), _REL_PHRASE_TO_PRED[m.group(2)], m.group(3))
            for m in _REL_COMBINED.finditer(t)
        }
        assert old == new
        n_rels += len(new)
    assert n_rels > 0


def test_overlapping_regions_both_recorded():
    """Regions that overlap ('York' inside 'York County') must BOTH land in
    ctx_regions — a consuming alternation has first-alternative-wins
    semantics and silently drops the co-occurring region (round-3 advice)."""
    from kgspark.mentions import _build_scanner

    scan = _build_scanner(["Canada"], ["York", "York County", "Canada"])
    _, _, ctx = scan("He moved to York County after Canada confederated.")
    assert ctx == ["Canada", "York", "York County"]
    # word boundaries still respected: 'Yorkshire' is not 'York'
    _, _, ctx2 = scan("Yorkshire is elsewhere.")
    assert ctx2 == []
    # region at end-of-text keeps its end boundary
    _, _, ctx3 = scan("They settled in York")
    assert ctx3 == ["York"]


def test_active_run_scan_matches_full_text_scan():
    """r7 active-line-run narrowing must produce byte-identical scanner
    output (mentions incl. order, relations incl. order, ctx regions) to a
    full-text scan, on fixture pages and adversarial line layouts."""
    import random

    from kgspark import fixtures, mentions as M

    gaz = sorted({a for r in fixtures.ALIAS_INDEX_ROWS for a in r[2]})
    regions = sorted({r[6] for r in fixtures.ALIAS_INDEX_ROWS if r[6]})
    scan = M._build_scanner(gaz, regions)

    def scan_reference(text):
        """full-text scan: same scanner with the narrowing disabled"""
        old = M._has_of_line
        try:
            M._has_of_line = lambda _t: True  # force the subs=[text] branch
            return scan(text)
        finally:
            M._has_of_line = old

    cases = [
        "",
        "plain lowercase filler only words here",
        "Sir John A. Macdonald governed Canada.\nlowercase filler para.",
        # span adjacency across an ACTIVE line boundary must survive
        "Treaty\nCanada after",
        # span must NOT be glued across an inactive filler line
        "Treaty 7\nall lowercase filler sentence\nOntario was growing.",
        # the pathological exactly-"of" line (falls back to full scan)
        "Treaty\nof\nParis ended it.",
        "of\nCanada",
        "Canada\nof",
        # digits start spans; footer-like lines
        "© 1900 Archive Society",
        "lower case\n1900 Events unfolded.\nmore lower case",
        # relation sentence split over skeleton+filler layout
        "Notes on Ontario history\nHome | About | Archive\n"
        "Louis Riel was born in Red River Colony. filler words go here.\n"
        "pure lowercase bulk paragraph one.\npure lowercase bulk two.\n"
        "© 1900 Archive Society",
    ]
    for i in range(60):
        r = fixtures.page_record(i, bulk_words=200)
        cases.append(r["text"])
    rng = random.Random(11)
    pieces = [
        "Canada", "Treaty 7", "lower filler", "of", "Ontario", "x y z",
        "Sir John", "was born in", "governed", "1900", "A.", "",
    ]
    for _ in range(200):
        cases.append(
            "\n".join(rng.choice(pieces) for _ in range(rng.randint(1, 8)))
        )

    for text in cases:
        assert scan(text) == scan_reference(text), repr(text[:120])


def test_annotate_from_html_fused_equals_two_stage(spark):
    """annotate_pages(from_html=True) must equal extract-then-annotate."""
    from kgspark import fixtures
    from kgspark.extract import with_extracted_text
    from kgspark.mentions import annotate_pages

    gaz = sorted({a for r in fixtures.ALIAS_INDEX_ROWS for a in r[2]})
    regions = sorted({r[6] for r in fixtures.ALIAS_INDEX_ROWS if r[6]})
    pages = fixtures.gen_pages(spark, 120, bulk_words=300)
    two_stage = annotate_pages(
        with_extracted_text(pages.drop("text")), gaz, regions
    )
    fused = annotate_pages(pages, gaz, regions, from_html=True)
    a = sorted(two_stage.collect(), key=lambda r: r["url"])
    b = sorted(fused.collect(), key=lambda r: r["url"])
    assert a == b


def test_active_runs_numpy_matches_reference_impl():
    """r7 vectorized _active_runs == the incremental regex form on ASCII
    texts, and non-ASCII texts (where \\d can match unicode digits and byte
    offsets diverge) take the reference path verbatim."""
    import random

    from kgspark import fixtures
    from kgspark.mentions import _active_runs, _active_runs_re

    cases = [
        "", "abc", "Abc", "A", "5", "abc\ndef", "Abc\ndef\nGhi",
        "a\nB\nc\nD", "A\nB\nC", "x\n\nY\n\n", "\n\nZ", "Z\n", "\nZ\n",
        "9 lives\nnone here\nnine 9", "of\nA", "trailing active Z",
        "a" * 100 + "\nB" + "c" * 50,
        # non-ASCII: unicode digit is active for \d; é is not
        "foo\n٣ bar\nbaz", "é\nΩ\n3", "Ωmega\nlower",
    ]
    rng = random.Random(3)
    for _ in range(3000):
        lines = [
            "".join(rng.choice("abc XYZ019é٣") for _ in range(rng.randint(0, 8)))
            for _ in range(rng.randint(0, 10))
        ]
        cases.append("\n".join(lines))
    for i in range(20):
        cases.append(fixtures.page_record(i, bulk_words=200)["text"])

    for t in cases:
        assert _active_runs(t) == _active_runs_re(t), repr(t[:80])


def test_link_top1_pick_matches_window_reference(spark):
    """The per-row array_min pick over each distinct surface's candidates
    == a row_number window over every (occurrence, alias) candidate,
    row for row, exact and fuzzy arms alike; and the plan has no Window
    and no sort-merge join of occurrence rows."""
    from pyspark.sql import Window

    aliases = fixtures.gen_alias_index(spark)
    gaz, regions = gazetteer_from_alias_index(aliases)
    pages = fixtures.gen_pages(spark, 150, with_text=False)
    mentions = explode_mentions(
        annotate_pages(pages, gaz, regions, from_html=True)
    ).localCheckpoint()
    links = linkmod.link_mentions(mentions, aliases)

    got = sorted(map(tuple, links.collect()))
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "top-1 must stay a per-row pick, not a window"
    assert "SortMergeJoin" not in plan

    # reference: every alias is a candidate of every occurrence; exact
    # means equal normalized forms, and a surface with no exact alias
    # takes the aliases within LEV_MAX that share a 2-gram with it
    occ = mentions.select("url", "surface", "ctx_regions").distinct().withColumn(
        "norm_surface", linkmod.normalize_surface(F.col("surface"))
    )
    pairs = occ.crossJoin(linkmod.build_alias_table(aliases)).withColumn(
        "lev", F.levenshtein("norm_surface", "norm_alias")
    )
    per_pair = Window.partitionBy("url", "surface")
    blocked = F.arrays_overlap(
        linkmod.char_ngrams("norm_surface", 2), linkmod.char_ngrams("norm_alias", 2)
    )
    cand = (
        pairs.withColumn("has_exact", F.max((F.col("lev") == 0).cast("int")).over(per_pair))
        .where(
            (F.col("lev") == 0)
            | ((F.col("has_exact") == 0) & (F.col("lev") <= linkmod.LEV_MAX) & blocked)
        )
        .withColumn("match_kind", F.when(F.col("lev") == 0, "exact").otherwise("fuzzy"))
        .withColumn(
            "name_sim",
            F.when(F.col("lev") == 0, 1.0).otherwise(
                F.round(
                    1.0 - F.col("lev")
                    / F.greatest(F.length("norm_surface"), F.length("norm_alias")),
                    6,
                )
            ),
        )
        .withColumn(
            "ctx_score",
            F.when(
                F.array_contains(F.col("ctx_regions"), F.col("admin_region")), 1.0
            ).otherwise(0.0),
        )
        .withColumn(
            "score",
            F.round(
                0.5 * F.col("name_sim")
                + 0.3 * F.col("ctx_score")
                + 0.2 * F.when(F.col("match_kind") == "exact", 1.0).otherwise(F.col("name_sim")),
                6,
            ),
        )
    )
    w = per_pair.orderBy(F.desc("score"), F.desc("name_sim"), F.asc("entity_id"))
    ref = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .withColumn(
            "confidence",
            F.when(
                (F.col("score") >= linkmod.SCORE_ACCEPT)
                & (F.col("name_sim") >= linkmod.NAME_SIM_ACCEPT),
                "high",
            ).otherwise("ambiguous"),
        )
        .select(*links.columns)
    )
    want = sorted(map(tuple, ref.collect()))
    assert {t[8] for t in want} == {"exact", "fuzzy"}
    assert got == want


def test_surface_to_entity_map_majority_then_smallest_id(spark):
    """Majority of high-confidence links wins; a count tie goes to the
    smallest entity_id; ambiguous links do not vote."""
    rows = [
        ("ottawa", "Q9", "high"), ("ottawa", "Q2", "high"),
        ("ottawa", "Q5", "ambiguous"), ("ottawa", "Q5", "ambiguous"),
        ("bytown", "Q7", "high"), ("bytown", "Q7", "high"), ("bytown", "Q1", "high"),
        ("zzz", "Q3", "ambiguous"),
    ]
    links = spark.createDataFrame(
        [(s, e, f"name {e}", "place", c) for s, e, c in rows],
        "norm_surface string, entity_id string, canonical_name string, "
        "entity_type string, confidence string",
    )
    got = linkmod.surface_to_entity_map(links)
    assert got.columns == ["norm_surface", "entity_id", "canonical_name", "entity_type"]
    assert sorted(map(tuple, got.collect())) == [
        ("bytown", "Q7", "name Q7", "place"),
        ("ottawa", "Q2", "name Q2", "place"),
    ]
