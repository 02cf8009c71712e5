"""End-to-end golden-triple gate: P/R >= 0.95 (the north-rule correctness
bar), determinism across parallelism levels, and checkpoint resume."""

from __future__ import annotations

import time

from kgspark import fixtures
from kgspark.evaluate import precision_recall
from kgspark.pipeline import run_pipeline

N_PAGES = 300


def test_golden_precision_recall(spark):
    pages = fixtures.gen_pages(spark, N_PAGES)
    aliases = fixtures.gen_alias_index(spark)
    golden = fixtures.gen_golden_triples(spark, N_PAGES)
    out = run_pipeline(spark, pages, aliases)
    pr = precision_recall(out["triples"], golden)
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_pipeline_head_entity_output_matches_golden(spark):
    """End-to-end skew check: the 35%-head-entity fixture corpus still
    yields exact P/R (partial aggregation never changes results)."""
    out = run_pipeline(spark, fixtures.gen_pages(spark, 200), fixtures.gen_alias_index(spark))
    pr = precision_recall(out["triples"], fixtures.gen_golden_triples(spark, 200))
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95


def test_resume_from_checkpoint(tmp_path, spark):
    """Kill-and-rerun equivalence (SURVEY.md §5.5): a second run over the
    same checkpoint dir loads completed stages and yields identical triples."""
    pages = fixtures.gen_pages(spark, 60)
    aliases = fixtures.gen_alias_index(spark)
    ckdir = str(tmp_path / "ck")
    first = run_pipeline(spark, pages, aliases, checkpoint_dir=ckdir)
    t1 = first["triples"].select("subj", "pred", "obj", "src_url").cache()
    n1 = t1.count()
    # resume: stages all exist; pipeline must read, not recompute
    second = run_pipeline(spark, pages, aliases, checkpoint_dir=ckdir)
    t2 = second["triples"].select("subj", "pred", "obj", "src_url")
    assert n1 > 0
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_partial_resume(tmp_path, spark):
    """Invalidate a late stage; rerun recomputes only from there."""
    from kgspark.io import CheckpointRegistry

    pages = fixtures.gen_pages(spark, 60)
    aliases = fixtures.gen_alias_index(spark)
    ckdir = str(tmp_path / "ck2")
    first = run_pipeline(spark, pages, aliases, checkpoint_dir=ckdir)
    n1 = first["triples"].count()
    reg = CheckpointRegistry(spark, ckdir)
    reg.invalidate("triples")
    reg.invalidate("edges")
    second = run_pipeline(spark, pages, aliases, checkpoint_dir=ckdir)
    assert second["triples"].count() == n1


def _group_jobs(sc, group: str) -> int:
    """Jobs run under `group` so far. A sentinel job under a group of its
    own marks the end: the listener bus reports job starts in order, so
    once the sentinel is seen every earlier job is seen too."""
    sentinel = f"{group}-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(200):
        if sc.statusTracker().getJobIdsForGroup(sentinel):
            break
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_pipeline_call_builds_nothing(tmp_path, spark):
    """The call only declares the run: with or without a checkpoint dir it
    runs no Spark job (not even the gazetteer collect) and writes no stage."""
    from kgspark.io import MARKER

    pages = fixtures.gen_pages(spark, 40)
    aliases = fixtures.gen_alias_index(spark)
    ckdir = tmp_path / "ck_call"
    sc = spark.sparkContext
    group = "test-run-pipeline-call"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, pages, aliases)
        run_pipeline(spark, pages, aliases, checkpoint_dir=str(ckdir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _group_jobs(sc, group) == 0
    assert not list(ckdir.glob(f"*/{MARKER}"))


def test_stages_mapping_builds_lazily(tmp_path, spark):
    """The returned mapping lists every stage without building one; a stage
    is built (and, checkpointed, written) on first item access, after the
    stages it reads and none other."""
    from kgspark.io import MARKER

    pages = fixtures.gen_pages(spark, 40)
    aliases = fixtures.gen_alias_index(spark)
    ckdir = tmp_path / "ck_lazy"
    out = run_pipeline(spark, pages, aliases, checkpoint_dir=str(ckdir))
    assert set(out) == {
        "annotated", "mentions", "relations", "links", "surfaces",
        "surface_entity", "components", "canonical_map", "resolved_surfaces",
        "triples", "entities", "edges", "lineage", "prov_entities", "prov_edges",
        "entity_snapshots", "entity_timeline",
    }
    assert "entities" in out and len(out) == 17
    out["triples"]
    # triples and its inputs only: not canonical_map
    assert {p.parent.name for p in ckdir.glob(f"*/{MARKER}")} == {
        "annotated", "mentions", "relations", "links", "surfaces", "surface_entity",
        "components", "resolved_surfaces", "triples",
    }
    out["entities"]
    assert (ckdir / "entities" / MARKER).exists()


def test_bulk_paragraphs_draw_identical_to_choice_loop():
    """r7 fast filler generator must consume the SAME random stream as the
    original rng.choice loop and emit identical paragraphs (the bench
    corpus — and therefore golden triples per page — must not shift)."""
    import random

    from kgspark.fixtures import _BULK_WORDS, _bulk_paragraphs

    def reference(rng, n_words):
        paras, words = [], []
        for _ in range(n_words):
            words.append(rng.choice(_BULK_WORDS))
            if len(words) >= 90:
                paras.append(" ".join(words) + ".")
                words = []
        if words:
            paras.append(" ".join(words) + ".")
        return paras

    for n in (0, 1, 89, 90, 91, 180, 2000):
        for seed in ("42:0:bulk", "42:7:bulk", "x"):
            assert _bulk_paragraphs(random.Random(seed), n) == reference(
                random.Random(seed), n
            ), (n, seed)


def test_gen_pages_with_text_false_identical_pages(spark):
    """r7 with_text=False must change nothing but drop the text column:
    url/warc_ts/html/lang byte-identical (the text extraction consumes no
    rng draws), and page_record golden facts unchanged."""
    from kgspark import fixtures

    a = fixtures.gen_pages(spark, 60, bulk_words=150).drop("text")
    b = fixtures.gen_pages(spark, 60, bulk_words=150, with_text=False)
    assert b.columns == ["url", "warc_ts", "html", "lang"]
    ra = sorted(a.collect(), key=lambda r: r["url"])
    rb = sorted(b.collect(), key=lambda r: r["url"])
    assert [tuple(r) for r in ra] == [tuple(r) for r in rb]
    for i in (0, 3, 17):
        full = fixtures.page_record(i, bulk_words=150)
        slim = fixtures.page_record(i, bulk_words=150, with_text=False)
        assert "text" not in slim
        for k in ("url", "warc_ts", "html", "lang", "_mentions", "_triples"):
            assert full[k] == slim[k], k


# Jobs to read the triples of an un-checkpointed run over one pages file.
# Each surface-keyed step (link candidates, the surface map, the resolve
# vote) runs once per distinct surface; keyed per occurrence, the same
# read took 42 jobs.
JOB_BUDGET = 25


def test_single_file_run_job_budget(tmp_path, spark):
    """A pages input in one Parquet file of one row group (a crawl table's
    layout) is spread before annotate and reads its triples within
    JOB_BUDGET jobs, with the triples of the same pages generated."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    recs = [fixtures.page_record(i, with_text=False) for i in range(N_PAGES)]
    pq.write_table(
        pa.table({k: [r[k] for r in recs] for k in ("url", "warc_ts", "html", "lang")}),
        tmp_path / "pages.parquet",
        row_group_size=len(recs),
    )
    pages = spark.read.parquet(str(tmp_path / "pages.parquet"))
    aliases = fixtures.gen_alias_index(spark)
    sc = spark.sparkContext
    group = "test-single-file-job-budget"
    sc.setJobGroup(group, group)
    try:
        triples = run_pipeline(spark, pages, aliases)["triples"].persist()
        triples.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _group_jobs(sc, group)
    generated = run_pipeline(spark, fixtures.gen_pages(spark, N_PAGES), aliases)["triples"]
    assert triples.exceptAll(generated).count() == 0 and generated.exceptAll(triples).count() == 0
    triples.unpersist()
    assert jobs <= JOB_BUDGET, jobs
