"""Deterministic synthetic Canadian-history web-page corpus + alias index.

Replaces the reference's external inputs (FileGDB census polygons, Excel
tables, live Wikidata SPARQL — /root/reference/scripts/
fetch_canadian_communities_wikidata.py:17-35) with seeded synthetic data,
per FIXTURES.md F1/F2/F3: a `pages(url, warc_ts, html, text, lang)` table
whose golden (subj, pred, obj) triples are known **by construction**, and a
small broadcastable `alias_index` vocabulary.

Scale design: page i is a pure function of (seed, i). Generation runs as
`spark.range(n)` + `mapInPandas`, so a 500k-page bench corpus is generated
distributedly with zero driver memory — and the golden triple set for ANY
subset is computable the same way. Head-entity skew is built in: ~35% of
pages mention "Canada" (north rule: salted canonicalization must survive
head entities).
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .extract import extract_text_bytes

SEED = 42

# --- vocabulary (FIXTURES.md F2; sizes mirror reference's 2,897-community
# Wikidata fetch, scaled down) ---------------------------------------------

# (entity_id, canonical_name, [aliases], type, lat, lon, admin, geonames, inception)
ALIAS_INDEX_ROWS = [
    ("Q1", "Canada", ["Canada", "Dominion of Canada"], "place", 56.0, -106.0, "Canada", "6251999", "1867-07-01"),
    ("Q2", "Ottawa", ["Ottawa", "Bytown"], "place", 45.42, -75.69, "Ontario", "6094817", "1826-01-01"),
    ("Q3", "Toronto", ["Toronto", "York"], "place", 43.65, -79.38, "Ontario", "6167865", "1793-01-01"),
    ("Q4", "Montreal", ["Montreal", "Ville-Marie"], "place", 45.50, -73.57, "Quebec", "6077243", "1642-01-01"),
    ("Q5", "Kingston", ["Kingston"], "place", 44.23, -76.48, "Ontario", "5992500", "1673-01-01"),
    ("Q6", "Charlottetown", ["Charlottetown"], "place", 46.24, -63.13, "Prince Edward Island", "5920288", "1764-01-01"),
    ("Q7", "Winnipeg", ["Winnipeg", "Fort Garry"], "place", 49.90, -97.14, "Manitoba", "6183235", "1738-01-01"),
    ("Q8", "Halifax", ["Halifax"], "place", 44.65, -63.57, "Nova Scotia", "6324729", "1749-01-01"),
    ("Q9", "Kitchener", ["Kitchener", "Berlin"], "place", 43.45, -80.49, "Ontario", "5992996", "1854-01-01"),
    ("Q10", "Regina", ["Regina", "Pile of Bones"], "place", 50.45, -104.61, "Saskatchewan", "6119109", "1882-01-01"),
    ("Q11", "Vancouver", ["Vancouver", "Gastown"], "place", 49.28, -123.12, "British Columbia", "6173331", "1886-01-01"),
    ("Q12", "Quebec City", ["Quebec City", "Quebec"], "place", 46.81, -71.21, "Quebec", "6325494", "1608-01-01"),
    ("Q20", "John A. Macdonald", ["John A. Macdonald", "Sir John A. Macdonald", "Macdonald"], "person", None, None, "Ontario", None, "1815-01-11"),
    ("Q21", "Wilfrid Laurier", ["Wilfrid Laurier", "Sir Wilfrid Laurier", "Laurier"], "person", None, None, "Quebec", None, "1841-11-20"),
    ("Q22", "Louis Riel", ["Louis Riel", "Riel"], "person", None, None, "Manitoba", None, "1844-10-22"),
    ("Q23", "Alexander Mackenzie", ["Alexander Mackenzie", "Mackenzie"], "person", None, None, "Ontario", None, "1822-01-28"),
    ("Q24", "Robert Borden", ["Robert Borden", "Sir Robert Borden", "Borden"], "person", None, None, "Nova Scotia", None, "1854-06-26"),
    ("Q25", "Agnes Macphail", ["Agnes Macphail", "Macphail"], "person", None, None, "Ontario", None, "1890-03-24"),
    ("Q26", "Gabriel Dumont", ["Gabriel Dumont", "Dumont"], "person", None, None, "Saskatchewan", None, "1837-12-01"),
    ("Q30", "Confederation", ["Confederation", "Canadian Confederation"], "event", None, None, "Canada", None, "1867-07-01"),
    ("Q31", "Charlottetown Conference", ["Charlottetown Conference"], "event", None, None, "Prince Edward Island", None, "1864-09-01"),
    ("Q32", "Red River Rebellion", ["Red River Rebellion", "Red River Resistance"], "event", None, None, "Manitoba", None, "1869-10-11"),
    ("Q33", "North-West Rebellion", ["North-West Rebellion", "Northwest Resistance"], "event", None, None, "Saskatchewan", None, "1885-03-26"),
    ("Q40", "Treaty 6", ["Treaty 6", "Treaty Six"], "treaty", None, None, "Saskatchewan", None, "1876-08-23"),
    ("Q41", "Treaty 7", ["Treaty 7", "Treaty Seven"], "treaty", None, None, "Alberta", None, "1877-09-22"),
    ("Q42", "Treaty of Paris", ["Treaty of Paris"], "treaty", None, None, "Canada", None, "1763-02-10"),
]

# OCR-style corruptions (reference analog: the OCR-variant chains the
# reference repairs, /root/reference/scripts/fix_ocr_errors.py:153-201).
# Applied with low probability; fuzzy linking (levenshtein<=2) must recover.
OCR_VARIANTS = {
    "Macdonald": "Macdonaid",
    "Ottawa": "Ottavva",
    "Laurier": "Lavrier",
    "Winnipeg": "Winipeg",
    "Toronto": "Torooto",
    "Kingston": "Kingstown",
}

_BY_ID = {r[0]: r for r in ALIAS_INDEX_ROWS}
_PERSONS = [r for r in ALIAS_INDEX_ROWS if r[3] == "person"]
_PLACES = [r for r in ALIAS_INDEX_ROWS if r[3] == "place" and r[0] != "Q1"]
_EVENTS = [r for r in ALIAS_INDEX_ROWS if r[3] == "event"]
_TREATIES = [r for r in ALIAS_INDEX_ROWS if r[3] == "treaty"]

_FILLER = [
    "The archives hold many records from this period.",
    "Historians continue to debate the details.",
    "The railway changed everything for the region.",
    "Local newspapers reported the story at length.",
    "The census of that year recorded steady growth.",
    "Settlers arrived in growing numbers each spring.",
]

# Lowercase-only lexicon for page-bulk filler: no capitalized token can
# start a SPAN_RE span, match a gazetteer alias, or complete a relation
# template, so ANY amount of this filler leaves the golden mention/triple
# sets byte-for-byte unchanged — it only makes the page realistically heavy.
_BULK_WORDS = (
    "the of and to in that was for with as on by were from at which had "
    "their settlers grain timber harvest river winter spring letters "
    "council ledger parish township survey freight station mill road "
    "market price wheat cattle harbour vessel cargo spoke wrote noted "
    "meeting record local early later where through during between"
).split()


# pre-joined word pairs (54^2 = 2916 entries, ~38 KB — L2-resident where a
# triple table thrashes): halves the per-word Python list/join traffic in
# the bulk hot loop. 90 is even, so pairs never straddle a paragraph.
_BULK_PAIRS = [a + " " + b for a in _BULK_WORDS for b in _BULK_WORDS]

import numpy as _np


def _bulk_paragraphs(rng: random.Random, n_words: int) -> list[str]:
    """Deterministic lowercase filler, ~90 words per paragraph.

    Draw-identical fast form of ``rng.choice(_BULK_WORDS)`` per word
    (pinned by tests/test_pipeline_golden.py). Two exact identities make
    the vectorization safe:
    - ``choice(seq)`` is ``seq[_randbelow(len)]`` and ``_randbelow(54)``
      draws ``getrandbits(6)`` (one genrand word each, top 6 bits),
      rejecting values >= 54 — so the accepted-value sequence is just a
      filter over the raw 32-bit word stream;
    - ``getrandbits(32*k)`` consumes the SAME genrand words in order,
      little-endian-first, so one mega-draw + numpy shift/filter yields
      the identical accepted sequence at C speed. Over-drawn words are
      never observed (this rng is a per-page throwaway stream)."""
    if n_words <= 0:
        return []
    bw = _BULK_WORDS
    n = len(bw)
    chunks: list = []
    got = 0
    draw = int(n_words * 64 / 54) + 16
    while got < n_words:
        raw = rng.getrandbits(32 * draw).to_bytes(4 * draw, "little")
        r = _np.frombuffer(raw, _np.uint32) >> 26
        acc = r[r < n]
        chunks.append(acc)
        got += acc.size
        draw = max(32, int((n_words - got) * 1.4) + 16)
    idx = _np.concatenate(chunks)[:n_words] if len(chunks) > 1 else chunks[0][:n_words]
    half = n_words // 2
    pid = (idx[0::2][:half] * n + idx[1::2][:half]).tolist()
    pairs = _BULK_PAIRS
    pw = [pairs[j] for j in pid]
    m = n_words // 90
    paras = [" ".join(pw[p * 45 : (p + 1) * 45]) + "." for p in range(m)]
    rem = n_words - m * 90
    if rem:
        rp = pw[m * 45 : m * 45 + rem // 2]
        if rem % 2:
            rp = rp + [bw[int(idx[n_words - 1])]]
        paras.append(" ".join(rp) + ".")
    return paras

# Relation sentence templates. The relation extractor (relations.py) owns the
# matching patterns; these templates are the generative side of that contract.
_REL_TEMPLATES = {
    "born_in": "{s} was born in {o}.",
    "governed": "{s} governed {o}.",
    "signed": "{s} signed {o}.",
    "located_in": "{s} is located in {o}.",
    "participated_in": "{s} participated in {o}.",
}


def _pick_surface(rng: random.Random, row, corrupt_p: float = 0.05) -> str:
    """Pick a surface form for an entity: usually an alias, occasionally an
    OCR corruption of one of its aliases."""
    surface = rng.choice(row[2])
    if rng.random() < corrupt_p:
        for good, bad in OCR_VARIANTS.items():
            if good in surface:
                return surface.replace(good, bad)
    return surface


def page_record(
    i: int, seed: int = SEED, bulk_words: int = 0, with_text: bool = True
) -> dict:
    """Pure function (seed, i) -> one synthetic page + its golden facts.

    ``bulk_words`` appends deterministic lowercase filler paragraphs
    (Common-Crawl html pages are tens of KB; the sentence skeleton alone is
    an unrealistically light ~2KB). The filler cannot match any mention,
    span, or relation pattern, so golden facts are unchanged at any size.

    ``with_text=False`` skips the pre-extracted ``text`` column (a pure
    function of ``html`` with no rng draws, so every other field is
    byte-identical either way): consumers that re-extract from html — the
    fused-annotate pipeline the bench measures — should not pay for an
    extraction they immediately discard (r7)."""
    rng = random.Random(f"{seed}:{i}")
    sentences: list[str] = []
    triples: list[tuple[str, str, str]] = []
    mentions: list[tuple[str, str]] = []  # (surface, entity_id)

    n_rel = rng.randint(2, 5)
    for _ in range(n_rel):
        pred = rng.choice(list(_REL_TEMPLATES))
        if pred == "born_in":
            s, o = rng.choice(_PERSONS), rng.choice(_PLACES)
        elif pred == "governed":
            s, o = rng.choice(_PERSONS), (_BY_ID["Q1"] if rng.random() < 0.5 else rng.choice(_PLACES))
        elif pred == "signed":
            s, o = rng.choice(_PERSONS), rng.choice(_TREATIES)
        elif pred == "located_in":
            s, o = rng.choice(_PLACES), _BY_ID["Q1"]
        else:  # participated_in
            s, o = rng.choice(_PERSONS), rng.choice(_EVENTS)
        s_surface = _pick_surface(rng, s)
        o_surface = _pick_surface(rng, o)
        sentences.append(_REL_TEMPLATES[pred].format(s=s_surface, o=o_surface))
        triples.append((s[0], pred, o[0]))
        mentions.append((s_surface, s[0]))
        mentions.append((o_surface, o[0]))

    # head-entity skew: ~35% of pages mention Canada in a filler sentence
    if rng.random() < 0.35:
        sentences.append("Canada grew rapidly in these years.")
        mentions.append(("Canada", "Q1"))
    for _ in range(rng.randint(1, 3)):
        sentences.insert(rng.randrange(len(sentences) + 1), rng.choice(_FILLER))

    # context hint for disambiguation-style scoring: mention the admin region
    region = _BY_ID[triples[0][0]][6]
    title = f"Notes on {region} history"
    body = " ".join(sentences)
    # independent rng stream: bulk size must not shift the draws behind the
    # golden facts or the lang flag
    bulk = "".join(
        f"<p>{p}</p>"
        for p in _bulk_paragraphs(random.Random(f"{seed}:{i}:bulk"), bulk_words)
    )
    html = (
        "<html><head><title>{t}</title>"
        "<style>body {{ color: #222; }}</style>"
        '<script>var x = "tracker";</script></head>'
        "<body><nav>Home | About | Archive</nav>"
        "<h1>{t}</h1><p>{b}</p>{bulk}"
        "<footer>&copy; 1900 Archive Society</footer></body></html>"
    ).format(t=title, b=body, bulk=bulk)
    html_bytes = html.encode("utf-8")

    ts = dt.datetime(1998, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        seconds=(i * 937) % (86400 * 365 * 20)
    )
    # lang draw happens BEFORE the (draw-free) text extraction so the rng
    # stream is identical with and without text
    lang = "en" if rng.random() < 0.9 else "fr"
    rec = {
        "url": f"https://example.org/ca-history/{seed}/{i:08d}",
        "warc_ts": ts,
        "html": html_bytes,
        "lang": lang,
        "_mentions": mentions,
        "_triples": triples,
    }
    if with_text:
        rec["text"] = extract_text_bytes(html_bytes)
    return rec


def _n_parts(spark, n: int) -> int:
    """Partition count for generated corpora: a multiple of the cluster's
    parallelism (so no core idles on the map-heavy stages) but coarse
    enough (>= ~400 pages/task) that Arrow batch + task-launch overhead
    stays amortized."""
    cores = spark.sparkContext.defaultParallelism
    return max(cores * 2, min(n // 400, cores * 8, 512))


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
PAGES_SCHEMA_NO_TEXT = "url string, warc_ts timestamp, html binary, lang string"
GOLDEN_SCHEMA = "subj string, pred string, obj string, src_url string"
GOLDEN_MENTION_SCHEMA = "url string, surface string, entity_id string"


def gen_pages(
    spark: SparkSession,
    n: int,
    seed: int = SEED,
    bulk_words: int = 0,
    with_text: bool = True,
) -> DataFrame:
    """Distributed deterministic corpus: spark.range -> mapInPandas.

    No driver-side accumulation (the reference's CensusDataV2 anti-pattern,
    /root/reference/scripts/build_census_observations_v2.py:76-98, is what
    this replaces). ``with_text=False`` omits the pre-extracted ``text``
    column (url/warc_ts/html/lang byte-identical; see page_record): the
    fused-annotate pipeline re-extracts from html, so generating text for
    it is pure waste inside the timed job (r7)."""

    cols = ("url", "warc_ts", "html", "text", "lang") if with_text else (
        "url", "warc_ts", "html", "lang"
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            recs = [page_record(int(i), seed, bulk_words, with_text) for i in b["id"]]
            # column-wise construction: pandas assembles typed arrays
            # instead of re-keying one dict per row
            yield pd.DataFrame({k: [r[k] for r in recs] for k in cols})

    return (
        spark.range(n)
        .repartition(_n_parts(spark, n))
        .mapInPandas(make, PAGES_SCHEMA if with_text else PAGES_SCHEMA_NO_TEXT)
    )


def gen_golden_triples(spark: SparkSession, n: int, seed: int = SEED) -> DataFrame:
    """Golden (subj, pred, obj, src_url) for pages [0, n) — by construction."""

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                r = page_record(int(i), seed)
                rows.extend(
                    {"subj": s, "pred": p, "obj": o, "src_url": r["url"]}
                    for s, p, o in r["_triples"]
                )
            yield pd.DataFrame(rows, columns=["subj", "pred", "obj", "src_url"])

    return spark.range(n).repartition(_n_parts(spark, n)).mapInPandas(make, GOLDEN_SCHEMA)


def gen_golden_mentions(spark: SparkSession, n: int, seed: int = SEED) -> DataFrame:
    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                r = page_record(int(i), seed)
                rows.extend(
                    {"url": r["url"], "surface": s, "entity_id": e} for s, e in r["_mentions"]
                )
            yield pd.DataFrame(rows, columns=["url", "surface", "entity_id"])

    return spark.range(n).repartition(_n_parts(spark, n)).mapInPandas(
        make, GOLDEN_MENTION_SCHEMA
    )


def gen_alias_index(spark: SparkSession) -> DataFrame:
    """FIXTURES.md F2 broadcast vocabulary (reference: Wikidata snapshot)."""
    return spark.createDataFrame(
        [
            (eid, name, aliases, etype, lat, lon, admin, geo, dt.date.fromisoformat(inc))
            for eid, name, aliases, etype, lat, lon, admin, geo, inc in ALIAS_INDEX_ROWS
        ],
        schema=(
            "entity_id string, canonical_name string, aliases array<string>, "
            "entity_type string, latitude double, longitude double, "
            "admin_region string, geonames_id string, inception_date date"
        ),
    )
