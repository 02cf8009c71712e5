"""Mention detection: gazetteer + capitalized-span patterns, one UDF pass.

Reference analog: the reference detects "mentions" by reading structured ids
out of census tables and matching place names against a fetched Wikidata
vocabulary (/root/reference/scripts/convert_1921_to_lod.py:97-153). Here the
input is free text, so detection is (a) a gazetteer scan (alternation regex
over the broadcast alias vocabulary, longest-first) and (b) a
capitalized-span pattern that surfaces *unknown* candidate mentions —
including OCR-corrupted forms the gazetteer can't see — for downstream fuzzy
linking (link.py) and canonicalization (canonicalize.py).

One `mapInPandas`-style pass emits, per page: mention spans, pattern-matched
relation candidates (relations.py owns the pattern table), and the context
features (admin regions present) used by link scoring. One pass = the text is
decoded and scanned once (SURVEY.md §7.2 M4: "same vectorized UDF pass").

Scale: no shuffle here — annotation is map-only, Arrow-batched. The
gazetteer scan auto-switches strategy on vocabulary size: alternation regex
below AC_THRESHOLD aliases (C-speed for small vocabularies), Aho-Corasick
automaton above it (ac.py — O(text) per page at ANY vocabulary size, built
once per executor and cached). Both produce identical leftmost-longest
non-overlapping matches with no word character on either side, so aliases
that end in punctuation ("N.W.T.") match too (pinned by test).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# capitalized span: tokens are initials ("A."), Capitalized words (hyphens,
# apostrophes allowed), or bare numbers ("Treaty 7"); "of" may glue tokens
# ("Treaty of Paris"). A period NOT part of an initial ends the span, so
# spans never leak across sentence boundaries.
_TOKEN = r"(?:[A-Z]\.|[A-Z][A-Za-z'’-]*|\d+)"
SPAN_RE = rf"{_TOKEN}(?:\s(?:of\s)?{_TOKEN})*"
_SPAN_COMPILED = re.compile(SPAN_RE)

# sentence-initial words that are not mentions (fixture filler + common)
_STOP_SPANS = frozenset(
    {"The", "A", "An", "It", "In", "On", "Historians", "Local", "Settlers",
     "Home", "About", "Archive", "Notes", "Archive Society"}
)

_REL_PATTERNS = [
    ("born_in", rf"({SPAN_RE}) was born in ({SPAN_RE})\."),
    ("governed", rf"({SPAN_RE}) governed ({SPAN_RE})\."),
    ("signed", rf"({SPAN_RE}) signed ({SPAN_RE})\."),
    ("located_in", rf"({SPAN_RE}) is located in ({SPAN_RE})\."),
    ("participated_in", rf"({SPAN_RE}) participated in ({SPAN_RE})\."),
]

# All five patterns fused into ONE text pass: the verb phrase is lowercase,
# and SPAN_RE tokens are Capitalized/initials/digits (lowercase only via the
# "of" glue), so a span can never contain a verb phrase — per-pred scans and
# the single fused scan find the identical match set (pinned by test against
# _REL_PATTERNS). One pass instead of five halves the annotate hot loop.
_REL_PHRASE_TO_PRED = {
    "was born in": "born_in",
    "governed": "governed",
    "signed": "signed",
    "is located in": "located_in",
    "participated in": "participated_in",
}
_REL_COMBINED = re.compile(
    rf"({SPAN_RE}) ({'|'.join(_REL_PHRASE_TO_PRED)}) ({SPAN_RE})\."
)

ANNOTATION_SCHEMA = (
    "url string, mentions array<struct<surface:string,kind:string>>, "
    "relations array<struct<subj_surface:string,pred:string,obj_surface:string>>, "
    "ctx_regions array<string>"
)


# above this many aliases, the alternation regex's per-position alternative
# scan loses to the Aho-Corasick automaton's O(1) transition
AC_THRESHOLD = 2048

# --- active-line-run narrowing (r7 optimization, guide §1.2 step 2) --------
#
# Every pattern the scanner runs can only START at an ASCII capital or a
# digit: SPAN_RE's first token is [A-Z]. / [A-Z]... / \d+, the relation
# pattern begins with SPAN_RE, and (guarded below) every gazetteer alias and
# region starts with [A-Z]|\d. Real crawl pages are dominated by lowercase
# body text, so instead of letting four regex engines attempt a match at
# every one of ~13k positions per page, ONE charset pass finds the lines
# that contain a match-capable character and the four patterns scan only
# those lines (contiguous active lines are kept as one run so matches that
# legitimately cross a newline between two active lines survive).
#
# Exactness argument (pinned by tests/test_mentions_link.py):
#  - no match starts in an inactive line (no [A-Z]|\d anywhere in it);
#  - no match escapes a run: a gaz/region literal would need a '\n' inside
#    it (excluded by the _fast_ok guard); a relation match joins its parts
#    with literal spaces, which never match '\n'; a capitalized span crossing
#    the run's trailing newline needs `\s(?:of\s)?TOKEN` and the next line
#    has no TOKEN start char — the sole pathological case is a line whose
#    entire content is "of" ('\n' matched by \s, "of", '\n' matched by \s,
#    TOKEN on the line after), which _has_of_line detects and routes to the
#    full-text scan;
#  - word-boundary context at run edges is preserved: runs cover whole
#    lines, so the character before/after a run is '\n' (a non-word char)
#    exactly like the string boundary the sliced scan sees.
_ACTIVE_PROBE = re.compile(r"[A-Z]|\d")

import numpy as _np

# per-ordinal probe cache for non-ASCII chars in the vectorized
# _active_runs: exact _ACTIVE_PROBE semantics (\d == unicode Nd), one
# regex call per DISTINCT high char ever seen, then pure dict hits
_HI_PROBE_CACHE: dict[int, bool] = {}


def _probe_char(cv: int) -> bool:
    hit = _HI_PROBE_CACHE.get(cv)
    if hit is None:
        hit = _ACTIVE_PROBE.match(chr(cv)) is not None
        _HI_PROBE_CACHE[cv] = hit
    return hit


def _has_of_line(text: str) -> bool:
    return (
        "\nof\n" in text
        or text.startswith("of\n")
        or text.endswith("\nof")
        or text == "of"
    )


def _active_runs_re(text: str) -> list[tuple[int, int]]:
    """(start, end) of maximal runs of consecutive lines containing at
    least one [A-Z]|\\d character; one charset pass over the text.
    Reference form — also the fallback for non-ASCII texts, where byte
    offsets diverge from str offsets and \\d can match unicode digits."""
    runs: list[list[int]] = []
    n = len(text)
    search = _ACTIVE_PROBE.search
    pos = 0
    while True:
        m = search(text, pos)
        if m is None:
            break
        p = m.start()
        s = text.rfind("\n", 0, p) + 1
        e = text.find("\n", p)
        if e < 0:
            e = n
        if runs and s - 1 <= runs[-1][1]:
            runs[-1][1] = e
        else:
            runs.append([s, e])
        pos = e + 1
    return [(s, e) for s, e in runs]


def _active_runs(text: str) -> list[tuple[int, int]]:
    """Same contract as _active_runs_re, vectorized (r7: the sre charset
    scan ran at ~70 MB/s and was 70% of scan_text; two numpy comparisons
    over a utf-32 view find every active char at memory speed). The
    utf-32-le view gives one uint32 PER CHARACTER, so indices are str
    indices for any input; non-ASCII ordinals get the exact _ACTIVE_PROBE
    verdict via a per-distinct-char cached probe (so \\d's unicode-digit
    semantics are preserved bit-for-bit). Texts with very many distinct
    high chars fall back to the reference loop. Equivalence pinned by
    tests/test_mentions_link.py."""
    try:
        buf = text.encode("utf-32-le")
    except UnicodeEncodeError:  # lone surrogates: take the reference path
        return _active_runs_re(text)
    arr = _np.frombuffer(buf, _np.uint32)
    # unsigned wraparound: values below 'A'/'0' wrap to huge, compare False
    mask = ((arr - 65) < 26) | ((arr - 48) < 10)
    hi = arr >= 128
    if hi.any():
        hi_vals = _np.unique(arr[hi])
        if hi_vals.size > 64:
            return _active_runs_re(text)
        for cv in hi_vals:
            if _probe_char(int(cv)):
                mask |= arr == cv
    active = _np.flatnonzero(mask)
    if active.size == 0:
        return []
    nl = _np.flatnonzero(arr == 0x0A)
    if nl.size == 0:
        return [(0, arr.size)]
    # line index of each active char = #newlines before it; consecutive
    # active lines merge into one run exactly like the incremental loop
    lines = _np.unique(nl.searchsorted(active))
    brk = _np.flatnonzero(_np.diff(lines) > 1)
    rs_lines = lines[_np.r_[0, brk + 1]]
    re_lines = lines[_np.r_[brk, lines.size - 1]]
    starts = _np.where(rs_lines > 0, nl[rs_lines - 1] + 1, 0)
    ends = _np.where(
        re_lines < nl.size, nl[_np.minimum(re_lines, nl.size - 1)], arr.size
    )
    return list(zip(starts.tolist(), ends.tolist()))


def _build_scanner(gazetteer: list[str], regions: list[str], use_ac: bool | None = None):
    """Compile the scan machinery once per executor process."""
    if use_ac is None:
        use_ac = len(set(gazetteer)) > AC_THRESHOLD
    if use_ac:
        from .ac import automaton

        ac = automaton(sorted(set(gazetteer)))

        def gaz_scan(text: str) -> set[str]:
            return {text[s:e] for s, e in ac.scan(text)}

    else:
        gaz_sorted = sorted(set(gazetteer), key=len, reverse=True)
        gaz_re = re.compile(
            r"(?<!\w)(" + "|".join(re.escape(g) for g in gaz_sorted) + r")(?!\w)"
        )

        def gaz_scan(text: str) -> set[str]:
            return {m.group(1) for m in gaz_re.finditer(text)}

    # One lookahead alternation over all regions: ONE pass finds candidate
    # start positions without consuming text, then each region is tested at
    # that position — so overlapping regions ('York' inside 'York County')
    # are BOTH recorded, exactly like the per-region search() this replaces.
    # A plain consuming alternation has first-alternative-wins semantics and
    # eats the matched span, silently dropping co-occurring regions.
    region_list = sorted(set(regions), key=len, reverse=True)
    region_probe = (
        re.compile(r"\b(?=(" + "|".join(re.escape(r) for r in region_list) + r"))")
        if regions
        else None
    )

    def region_scan(text: str, found: set[str]) -> None:
        if region_probe is None:
            return
        for m in region_probe.finditer(text):
            pos = m.start()
            for r in region_list:
                if r not in found and text.startswith(r, pos):
                    e = pos + len(r)
                    # word boundary at the end (start boundary is the \b)
                    if e == len(text) or not (text[e].isalnum() or text[e] == "_"):
                        found.add(r)
            if len(found) == len(region_list):
                break

    # active-line-run narrowing applies only when every vocabulary literal
    # starts with a match-capable char and contains no newline (see the
    # exactness argument at _ACTIVE_PROBE); otherwise scan full texts.
    _fast_ok = all(
        w and _ACTIVE_PROBE.match(w) and "\n" not in w
        for w in (*gazetteer, *regions)
    )

    def scan_text(text: str):
        if not text:
            return [], [], []
        if _fast_ok and not _has_of_line(text):
            subs = [text[s:e] for s, e in _active_runs(text)]
        else:
            subs = [text]
        gaz_hits: set[str] = set()
        for sub in subs:
            gaz_hits |= gaz_scan(sub)
        mentions = [{"surface": s, "kind": "gazetteer"} for s in sorted(gaz_hits)]
        relations = []
        rel_args = set()
        for sub in subs:
            for m in _REL_COMBINED.finditer(sub):
                s, o = m.group(1), m.group(3)
                relations.append(
                    {
                        "subj_surface": s,
                        "pred": _REL_PHRASE_TO_PRED[m.group(2)],
                        "obj_surface": o,
                    }
                )
                rel_args.update((s, o))
        # capitalized spans not already known: candidate mentions for fuzzy
        # linking (OCR-corrupted forms land here)
        for sub in subs:
            for m in _SPAN_COMPILED.finditer(sub):
                s = m.group(0)
                if s not in gaz_hits and s not in _STOP_SPANS and s not in rel_args:
                    mentions.append({"surface": s, "kind": "span"})
        mentions.extend(
            {"surface": s, "kind": "relation_arg"} for s in sorted(rel_args - gaz_hits)
        )
        found: set[str] = set()
        for sub in subs:
            region_scan(sub, found)
            if region_probe is not None and len(found) == len(region_list):
                break
        return mentions, relations, sorted(found)

    return scan_text


def annotate_pages(
    pages: DataFrame,
    gazetteer: list[str],
    regions: list[str],
    from_html: bool = False,
) -> DataFrame:
    """pages(url, text, ...) -> (url, mentions, relations, ctx_regions).

    ``from_html=True`` fuses text extraction into this same pass: the page
    html is decoded with the frozen extractor (extract.extract_text_bytes —
    identical bytes to extract.with_extracted_text) and scanned without the text
    ever crossing the JVM<->Python boundary in between. The pipeline always
    annotates this way (guide §4.1: one opaque pass instead of two chained
    Python evals); text mode serves callers that already hold page text."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if from_html:
            from .extract import extract_text_bytes
        scan = _build_scanner(gazetteer, regions)
        for b in batches:
            out = {"url": b["url"], "mentions": [], "relations": [], "ctx_regions": []}
            texts = map(extract_text_bytes, b["html"]) if from_html else b["text"]
            for t in texts:
                m, r, c = scan(t)
                out["mentions"].append(m)
                out["relations"].append(r)
                out["ctx_regions"].append(c)
            yield pd.DataFrame(out)

    in_cols = ("url", "html") if from_html else ("url", "text")
    return pages.select(*in_cols).mapInPandas(run, ANNOTATION_SCHEMA)


def explode_mentions(annotated: DataFrame) -> DataFrame:
    """-> (url, surface, kind) one row per mention occurrence."""
    return annotated.select(
        "url", "ctx_regions", F.explode("mentions").alias("m")
    ).select("url", "ctx_regions", F.col("m.surface").alias("surface"), F.col("m.kind").alias("kind"))


def explode_relations(annotated: DataFrame) -> DataFrame:
    """-> (url, subj_surface, pred, obj_surface) raw surface-level triples."""
    return annotated.select("url", F.explode("relations").alias("r")).select(
        "url",
        F.col("r.subj_surface").alias("subj_surface"),
        F.col("r.pred").alias("pred"),
        F.col("r.obj_surface").alias("obj_surface"),
    )
