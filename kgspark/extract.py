"""Boilerplate-stripped text extraction from raw HTML bytes.

North-rule invariant: the extracted text must be **byte-identical per url**
to the reference extractor. We therefore freeze the extraction algorithm as
one pure function (:func:`extract_text_bytes`) and use it in exactly two
places: (a) the fixture generator that produces golden ``text`` columns, and
(b) the vectorized Arrow UDF below that the distributed pipeline runs. Any
change to the spec breaks `tests/test_extract.py` byte-equality.

Reference analog: the reference parses opaque XLSX blobs into rows with a
hand-rolled stdlib parser (/root/reference/scripts/parse_1911_v1t1_sk.py:30-80);
the pattern "parse opaque blob -> typed rows inside the engine" is preserved,
re-expressed as a pandas UDF over a ``binary`` column (SURVEY.md §2.12).

Scale notes: extraction is embarrassingly parallel (no shuffle); throughput
is bounded by per-executor CPU. The UDF is Arrow-batched (zero-copy binary
transfer), and the regexes are precompiled once per executor process, not
per batch.
"""

from __future__ import annotations

import html as _htmlmod
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --- frozen extraction spec ------------------------------------------------

# Strip non-content subtrees entirely (script/style/noscript + comments),
# then drop all remaining tags, decode HTML entities, and normalize
# whitespace: every run of whitespace becomes a single space, with block-ish
# tags (</p>, </div>, <br>, headings, <li>, <tr>) becoming newlines first so
# paragraph structure survives as '\n'.
_RE_DROP = re.compile(
    rb"<(script|style|noscript)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_RE_BLOCK = re.compile(
    rb"</(p|div|h[1-6]|li|tr|table|ul|ol|section|article|header|footer|nav|aside|blockquote)\s*>"
    rb"|<br\s*/?>",
    re.IGNORECASE,
)
_RE_TAG = re.compile(rb"<[^>]+>")
_RE_SPACES = re.compile(r"[ \t\r\f\v]+")
_RE_NL = re.compile(r"\s*\n\s*")
# space-only collapse for \t\r\f\v-free texts: "  +" has a two-space literal
# prefix sre can skip with, and on such texts it is EXACTLY _RE_SPACES.sub
# (runs >= 2 spaces -> " "; a lone space maps to itself under both)
_RE_SPACES2 = re.compile("  +")

# _RE_SPACES / _RE_NL substitution replaced by exact-equivalent C-speed
# string ops (r7: the two subs were 64% of extraction time — the spaces sub
# fires on EVERY single inter-word space). Equivalence arguments:
#  - `_RE_SPACES.sub(" ", s)`: every maximal run of ASCII horizontal
#    whitespace becomes one space. When the text has no \t\r\f\v (memchr
#    checks), that reduces to halving "  " runs until none remain: a run of
#    n>=2 spaces becomes " ", a lone space stays, nothing else is touched.
#    Texts that do contain \t\r\f\v take the original regex sub.
#  - `_RE_NL.sub("\n", s)`: greedy \s*\n\s* consumes exactly the maximal
#    unicode-whitespace runs that contain a newline. Splitting on "\n" and
#    stripping part edges is identical because str.strip() with no args and
#    re's unicode \s use the same Py_UNICODE_ISSPACE predicate: the first
#    part only donates its trailing whitespace to a newline run (rstrip),
#    the last only its leading (lstrip), middle parts both ends (strip), and
#    an all-whitespace middle part merges its two newlines into one (drop).
# tests/test_extract.py pins byte-equality against the regex spec on
# adversarial inputs including unicode whitespace.


def extract_text_bytes(html: bytes | None) -> str | None:
    """Frozen extractor: HTML bytes -> normalized text. Pure, deterministic."""
    if html is None:
        return None
    raw = _RE_DROP.sub(b" ", html)
    raw = _RE_BLOCK.sub(b"\n", raw)
    raw = _RE_TAG.sub(b" ", raw)
    text = raw.decode("utf-8", errors="replace")
    # spec: _htmlmod.unescape(text). Every entity starts at an '&', so
    # unescaping only the tail from the first '&' is identical — and skips
    # the library's full-text regex pass when '&' sits near the end (r7).
    amp = text.find("&")
    if amp >= 0:
        text = text[:amp] + _htmlmod.unescape(text[amp:])
    # spec: _RE_SPACES.sub(" ", text)
    if "\t" in text or "\r" in text or "\f" in text or "\v" in text:
        text = _RE_SPACES.sub(" ", text)
    else:
        # exact-equivalent on \t\r\f\v-free text; the two-space literal
        # prefix lets sre skip at C speed instead of whole-string
        # replace() passes (r7; byte-equality pinned in tests)
        text = _RE_SPACES2.sub(" ", text)
    # spec: _RE_NL.sub("\n", text)
    if "\n" in text:
        parts = text.split("\n")
        mid = [q for q in (p.strip() for p in parts[1:-1]) if q]
        text = "\n".join([parts[0].rstrip(), *mid, parts[-1].lstrip()])
    return text.strip()


# --- vectorized UDF --------------------------------------------------------


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extraction over a binary column (no per-row Python at
    the API surface; the loop below is over an in-memory Arrow batch)."""
    return html.map(extract_text_bytes)


def with_extracted_text(df: DataFrame) -> DataFrame:
    """pages(html binary, ...) -> pages + extracted ``text``."""
    return df.withColumn("text", extract_text_udf(F.col("html")))
