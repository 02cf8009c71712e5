"""Byte-identity invariant for the extractor (north rule; SURVEY.md §7.4.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import fixtures
from kgspark.extract import extract_text_bytes, with_extracted_text


def test_extract_pure_function_basics():
    html = (
        b"<html><head><style>p{color:red}</style><script>x=1</script></head>"
        b"<body><nav>Nav</nav><h1>Title</h1><p>Hello &amp; welcome.</p>"
        b"<!-- comment --><footer>&copy; 1900</footer></body></html>"
    )
    text = extract_text_bytes(html)
    assert "x=1" not in text and "color" not in text and "comment" not in text
    assert "Hello & welcome." in text
    assert "© 1900" in text
    # block tags become newlines, runs of spaces collapse
    assert "Nav\nTitle\nHello" in text.replace("  ", " ")


def test_extract_none_and_empty():
    assert extract_text_bytes(None) is None
    assert extract_text_bytes(b"") == ""


def test_extract_byte_identical_per_url(spark):
    """UDF output must equal the golden `text` column byte-for-byte."""
    pages = fixtures.gen_pages(spark, 120).withColumnRenamed("text", "golden")
    redone = with_extracted_text(pages)
    mismatches = redone.where(~F.col("golden").eqNullSafe(F.col("text"))).count()
    assert mismatches == 0


def test_extract_deterministic_across_runs(spark):
    a = fixtures.gen_pages(spark, 40).select("url", "text")
    b = fixtures.gen_pages(spark, 40).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _extract_text_bytes_spec(html: bytes | None) -> str | None:
    """The regex-sub reference spec (pre-r7 implementation) the fast
    string-op path in extract.py must match byte-for-byte on ANY input."""
    import html as _htmlmod

    from kgspark.extract import _RE_BLOCK, _RE_DROP, _RE_NL, _RE_SPACES, _RE_TAG

    if html is None:
        return None
    raw = _RE_DROP.sub(b" ", html)
    raw = _RE_BLOCK.sub(b"\n", raw)
    raw = _RE_TAG.sub(b" ", raw)
    text = raw.decode("utf-8", errors="replace")
    text = _htmlmod.unescape(text)
    text = _RE_SPACES.sub(" ", text)
    text = _RE_NL.sub("\n", text)
    return text.strip()


def test_extract_matches_regex_spec_adversarial():
    """r7 fast whitespace path == the frozen regex spec, byte-for-byte,
    including unicode whitespace (&nbsp; -> \\xa0, \\u2003, \\x85, \\x1c),
    control whitespace, and pathological run lengths."""
    import random

    fixed = [
        b"",
        b"a  b\tc\rd\x0be\x0cf",
        b"a \t \r\n \t b",
        b"\n\n\n",
        b"  \n  ",
        b"x" + b" " * 5000 + b"y",
        b"<p>a&nbsp;b</p><p>&#8195;c</p>",  # \xa0 and  
        "a\xa0\nb".encode(),
        "a\x85b\x1c\nc".encode(),  # NEL + FS: unicode-\s but not ASCII-horiz
        "word line para \n\xa0 tail".encode(),
        b"<div>A</div>\t<br>B<br/>\rC",
        b"&amp;&lt;&gt;&copy;&nbsp;&#10;&#9;",
    ]
    for raw in fixed:
        assert extract_text_bytes(raw) == _extract_text_bytes_spec(raw), raw

    rng = random.Random(7)
    alphabet = [
        " ", " ", "\t", "\r", "\f", "\v", "\n", "\n", "\xa0", " ",
        "\x85", "\x1c", "a", "b", "Z", ".", "&", "<p>", "</p>", "<br>",
        "&nbsp;", "&amp;",
    ]
    for _ in range(400):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        raw = s.encode("utf-8")
        assert extract_text_bytes(raw) == _extract_text_bytes_spec(raw), repr(s)
