"""Training-data ops: dedup family, similarity search, text stats,
multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.ops import dedup, multimodal, simsearch, textstats


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "spark engines about completely different content"),  # shuffled 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark)).collect()
    groups = {r["canonical_id"]: r["n_dups"] for r in out}
    assert groups[1] == 2  # docs 1+2 collapse
    assert groups[3] == 1


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(_docs(spark), shingle_n=2).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    # near-dup 1~3 should usually collide on some band; exact dup must
    assert all(a < b for a, b in pairs)


def test_minhash_fast_finds_exact_dups(spark):
    """The hard contract of MinHash-LSH: identical texts ALWAYS collide
    (all bands equal) and emitted pairs are ordered. Checked on the parquet
    fixture corpus, which carries real exact-dup structure."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # plant exact duplicates: copies of the first 25 docs under new ids
    dups = base.where("doc_id < 25").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups)
    want = {(i, i + 100000) for i in range(25)}
    got = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert want <= got  # every exact-dup pair is retrieved
    assert all(a < b for a, b in got)


def test_bucket_pairs_matches_self_join(spark):
    """`bucket_pairs` equals the band-key self-join it replaces: the
    distinct (x, y) member pairs, x's id < y's id, of every (band,
    band_key) bucket, payload carried. Pairs collide in several bands,
    band 3 is all singleton buckets, and buckets of 2 to 5 members mix."""
    ids = spark.range(120).select(
        F.struct(
            F.col("id"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("p"),
            F.array(F.col("id") % 7, F.col("id") % 3).alias("arr"),
        ).alias("m"),
        F.array(
            F.floor(F.col("id") / 2), F.col("id") % 25, F.floor(F.col("id") / 2) + 1000,
            F.col("id"),
        ).alias("keys"),
    )
    banded = ids.select("m", F.posexplode("keys").alias("band", "band_key"))
    left = banded.select("band", "band_key", F.col("m").alias("x"))
    right = banded.select("band", "band_key", F.col("m").alias("y"))
    want = (
        left.join(right, ["band", "band_key"]).where("x.id < y.id").select("x", "y").distinct()
    )

    def key(r):
        return tuple((m["id"], m["p"], tuple(m["arr"])) for m in (r["x"], r["y"]))

    got = [key(r) for r in dedup.bucket_pairs(banded).collect()]
    assert len(got) == len(set(got))  # each pair once, however many bands it shares
    assert set(got) == {key(r) for r in want.collect()}
    # (0, 1) collides in bands 0 and 2; band 3 alone pairs nothing
    assert ((0, "p0", (0, 0)), (1, "p1", (1, 1))) in set(got)
    # 60 pairs from id // 2; 230 from id % 25 (20 buckets of 5, 5 of 4)
    assert len(got) == 60 + 230


def test_ngram_jaccard(spark):
    out = dedup.ngram_jaccard_pairs(_docs(spark), shingle_n=2, threshold=0.3).collect()
    pairs = {(r["a"], r["b"]): r["jaccard_e6"] for r in out}
    assert pairs[(1, 2)] == 1_000_000
    assert (1, 3) in pairs and pairs[(1, 3)] >= 300_000


def test_simhash_identical_docs_same_hash(spark):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(_docs(spark), n_bits=16).collect()}
    assert sig[1] == sig[2]
    assert sig[4] == sig[5]  # simhash is order-insensitive over distinct tokens
    assert 0 <= sig[1] < (1 << 16)


def test_simhash_hamming_banding_has_exact_recall(spark):
    """With SIMHASH_K < SIMHASH_BANDS the nibble-band equi-join must return
    EXACTLY the brute-force Hamming<=k pair set (pigeonhole guarantee, not
    approx)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    sig = dedup.simhash_bits(docs, n_bits=16).collect()
    brute = set()
    for i, ra in enumerate(sig):
        for rb in sig[i + 1:]:
            a, b = sorted([ra["doc_id"], rb["doc_id"]])
            if bin(ra["simhash"] ^ rb["simhash"]).count("1") <= 3:
                brute.add((a, b))
    banded = {
        (r["a"], r["b"])
        for r in dedup.simhash_hamming_pairs(docs).collect()
    }
    assert banded == brute
    assert len(brute) > 0  # fixture actually exercises the path


def test_simhash_hamming_60bit_production_width(spark):
    """Same exact-recall pigeonhole at the production width (60 bits,
    15-bit bands): planted exact copies (hamming 0) and one-token edits
    (small hamming) must come back; banded set == brute force."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    copies = base.where("doc_id < 15").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    edited = base.where("doc_id >= 15 AND doc_id < 30").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzextra")).alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(copies).unionByName(edited)
    sig = dedup.simhash_bits(docs, n_bits=60).collect()
    brute = set()
    for i, ra in enumerate(sig):
        for rb in sig[i + 1:]:
            a, b = sorted([ra["doc_id"], rb["doc_id"]])
            if bin(ra["simhash"] ^ rb["simhash"]).count("1") <= 3:
                brute.add((a, b))
    banded = {
        (r["a"], r["b"])
        for r in dedup.simhash_hamming_pairs(docs, n_bits=60).collect()
    }
    assert banded == brute
    assert {(i, i + 100000) for i in range(15)} <= banded  # exact copies found
    # tight ball: the 60-bit Hamming<=3 set is sparse, nothing like the
    # all-pairs blowup the 16-bit toy width produces on a similar corpus
    n = 90
    assert len(banded) < n * (n - 1) // 8


def test_fingerprint_order_insensitive(spark):
    fp = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(_docs(spark)).collect()}
    assert fp[4] == fp[5]
    assert fp[1] != fp[3]


def test_token_stats_and_quality(spark):
    st = {r["doc_id"]: r for r in textstats.token_stats(_docs(spark)).collect()}
    assert st[1]["n_tokens"] == 9
    q = {r["doc_id"]: r for r in textstats.quality_score(_docs(spark)).collect()}
    assert 0 <= q[1]["quality_e6"] <= 1_000_000
    assert q[1]["stopword_ratio_e6"] > 0  # contains 'the' twice


def test_langid(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog was here"), (2, "le chat et la mer est belle"),
         (3, "zzz qqq xxx")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.langid_heuristic(docs).collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "und"


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, -0.1, 0.0, 0.0]),  # same SRP bucket as 1 (dim-1 sign bit: 0 is not > 0)
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    v = _vectors(spark)
    q = v.where("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = simsearch.brute_force_topk(v, q, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 3]


def test_embedding_dup_pairs(spark):
    # 5 is within cosine 0.9 of 1 and 2, but its dim-1 sign bit puts it in
    # another SRP bucket, so the blocked self-join never compares them
    near = spark.createDataFrame([(5, [1.0, 0.1, 0.0, 0.0])], "vec_id long, embedding array<float>")
    out = simsearch.embedding_dup_pairs(_vectors(spark).union(near), threshold=0.9).collect()
    assert {(r["a"], r["b"]) for r in out} == {(1, 2)}


def _testdata_embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_multimodal_decode_plumbing(spark):
    media = multimodal.gen_media_fixture(spark, 30)
    decoded = multimodal.decode_images(media.where("kind = 'image'"))
    rows = decoded.collect()
    assert all(r["decode_ok"] for r in rows)
    assert all(r["width"] >= 64 and r["n_channels"] in (1, 3, 4) for r in rows)
    # header parse recovers the exact dims the fixture encoded
    want = {
        f"m{i:04d}": (64 + 8 * (i % 50), 64 + 8 * ((i * 7) % 50))
        for i in range(30)
        if i % 3
    }
    assert {r["media_id"]: (r["width"], r["height"]) for r in rows} == want
    # stdlib-decodable formats report true pixel luma; the rest the proxy
    srcs = {r["media_id"]: r["luma_src"] for r in rows}
    for i in range(30):
        if i % 3:
            expect = "pixel" if i % 4 in (0, 3) else "proxy"  # png/bmp vs gif/jpeg
            assert srcs[f"m{i:04d}"] == expect, i


def test_image_header_parse_formats():
    for fmt, ch in [("png", 3), ("gif", 3), ("jpeg", 3), ("bmp", 3)]:
        b = multimodal.make_image_bytes(fmt, 320, 200, b"pixpixpix" * 4)
        assert multimodal.parse_image_header(b) == (320, 200, ch), fmt
    # non-image payloads are flagged, not crashed
    assert multimodal.parse_image_header(b"not an image at all, promise") is None
    assert multimodal.decode_image_header(None) == (0, 0, 0, 0.0, False, "none")
    assert multimodal.decode_image_header(b"\xff\xd8 truncated")[4] is False


def test_jpeg_fill_bytes_and_sos():
    """JPEG parsing: 0xFF fill/padding runs before a marker are legal and
    must be skipped, and the segment walk must stop at SOS/EOI instead of
    wandering into entropy-coded data (round-3 advice)."""
    import struct

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 8 + 3 * 3) + bytes([8])
        + struct.pack(">HH", 200, 320) + bytes([3])
    )
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    # fill run between segments (and right after SOI)
    b = b"\xff\xd8" + b"\xff\xff" + app0 + b"\xff\xff\xff" + sof0
    assert multimodal.parse_image_header(b + b"x" * 16) == (320, 200, 3)
    # SOS before any SOFn: clean None, no walk into entropy-coded bytes
    sos = b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
    entropy = b"\x12\xff\x00\x34" * 8  # 0xFF00 byte-stuffing lookalikes
    assert multimodal.parse_image_header(b"\xff\xd8" + sos + entropy) is None
    # EOI terminates the walk
    assert multimodal.parse_image_header(b"\xff\xd8\xff\xd9" + b"z" * 24) is None


def test_minhash_fast_null_text_no_pair_explosion(spark):
    """Docs with null text (null signatures) must not collapse into one
    band bucket — unfiltered, null signatures would all share one band key
    and emit O(n^2) spurious pairs (round-3 advice)."""
    rows = [("d0", "alpha beta gamma delta epsilon zeta"),
            ("d1", "alpha beta gamma delta epsilon zeta"),
            ("d2", None), ("d3", None), ("d4", None)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert pairs == {("d0", "d1")}


def test_png_bmp_real_pixel_luma():
    """PNG (all 5 scanline filters) and BMP pixel decodes recover the exact
    Rec.601 mean luma of known pixel data — no proxy involved."""
    import numpy as np

    # uniform color: luma is exact and filter-independent
    px = np.zeros((5, 7, 3), np.uint8)
    px[:, :] = (100, 150, 200)
    want = round((0.299 * 100 + 0.587 * 150 + 0.114 * 200) / 255.0, 6)
    for ft in range(5):
        b = multimodal.make_png_bytes(7, 5, px, filter_type=ft)
        assert multimodal.decode_image_header(b) == (7, 5, 3, want, True, "pixel"), ft
    bmp = multimodal.make_bmp_bytes(7, 5, px)
    assert multimodal.decode_image_header(bmp) == (7, 5, 3, want, True, "pixel")

    # gradient: every filter type reconstructs the same pixels as BMP raw
    grad = (np.arange(11 * 6 * 3, dtype=np.int64) * 13 % 256).astype(np.uint8)
    grad = grad.reshape(6, 11, 3)
    ref = multimodal.decode_image_header(multimodal.make_bmp_bytes(11, 6, grad))
    for ft in range(5):
        got = multimodal.decode_image_header(
            multimodal.make_png_bytes(11, 6, grad, filter_type=ft)
        )
        assert got == ref, ft

    # header-only PNG (no IDAT) falls back to header dims + proxy luma
    hdr_only = multimodal.make_image_bytes("png", 320, 200, b"somefiller" * 3)
    w, h, ch, _, ok, src = multimodal.decode_image_header(hdr_only)
    assert (w, h, ok, src) == (320, 200, True, "proxy")


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe = n_centroids degenerates IVF to exact brute force: every
    inverted list is probed, every vector is a candidate (each vector lives
    in exactly one list), and scoring/ordering are identical."""
    emb = _testdata_embeddings(spark)
    q = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = emb.where("vec_id < 8").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in simsearch.brute_force_topk(emb, q, k=5).collect()
    }
    full = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in simsearch.ivf_topk(emb, q, cents, nprobe=8).collect()
    }
    assert full == truth


def test_ivf_partial_probe_recall(spark):
    """nprobe=2 of 8 lists scans ~1/4 of the corpus yet must keep a useful
    fraction of the true top-5 — the recall/cost contract of the scale
    path (fixture vectors are near-random: the hardest regime for coarse
    quantization)."""
    emb = _testdata_embeddings(spark)
    q = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = emb.where("vec_id < 8").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in simsearch.brute_force_topk(emb, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in simsearch.ivf_topk(emb, q, cents, nprobe=2).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25, recall
    # more probes -> recall can only grow (candidate sets are nested)
    got4 = {
        (r["query_id"], r["vec_id"])
        for r in simsearch.ivf_topk(emb, q, cents, nprobe=4).collect()
    }
    recall4 = len(truth & got4) / len(truth)
    assert recall4 >= recall - 1e-9, (recall, recall4)


def test_minhash_blank_text_no_pair_explosion(spark):
    """Whitespace-only docs collapse to ONE signature (every md5 shingle
    is ""), so left in they pair up quadratically exactly like the round-3
    null case — blank docs must carry no signature at all (round-4
    advice)."""
    rows = [("d0", "alpha beta gamma delta epsilon zeta"),
            ("d1", "alpha beta gamma delta epsilon zeta"),
            ("d2", ""), ("d3", "   "), ("d4", " \t "), ("d5", None)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert pairs == {("d0", "d1")}


def test_png_decompression_bomb_bounded():
    """A crafted IDAT that inflates far past the IHDR-declared size must be
    rejected without materializing the blown-up buffer (bounded inflate,
    round-4 advice); absurd declared dimensions bail before allocating."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # declares 2x2 RGB (expected raw = 2*(1+6) = 14 bytes) but the IDAT
    # stream inflates to 8 MiB of zeros from ~8 KiB compressed
    ihdr = struct.pack(">II", 2, 2) + bytes([8, 2, 0, 0, 0])
    bomb = sig + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * (8 << 20))
    ) + chunk(b"IEND", b"")
    assert multimodal.decode_png_pixels(bomb) is None
    # ...and the decode surface degrades to header+proxy, not a crash
    w, h, ch, _, ok, src = multimodal.decode_image_header(bomb)
    assert (w, h, ok, src) == (2, 2, True, "proxy")
    # absurd-header guard: declared scanline volume > 256 MiB bails before
    # the inflate (and before the unfilter allocation)
    big_ihdr = struct.pack(">II", 1 << 16, 1 << 16) + bytes([8, 2, 0, 0, 0])
    big = sig + chunk(b"IHDR", big_ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 16)
    ) + chunk(b"IEND", b"")
    assert multimodal.decode_png_pixels(big) is None
    # an honest payload of the same shape still pixel-decodes (guard is
    # not over-broad)
    import numpy as np

    px = np.full((2, 2, 3), 7, np.uint8)
    good = multimodal.make_png_bytes(2, 2, px)
    assert multimodal.decode_png_pixels(good) is not None


def test_span_dedup_pinned(spark):
    """Global chunk dedup keeps only the first corpus-wide occurrence of
    each chunk (first = lowest (doc_id, chunk_idx)); reassembly preserves
    chunk order."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),       # chunks (k=2): 'a b', 'c d'
            (2, "a b c d"),       # exact copy -> nothing survives
            (3, "c d x y"),       # 'c d' dropped, 'x y' kept
            (4, "p q p q"),       # chunk 0 kept, chunk 1 is its own dup
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r for r in dedup.span_dedup(docs, chunk_tokens=2).collect()
    }
    assert rows[1]["n_chunks"] == 2 and rows[1]["n_kept"] == 2
    assert rows[1]["text_deduped"] == "a b c d"
    assert rows[2]["n_kept"] == 0 and rows[2]["text_deduped"] == ""
    assert rows[3]["n_kept"] == 1 and rows[3]["text_deduped"] == "x y"
    # within-doc repeat: first occurrence wins, second drops
    assert rows[4]["n_kept"] == 1 and rows[4]["text_deduped"] == "p q"


def test_span_dedup_ragged_tail_chunk(spark):
    """A truncated final chunk is its own span: it does not collide with
    the full-width chunk sharing its prefix."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r for r in dedup.span_dedup(docs, chunk_tokens=3).collect()
    }
    assert rows[1]["text_deduped"] == "a b c"
    assert rows[2]["n_kept"] == 1 and rows[2]["text_deduped"] == "a b"


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C merge into ONE cluster even when A,C are farther
    apart; exactly one survivor (the lowest id) per cluster; unrelated
    docs ride through as kept singletons."""
    seq = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, seq),                                  # A
            (2, " ".join(f"t{i}" for i in range(16))), # B = 80% of A
            (3, " ".join(f"t{i}" for i in range(13))), # C = 80% of B
            (9, "unrelated content about spark engines entirely"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.near_dup_clusters(docs).collect()}
    assert rows[1]["component"] == rows[2]["component"] == rows[3]["component"] == 1
    assert rows[1]["cluster_size"] == 3
    assert rows[1]["keep"] and not rows[2]["keep"] and not rows[3]["keep"]
    assert rows[9]["component"] == 9 and rows[9]["cluster_size"] == 1 and rows[9]["keep"]


def test_ngrams_zip_form_matches_transform_spec(spark):
    """r7 chained-zip_with _ngrams == the transform+slice+array_join spec,
    including short docs, empty arrays, null tokens, and n=2,3,5."""
    from kgspark.ops.webtext import _ngrams

    def spec(toks, n):
        def join_at(i):
            return F.array_join(F.slice(toks, i + 1, n), " ")
        return F.when(
            F.size(toks) >= n,
            F.transform(F.sequence(F.lit(0), F.size(toks) - n), join_at),
        ).otherwise(F.array().cast("array<string>"))

    rows = [
        (1, []), (2, ["a"]), (3, ["a", "b"]), (4, ["a", "b", "c"]),
        (5, ["x", "y", "z", "w", "v"]), (6, ["t"] * 12),
        (7, "some longer token stream with repeated token stream".split()),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    for n in (2, 3, 5):
        got = df.select("doc_id", _ngrams(F.col("toks"), n).alias("g")).orderBy("doc_id").collect()
        want = df.select("doc_id", spec(F.col("toks"), n).alias("g")).orderBy("doc_id").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], n
