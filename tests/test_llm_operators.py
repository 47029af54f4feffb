"""Unit tests for the LLM-pipeline operators on controlled fixtures
(planted duplicates with known ground truth) plus plumbing checks for
similarity search and multimodal columns."""

import pytest
from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
    dedup as D,
    multimodal as M,
    similarity as S,
    text as TX,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog near the river bank!!!"),  # case/punct dup
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # near dup (+1 word)
    (5, "completely different content about spark query engines and shuffles here"),
    (6, "a totally unrelated recipe for sourdough bread with flour water salt"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    groups = {r["keeper_id"]: r["n_docs"] for r in D.exact_dedup_groups(docs_df).collect()}
    assert groups[1] == 2  # docs 1,2 identical
    assert groups.get(3) == 1  # punctuation differs -> not exact


def test_normalized_dedup(spark, docs_df):
    groups = {r["keeper_id"]: r["n_docs"] for r in D.normalized_dedup_groups(docs_df).collect()}
    assert groups[1] == 3  # 1,2,3 collapse after normalization


def test_ngram_jaccard_pairs(spark, docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             D.ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0  # normalization inside shingling
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.8  # near dup
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_lsh_pairs_matches_exact_for_planted(spark, docs_df):
    got = {(r["doc_a"], r["doc_b"]) for r in
           D.minhash_lsh_pairs(docs_df, threshold=0.5).collect()}
    # identical docs always collide in every band; near dup should too
    assert {(1, 2), (1, 3), (2, 3)} <= got
    assert not any(5 in p or 6 in p for p in got)


def test_minhash_xxhash_backend(spark, docs_df):
    got = {(r["doc_a"], r["doc_b"]) for r in
           D.minhash_lsh_pairs(docs_df, threshold=0.5, token_ids="xxhash64").collect()}
    assert {(1, 2), (1, 3)} <= got


def test_simhash_pairs(spark, docs_df):
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           D.simhash_pairs(docs_df, max_hamming=10).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 0  # same token set after normalization
    # banding must be lossless at any threshold: compute the true
    # hamming(1,4) from signatures, then require the pair at that cutoff
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs_df).collect()}
    true_ham = bin(sigs[1] ^ sigs[4]).count("1")
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             D.simhash_pairs(docs_df, max_hamming=true_ham).collect()}
    assert found[(1, 4)] == true_ham
    strict = {(r["doc_a"], r["doc_b"]) for r in
              D.simhash_pairs(docs_df, max_hamming=3).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= strict


def test_embedding_pairs_and_topk(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
             D.embedding_cosine_pairs_brute(df, threshold=0.9).collect()}
    assert list(pairs) == [(1, 2)]
    assert pairs[(1, 2)] > 0.99

    topk = S.cosine_topk(df, df.filter(F.col("vec_id") == 1), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(topk, key=lambda r: r["rnk"])] == [2, 3]


def test_lsh_recall_against_bruteforce(spark, sf_dir):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, queries, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk_lsh(emb, queries, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    # near-random 64-dim vectors are the worst case for hyperplane
    # LSH (cosines concentrate near 0); exactness of the bucketing is
    # separately proven by the ann_lsh_topk DuckDB oracle — this floor
    # guards gross bucketing breakage at the measured-recall level.
    assert recall > 0.2, f"recall={recall}"
    # the multiprobe dial must buy recall, not lose it
    wide = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_lsh(emb, queries, k=3, multiprobe=2).collect()
    }
    recall2 = len(exact & wide) / len(exact)
    assert recall2 >= recall, f"multiprobe=2 recall {recall2} < {recall}"
    assert recall2 > 0.3, f"recall2={recall2}"


def test_ivf_recall_and_structure(spark, sf_dir):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, queries, k=3).collect()}
    approx = S.cosine_topk_ivf(emb, queries, k=3, n_centroids=8, nprobe=4).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact & got) / len(exact)
    assert recall > 0.6, f"recall={recall}"
    # every query returns at most k, ranks are 1..k without gaps
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))

    # centroid refinement yields one vector of the right dimension each
    cents = S.ivf_centroids(emb, n_centroids=8, dim=64).collect()
    assert len(cents) == 8
    assert all(len(c["cv"]) == 64 for c in cents)


def test_langid_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog are in the house of a friend"),
            (2, "der hund und die katze ist nicht das problem"),
            (3, "el problema es que los gatos y una casa"),
            (4, "xyzzy qwerty"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["predicted_lang"] for r in TX.langid(df).collect()}
    assert langs == {1: "en", 2: "de", 3: "es", 4: "und"}

    q = {r["doc_id"]: r for r in TX.quality_score(df).collect()}
    assert q[1]["stop_ratio"] > q[4]["stop_ratio"]
    assert 0.0 <= q[1]["quality_score"] <= 1.0


def test_token_counts_and_fingerprint(spark, docs_df):
    t = {r["doc_id"]: r for r in TX.token_counts(docs_df).collect()}
    assert t[1]["ws_tokens"] == 13
    assert t[3]["re_tokens"] == t[1]["re_tokens"] + 3  # the three '!'
    fp = {r["doc_id"]: r for r in TX.fingerprint(docs_df).collect()}
    assert fp[1]["fp_md5"] == fp[2]["fp_md5"] == fp[3]["fp_md5"]
    assert fp[1]["fp_rolling"] == fp[3]["fp_rolling"]
    assert fp[1]["fp_md5"] != fp[4]["fp_md5"]
    # rolling hash is order-sensitive
    shuffled = spark.createDataFrame(
        [(7, "dog lazy the over jumps fox brown quick the bank river the near")],
        "doc_id long, text string",
    )
    assert TX.fingerprint(shuffled).collect()[0]["fp_rolling"] != fp[1]["fp_rolling"]


def test_multimodal_plumbing(spark, docs_df):
    media = M.attach_media(docs_df)
    assert dict(media.dtypes)["content"] == "binary"
    meta = M.fake_decode_meta(media)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[1]["byte_len"] == len(DOCS[0][1].encode())
    assert 1 <= rows[1]["fake_width"] <= 640
    assert rows[1]["sha256"] == rows[2]["sha256"]  # same content
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG")


def test_edit_distance_blocking_is_lossless(spark):
    """The blocked plan must return EXACTLY the all-pairs result,
    including the adversarial cases: both-short pairs with zero
    shared bigrams, mixed short/long, repeated bigrams, 1-char."""
    import itertools

    names = [
        "abcdefg", "xyzdefg",          # short pair, 3 edits, shares grams
        "aaaaaaa", "bbbaaaa",          # short pair
        "ab", "cd",                    # tiny: dist 2, ZERO shared bigrams
        "a", "b",                      # 1-char: no bigrams at all
        "red plate", "hot plate", "red plates",
        "small widget", "small widgets",
        "banana", "bananana",          # repeated bigrams (multiset occ)
        "completely different string",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in D.edit_distance_pairs(df, "name", "name").collect()
    }
    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(names), 2)
        if lev(a, b) <= 3
    }
    assert got == want


def test_multimodal_frames_resize_embed(spark, docs_df):
    media = M.attach_media(docs_df)
    frames = M.frame_sample(media).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    blens = {r["doc_id"]: r["byte_len"] for r in media.collect()}
    for doc_id, rows in by_doc.items():
        n = min(8, blens[doc_id] // 200 + 1)
        assert sorted(r["frame_idx"] for r in rows) == list(range(n))
        assert all(0 <= r["byte_offset"] < blens[doc_id] for r in rows)

    rz = M.resize_meta(M.fake_decode_meta(media)).collect()
    for r in rz:
        assert max(r["dst_width"], r["dst_height"]) <= 256
        # aspect preserved within integer truncation
        if max(r["src_width"], r["src_height"]) <= 256:
            assert (r["dst_width"], r["dst_height"]) == (
                r["src_width"], r["src_height"]
            )

    emb = {r["doc_id"]: r["embedding"] for r in M.fake_feature_extract(media).collect()}
    assert all(len(v) == 8 and all(0.0 <= x <= 1.0 for x in v) for v in emb.values())
    assert emb[1] == emb[2]  # identical content -> identical features


def test_connected_components_chain_and_cliques(spark):
    # chain 1-2-3-4-5 (diameter 4, multiple propagation rounds),
    # clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.id, r.component_id)
        for r in D.connected_components(pairs).collect()
    }
    want = {(i, 1) for i in (1, 2, 3, 4, 5)}
    want |= {(i, 10) for i in (10, 11, 12)}
    want |= {(i, 20) for i in (20, 21)}
    assert got == want


def test_connected_components_reversed_edges(spark):
    # labels must flow against edge direction too (symmetric closure)
    pairs = spark.createDataFrame([(5, 4), (4, 3), (3, 1)], "doc_a long, doc_b long")
    got = {(r.id, r.component_id) for r in D.connected_components(pairs).collect()}
    assert got == {(1, 1), (3, 1), (4, 1), (5, 1)}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = D.connected_components(pairs)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "component_id"]


def test_image_codec_roundtrip_and_decode_query():
    """Pure-Python image codec: encode->decode round-trips geometry
    and the pixel checksum for P6/P5/BMP, including BMP widths that
    force nonzero row padding and negative-height (top-down) BMPs;
    compressed magics stay a clearly-raised seam."""
    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_pgm,
        encode_ppm,
    )

    for w, h in [(2, 2), (3, 5), (5, 3), (7, 1), (1, 7), (4, 4)]:
        pix_rgb = bytes((7 * i + 3) % 256 for i in range(3 * w * h))
        pix_gray = bytes((7 * i + 3) % 256 for i in range(w * h))
        want_rgb, want_gray = sum(pix_rgb), sum(pix_gray)

        d = decode_image(encode_ppm(w, h, pix_rgb))
        assert (d["img_format"], d["width"], d["height"], d["channels"]) == ("ppm", w, h, 3)
        assert d["pixel_sum"] == want_rgb

        d = decode_image(encode_pgm(w, h, pix_gray))
        assert (d["img_format"], d["channels"], d["pixel_sum"]) == ("pgm", 1, want_gray)

        # w=3,5,7 -> row padding 3,1,3: the padding bytes must NOT
        # land in the checksum
        d = decode_image(encode_bmp(w, h, pix_rgb))
        assert (d["img_format"], d["width"], d["height"]) == ("bmp", w, h)
        assert d["pixel_sum"] == want_rgb

    # PNM comments + arbitrary whitespace per the netpbm spec
    pix = bytes(range(12))
    with_comment = b"P6\n# a comment\n 2\t2 \n255\n" + pix
    d = decode_image(with_comment)
    assert (d["width"], d["height"], d["pixel_sum"]) == (2, 2, sum(pix))

    # top-down BMP (negative height) decodes with positive geometry
    import struct

    bmp = bytearray(encode_bmp(3, 2, bytes(18)))
    hneg = struct.pack("<i", -2)
    bmp[22:26] = hneg
    # rows are order-invariant for the checksum, so only geometry matters
    d = decode_image(bytes(bmp))
    assert (d["width"], d["height"]) == (3, 2)

    # PNG (round 6) and JPEG (round 7) are real codecs: a truncated
    # stream is a PARSE error, not an unimplemented format
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0JFIF")


def test_png_codec_round_trip_all_filters():
    """The stdlib-only PNG codec reconstructs exact samples for every
    (filter type x channel layout) combination, checks chunk CRCs,
    and scopes out interlaced/paletted/16-bit cleanly."""
    import struct
    import zlib

    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _png_chunk,
        decode_image,
        decode_png,
        encode_png,
    )

    # every filter type against every channel count, plus the
    # rotating-filter mix the synth corpus uses
    for ch in (1, 3, 4):
        for f in range(5):
            w, h = 5, 6
            pix = bytes((13 * i + f + ch) % 256 for i in range(ch * w * h))
            d = decode_png(encode_png(w, h, pix, ch,
                                      filter_for_row=lambda r, f=f: f))
            assert d == {"img_format": "png", "width": w, "height": h,
                         "channels": ch, "bit_depth": 8,
                         "pixel_sum": sum(pix)}, (ch, f)
        pix = bytes((11 * i + 7) % 256 for i in range(ch * 4 * 7))
        d = decode_image(encode_png(4, 7, pix, ch))  # default r%5 rotation
        assert d["pixel_sum"] == sum(pix)

    # independent cross-check: filter-0 IDAT must inflate to the raw
    # scanlines verbatim (0x00 + row bytes)
    w, h, ch = 5, 4, 3
    pix = bytes(range(60))
    blob = encode_png(w, h, pix, ch, filter_for_row=lambda r: 0)
    pos, idat = 8, b""
    while pos < len(blob):
        (ln,) = struct.unpack_from(">I", blob, pos)
        if blob[pos + 4 : pos + 8] == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    assert zlib.decompress(idat) == b"".join(
        b"\x00" + pix[15 * r : 15 * (r + 1)] for r in range(4)
    )

    # corrupted chunk CRC is rejected
    bad = bytearray(blob)
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    # out-of-scope headers raise NotImplementedError, not garbage
    # (paletted at all depths, Adam7, 16-bit, and gray+alpha are REAL
    # as of r9 — tested separately; sub-8 GRAYSCALE and undefined
    # color types remain out)
    sig = b"\x89PNG\r\n\x1a\n"
    for depth, ctype, interlace in [(4, 0, 0), (8, 5, 0), (2, 0, 1)]:
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ctype, 0, 0, interlace)
        with pytest.raises(NotImplementedError):
            decode_png(sig + _png_chunk(b"IHDR", ihdr))

    # EVERY truncation point is a parse error (ValueError), never a
    # struct.error from the CRC unpack or a raw zlib.error — mid-body,
    # mid-header, and mid-IDAT cuts all included
    whole = encode_png(4, 3, bytes(range(36)), 3)
    for cut in range(len(whole)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_png(whole[:cut])


def test_png_palette_round_trip_and_errors():
    """8-bit paletted PNG: unfilter at bpp=1 then LUT-expand to RGB.
    Every filter type round-trips; missing PLTE, out-of-range index,
    bad PLTE length, and tRNS all fail loud."""
    import struct

    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _png_chunk,
        decode_image,
        decode_png,
        encode_png_palette,
    )

    pal = [(10, 20, 30), (200, 0, 100), (5, 5, 5), (255, 128, 64)]
    for f in range(5):
        w, h = 5, 6
        idx = bytes((3 * i + f) % len(pal) for i in range(w * h))
        blob = encode_png_palette(w, h, idx, pal,
                                  filter_for_row=lambda r, f=f: f)
        expected = sum(sum(pal[i]) for i in idx)
        d = decode_png(blob)
        assert d == {"img_format": "png", "width": w, "height": h,
                     "channels": 3, "bit_depth": 8,
                     "pixel_sum": expected}, f
        # dispatcher sees the same thing
        assert decode_image(blob)["pixel_sum"] == expected
        # want_pixels yields the EXPANDED RGB stream in row-major order
        px = decode_png(blob, want_pixels=True)["pixels"]
        assert px == b"".join(bytes(pal[i]) for i in idx)

    # truncation sweep: every prefix is a loud parse error
    blob = encode_png_palette(3, 3, bytes([0, 1, 2] * 3), pal)
    for cut in range(len(blob)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_png(blob[:cut])

    def chunks_of(b):
        pos, out = 8, []
        while pos + 8 <= len(b):
            (ln,) = struct.unpack_from(">I", b, pos)
            out.append((b[pos + 4 : pos + 8], b[pos + 8 : pos + 8 + ln]))
            pos += 12 + ln
        return out

    sig = b"\x89PNG\r\n\x1a\n"
    parts = dict(chunks_of(blob))
    # missing PLTE
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(sig + _png_chunk(b"IHDR", parts[b"IHDR"])
                   + _png_chunk(b"IDAT", parts[b"IDAT"])
                   + _png_chunk(b"IEND", b""))
    # PLTE length not a multiple of 3
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(sig + _png_chunk(b"IHDR", parts[b"IHDR"])
                   + _png_chunk(b"PLTE", b"\x01\x02")
                   + _png_chunk(b"IDAT", parts[b"IDAT"])
                   + _png_chunk(b"IEND", b""))
    # index beyond the palette
    small = b"".join(bytes(c) for c in pal[:2])
    with pytest.raises(ValueError, match="index"):
        decode_png(sig + _png_chunk(b"IHDR", parts[b"IHDR"])
                   + _png_chunk(b"PLTE", small)
                   + _png_chunk(b"IDAT", parts[b"IDAT"])
                   + _png_chunk(b"IEND", b""))
    # paletted tRNS decodes to RGBA since r9 (alpha never silently
    # dropped): entry 0 gets alpha 0x80, the rest opaque 255
    plain = (sig + _png_chunk(b"IHDR", parts[b"IHDR"])
             + _png_chunk(b"PLTE", parts[b"PLTE"])
             + _png_chunk(b"IDAT", parts[b"IDAT"])
             + _png_chunk(b"IEND", b""))
    dt = decode_png(sig + _png_chunk(b"IHDR", parts[b"IHDR"])
                    + _png_chunk(b"PLTE", parts[b"PLTE"])
                    + _png_chunk(b"tRNS", b"\x80")
                    + _png_chunk(b"IDAT", parts[b"IDAT"])
                    + _png_chunk(b"IEND", b""))
    base = decode_png(plain, want_pixels=True)
    # recover the index stream from the expanded RGB (palette entries
    # are distinct triples in this fixture)
    pal_map = {bytes(c): i for i, c in enumerate(pal)}
    rgb = base["pixels"]
    idxs = [pal_map[rgb[3 * i : 3 * i + 3]] for i in range(len(rgb) // 3)]
    n0 = sum(1 for i in idxs if i == 0)
    assert dt["channels"] == 4
    assert dt["pixel_sum"] == (
        base["pixel_sum"] + 0x80 * n0 + 255 * (len(idxs) - n0)
    )
    # encoder-side validation
    with pytest.raises(ValueError):
        encode_png_palette(2, 2, bytes([0, 1, 2, 9]), pal)  # idx 9 OOB
    with pytest.raises(ValueError):
        encode_png_palette(2, 2, bytes(4), [])  # empty palette


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_detects_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@corp.example.org or 555-123-4567 ok"),
            (2, "server 192.168.1.200 answered and 10.0.0.1 timed out"),
            (3, "no personal data in this sentence at all"),
            (4, "two mails a@b.co and c.d@e.f.org here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.pii_scrub(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[1]["redacted_text"] == "reach me at [EMAIL] or [PHONE] ok"
    assert rows[2]["n_ips"] == 2 and "[IP]" in rows[2]["redacted_text"]
    assert "192.168" not in rows[2]["redacted_text"]
    assert rows[3]["has_pii"] is False
    assert rows[3]["redacted_text"] == "no personal data in this sentence at all"
    assert rows[4]["n_emails"] == 2


# ---------------------------------------------------------------------------
# Paragraph dedup + reassembly
# ---------------------------------------------------------------------------

def test_paragraph_dedup_drops_common_keeps_order(spark):
    boiler = "one two three four five"  # 5-word paragraphs below
    bodies = {
        1: "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        2: "kilo lima mike november oscar papa quebec romeo sierra tango",
        3: "uniform victor whiskey xray yankee zulu apple banana cherry date",
    }
    rows = [(i, f"{boiler} {b}") for i, b in bodies.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in TX.paragraph_dedup(df, para_words=5, min_docs=3).collect()
    }
    for i, body in bodies.items():
        # the shared header paragraph is dropped, the unique body
        # paragraphs survive in their original order
        assert out[i]["clean_text"] == body
        assert out[i]["n_paras_dropped"] == 1
        assert out[i]["n_paras_kept"] == 2


def test_paragraph_dedup_below_threshold_keeps_everything(spark):
    df = spark.createDataFrame(
        [(1, "shared header words here body one"), (2, "shared header words here body two")],
        "doc_id long, text string",
    )
    out = TX.paragraph_dedup(df, para_words=5, min_docs=3).collect()
    assert all(r["n_paras_dropped"] == 0 for r in out)


def test_paragraph_dedup_all_common_doc_empties(spark):
    df = spark.createDataFrame(
        [(i, "exactly five words right here") for i in range(1, 5)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.paragraph_dedup(df, para_words=5, min_docs=3).collect()}
    assert all(r["clean_text"] == "" and r["n_paras_kept"] == 0 for r in out.values())


# ---------------------------------------------------------------------------
# Containment + incremental probe
# ---------------------------------------------------------------------------

def test_containment_catches_embedded_doc_jaccard_misses(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import dedup as DD

    inner = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, inner), (2, f"{filler} {inner} {filler}"),
         (3, "completely unrelated text about something else entirely here")],
        "doc_id long, text string",
    )
    cont = DD.containment_pairs(df, threshold=0.9).collect()
    assert [(r["inner_doc"], r["outer_doc"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    # symmetric jaccard stays far below the near-dup cut for the pair
    jac = DD.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 2} for r in jac)


def test_incremental_probe_flags_only_new_vs_hist(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import dedup as DD

    base = "the quick brown fox jumps over the lazy dog by the river"
    hist = spark.createDataFrame(
        [(1, base), (2, "other historical content entirely different words here now")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base + " extra tail"),     # near-dup of hist 1
         (101, "fresh novel document with brand new vocabulary only")],
        "doc_id long, text string",
    )
    got = DD.minhash_lsh_probe(new, hist, threshold=0.5).collect()
    assert [(r["new_doc"], r["hist_doc"]) for r in got] == [(100, 1)]
    assert got[0]["jaccard"] >= 0.5


# ---------------------------------------------------------------------------
# WAV audio codec
# ---------------------------------------------------------------------------

def test_wav_decode_walks_riff_chunks():
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 100, -100, 32767, -32768, 5]
    blob = encode_wav(16000, samples)
    out = decode_wav(blob)
    assert out == {"sample_rate": 16000, "channels": 1, "bits": 16,
                   "n_samples": 6, "abs_sum": sum(abs(s) for s in samples)}
    # vendor chunk (odd size, word-aligned) between WAVE and fmt must
    # not derail the walk — real files carry LIST/INFO chunks
    vendor = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    patched = blob[:12] + vendor + blob[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav(patched)["abs_sum"] == out["abs_sum"]


def test_wav_decode_rejects_non_pcm():
    import struct

    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    blob = bytearray(encode_wav(8000, [1, 2, 3]))
    # flip audio_format (offset 20) to 85 (MP3) — must raise the seam
    blob[20:22] = struct.pack("<H", 85)
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(blob))
    with _pytest.raises(ValueError):
        decode_wav(b"RIFX not a wave")


def test_avi_decode_rejects_compressed_and_frame_mismatch():
    import struct

    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    frames = [bytes(range(24)) * 1 + bytes(12)]  # 3*w*h = 36 -> w=3,h=4? no
    w, h = 2, 3
    frames = [bytes((i * 5) % 256 for i in range(3 * w * h)) for _ in range(2)]
    blob = bytearray(encode_avi(w, h, frames))
    # patch strf biCompression (offset: find 'strf' chunk body + 16)
    off = bytes(blob).find(b"strf") + 8 + 16
    blob[off:off + 4] = struct.pack("<I", 1)  # BI_RLE8
    with _pytest.raises(NotImplementedError):
        decode_avi(bytes(blob))
    # header/movi frame-count mismatch must be caught, not ignored
    blob2 = bytearray(encode_avi(w, h, frames))
    off2 = bytes(blob2).find(b"avih") + 8 + 16
    blob2[off2:off2 + 4] = struct.pack("<I", 9)
    with _pytest.raises(ValueError):
        decode_avi(bytes(blob2))


def test_semantic_dedup_keeps_edge_member(spark):
    """Planted near-dup pair: the kept member must be the one LESS
    similar to its cluster centroid (SemDeDup's keep rule), and
    unrelated vectors stay kept."""
    import math

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        semantic_dedup,
    )

    dim = 8
    def unit(theta, i, j):
        v = [0.0] * dim
        v[i], v[j] = math.cos(theta), math.sin(theta)
        return v

    rows = [
        # cluster around e0: two near-dups (2° apart) + one edge
        # vector 40° away that must survive
        (0, unit(0.00, 0, 1)),
        (1, unit(0.035, 0, 1)),   # ~2° from vec 0 -> near-dup pair
        (2, unit(0.70, 0, 1)),    # ~40° away -> kept
        # far-away cluster on another axis pair
        (3, unit(0.0, 2, 3)),
        (4, unit(0.9, 2, 3)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, eps=0.9, n_centroids=2, dim=dim)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 5
    dropped = {i for i, r in got.items() if r["is_kept"] == 0}
    # exactly one of the near-dup pair is dropped — the member MORE
    # similar to the centroid
    assert len(dropped & {0, 1}) == 1
    (d,) = dropped & {0, 1}
    k = ({0, 1} - {d}).pop()
    assert got[d]["cent_sim"] >= got[k]["cent_sim"]
    # everything else survives
    assert got[2]["is_kept"] == 1 and got[3]["is_kept"] == 1


def test_repeated_span_coverage_islands_and_intra_doc(spark):
    """ExactSubstr span math, hand-computed (k=3): cross-doc shared
    grams merge into one island when overlapping (d1/d2), an
    intra-doc triple repeat covers the whole doc (d4), two far-apart
    copies yield two separate islands (d6), clean and empty docs
    report zero coverage (d3/d5)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        repeated_span_coverage,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "z a b c d q"),
        (3, "p q r s t u"),
        (4, "m n o m n o m n o"),
        (5, ""),
        (6, "a b c x1 x2 x3 x4 x5 a b c"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_dup_spans"], r["dup_tokens"], r["dup_coverage"]
        )
        for r in repeated_span_coverage(df, k=3).collect()
    }
    assert got[1] == (6, 1, 4, 0.6667)   # dup pos {1,2} -> one span of 4
    assert got[2] == (6, 1, 4, 0.6667)   # dup pos {2,3}
    assert got[3] == (6, 0, 0, 0.0)
    assert got[4] == (9, 1, 9, 1.0)      # every gram repeats -> full doc
    assert got[5] == (0, 0, 0, 0.0)
    assert got[6] == (11, 2, 6, 0.5455)  # pos {1,9}: 9 > 1+3 -> two islands


def test_ngram_lm_scores_hand_computed(spark):
    """Add-one bigram LM surprisal against hand-worked values:
    corpus a-b/a-b-a-b/c gives c(a)=3, c(b)=3, c(c)=1, V=3,
    c(a,b)=3, c(b,a)=1 -> s(a,b)=ln(1.5), s(b,a)=ln(3)."""
    import math

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        ngram_lm_scores,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "A, b!"), (3, "c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_lm_scores(df).collect()}
    s_ab = round(math.log(1.5) * 1e6)   # 405465
    s_ba = round(math.log(3.0) * 1e6)   # 1098612
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["avg_surprisal"] == round(
        (2 * s_ab + s_ba) / 3 / 1e6, 6)
    assert rows[2]["n_bigrams"] == 1  # normalization strips ',' '!'
    assert rows[2]["avg_surprisal"] == round(s_ab / 1e6, 6)
    assert rows[3]["n_bigrams"] == 0 and rows[3]["avg_surprisal"] is None


def test_decode_pixels_and_resize_images(spark):
    """decode_pixels returns exact row-major samples for all four
    containers (BMP requires undoing bottom-up BGR, which checksum
    tests cannot catch), and resize_images' nearest-neighbor gather
    matches the direct index formula through the Spark path."""
    import numpy as np

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_pixels,
        encode_bmp,
        encode_pgm,
        encode_png,
        encode_ppm,
        resize_images,
        synth_images,
    )

    for d in range(12):
        w, h = d % 8 + 2, d % 6 + 2
        ch = 3 if d % 3 != 2 else 1
        pix = bytes((7 * i + d) % 256 for i in range(ch * w * h))
        enc = (encode_ppm, encode_bmp, encode_pgm)[d % 3]
        assert decode_pixels(enc(w, h, pix))["pixels"] == pix, (d, "pnm/bmp")
        assert decode_pixels(encode_png(w, h, pix, ch))["pixels"] == pix

    # top-down BMP (negative height) must NOT be row-flipped
    import struct

    pix = bytes(range(18))
    blob = bytearray(encode_bmp(3, 2, pix))
    # stored bottom-up: flip stored rows + mark height negative ->
    # logical image identical
    data_off = struct.unpack_from("<I", bytes(blob), 10)[0]
    rows = [bytes(blob[data_off + 12 * r : data_off + 12 * r + 12])
            for r in range(2)]
    blob[data_off:data_off + 24] = rows[1] + rows[0]
    blob[22:26] = struct.pack("<i", -2)
    assert decode_pixels(bytes(blob))["pixels"] == pix

    # Spark path: resampled checksum equals the direct formula
    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r for r in
           resize_images(synth_images(docs)).collect()}
    for d in range(40):
        w, h = d % 8 + 2, d % 6 + 2
        ch = 3 if d % 3 != 2 else 1
        dw, dh = max(1, w // 2), max(1, h // 2)
        expect = sum(
            (7 * ((((y * h) // dh) * w + ((x * w) // dw)) * ch + c) + d)
            % 256
            for y in range(dh) for x in range(dw) for c in range(ch))
        r = got[d]
        assert (r["dst_w"], r["dst_h"], r["pixel_sum"]) == (dw, dh, expect)


def test_bm25_hand_computed(spark):
    """BM25 against the replicated formula on a 4-doc corpus with
    known tf/df/dl — covers multi-term sum, the always-positive
    Lucene IDF, and the (score desc, doc_id) tie order."""
    import math

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        bm25_topk,
    )

    df = spark.createDataFrame(
        [(1, "hash join hash"), (2, "join scan"), (3, "vector"),
         (4, "other words here")],
        "doc_id long, text string",
    )
    rows = bm25_topk(df, ["hash", "join", "vector"], k=10).collect()
    got = {r["doc_id"]: (r["bm25"], r["n_matched_terms"]) for r in rows}

    N, avgdl = 4, 9 / 4
    def idf_micro(dft):
        return round(math.log(1.0 + (N - dft + 0.5) / (dft + 0.5)) * 1e6)
    def contrib(dft, tf, dl, k1=1.2, b=0.75):
        return round(idf_micro(dft) * (tf * (k1 + 1))
                     / (tf + k1 * (1 - b + b * dl / avgdl)))
    exp1 = round((contrib(1, 2, 3) + contrib(2, 1, 3)) / 1e6, 6)
    exp2 = round(contrib(2, 1, 2) / 1e6, 6)
    exp3 = round(contrib(1, 1, 1) / 1e6, 6)
    assert got == {1: (exp1, 2), 2: (exp2, 1), 3: (exp3, 1)}
    assert [r["doc_id"] for r in rows] == sorted(
        got, key=lambda d: (-got[d][0], d))


def test_jpeg_codec_round_trip():
    """The stdlib-only baseline JPEG codec: exact round trip on
    block-constant fixtures (DC-only DCT, all-ones quant), bounded
    DCT-rounding error on arbitrary content, restart-marker
    resynchronization, edge padding for non-block-aligned dims,
    ValueError on every truncation prefix, NotImplementedError on
    out-of-scope SOFs and subsampling."""
    import math
    import struct

    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
    )

    # exact: block-constant gray
    w, h, vals = 24, 8, [17, 230, 99]
    gray = bytes(vals[x // 8] for _ in range(h) for x in range(w))
    d = decode_jpeg(encode_jpeg(w, h, gray, 1), want_pixels=True)
    assert (d["img_format"], d["width"], d["height"], d["channels"]) == (
        "jpeg", w, h, 1)
    assert d["pixels"] == gray and d["pixel_sum"] == sum(gray)

    # exact: block-constant color through the documented rounding chain
    blocks = [(10, 200, 30), (250, 5, 120), (90, 90, 90), (0, 255, 128)]
    w = h = 16
    pix = bytes(
        b for y in range(h) for x in range(w)
        for b in blocks[(y // 8) * 2 + (x // 8)]
    )

    def chain(r, g, b):
        y = min(255, max(0, math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)))
        cb = min(255, max(0, math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)))
        cr = min(255, max(0, math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)))
        rr = math.floor(y + 1.402 * (cr - 128) + 0.5)
        gg = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
        bb = math.floor(y + 1.772 * (cb - 128) + 0.5)
        return tuple(min(255, max(0, v)) for v in (rr, gg, bb))

    want = bytes(
        v for y in range(h) for x in range(w)
        for v in chain(*blocks[(y // 8) * 2 + (x // 8)])
    )
    d = decode_jpeg(encode_jpeg(w, h, pix, 3), want_pixels=True)
    assert d["pixels"] == want

    # arbitrary content: all-ones quant keeps error to DCT rounding
    pix = bytes((i * 53 + 7) % 256 for i in range(3 * 32 * 16))
    d = decode_jpeg(encode_jpeg(32, 16, pix, 3, restart_interval=3),
                    want_pixels=True)
    assert max(abs(a - b) for a, b in zip(d["pixels"], pix)) <= 4

    # edge padding: non-multiple-of-8 dims crop back exactly
    pix = bytes((i * 37) % 256 for i in range(10 * 5))
    d = decode_jpeg(encode_jpeg(10, 5, pix, 1), want_pixels=True)
    assert (d["width"], d["height"]) == (10, 5)
    assert max(abs(a - b) for a, b in zip(d["pixels"], pix)) <= 1

    # every truncation point is a parse error; decode_image routes
    blob = encode_jpeg(16, 8, bytes(range(128)), 1)
    assert decode_image(blob)["img_format"] == "jpeg"
    for cut in range(2, len(blob)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(blob[:cut])

    # out-of-scope: progressive SOF2 and subsampled 4:2:0
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError):
        decode_jpeg(prog)
    i = blob.index(b"\xff\xc0")
    sub = bytearray(blob)
    # FFC0 len(2) prec(1) h(2) w(2) ncomp(1) [id samp tq]...
    sub[i + 11] = 0x22  # luma sampling 2x2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(sub))


def test_ccnet_buckets_contract(spark, sf_dir):
    """CCNet bucketing: every doc with a surprisal lands in exactly
    one of head/middle/tail; per-language the head tercile's max
    surprisal never exceeds the tail tercile's min; docs without
    bigrams get a NULL bucket."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        curation_ccnet_buckets,
    )

    rows = curation_ccnet_buckets(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        if r["avg_surprisal"] is None:
            assert r["bucket"] is None
            continue
        assert r["bucket"] in ("head", "middle", "tail")
        by_lang.setdefault(r["predicted_lang"], []).append(r)
    # the dominant language exercises all three buckets
    biggest = max(by_lang.values(), key=len)
    assert {r["bucket"] for r in biggest} == {"head", "middle", "tail"}
    for rows_l in by_lang.values():
        heads = [r["avg_surprisal"] for r in rows_l if r["bucket"] == "head"]
        tails = [r["avg_surprisal"] for r in rows_l if r["bucket"] == "tail"]
        if heads and tails:
            assert max(heads) <= min(tails)


def test_semantic_decontamination_flags_planted_copies(spark, sf_dir):
    """Exact benchmark copies (cos 1.0) must flag; the annotation is
    total (a row for every training vector, clean ones 0/NULL/0)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        decontaminate_semantic,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load

    rows = {r["vec_id"]: r for r in decontaminate_semantic(spark, sf_dir).collect()}
    emb_n = load(spark, sf_dir, "embeddings").count()
    # training side = (emb_n - 50 originals) + 50 planted copies
    assert len(rows) == emb_n  # total annotation, one row per vector
    planted = [r for v, r in rows.items() if v >= 100000]
    assert planted and all(r["contaminated"] == 1 for r in planted)
    assert all(r["max_cos"] == 1.0 for r in planted)
    clean = [r for r in rows.values() if r["contaminated"] == 0]
    assert all(r["n_bench_matches"] == 0 and r["max_cos"] is None for r in clean)


def test_audio_frame_features_and_video_motion(spark, sf_dir):
    """Frame features agree with a direct per-sample recompute for a
    couple of docs; motion rows exist exactly for multi-frame videos
    and are zero-free only when frames differ."""
    import math

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        multimodal_audio_features,
        multimodal_video_motion,
    )

    af = [r for r in multimodal_audio_features(spark, sf_dir).collect()
          if r["doc_id"] in (3, 17)]
    assert af
    for r in af:
        d, f0 = r["doc_id"], r["frame_id"] * 16
        cnt = d % 50 + 10
        s = [((31 * i + d) % 4001) - 2000 for i in range(cnt)][f0:f0 + 16]
        assert r["n_samples"] == len(s)
        assert r["sum_sq"] == sum(v * v for v in s)
        assert r["peak"] == max(abs(v) for v in s)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(s, s[1:]) if (a < 0 < b) or (a > 0 > b))
        assert r["rms_micro"] == math.floor(
            math.sqrt(r["sum_sq"] / len(s)) * 1e6 + 0.5)

    vm = multimodal_video_motion(spark, sf_dir).collect()
    by_doc = {}
    for r in vm:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rows in list(by_doc.items())[:20]:
        nf = d % 5 + 1
        assert len(rows) == nf - 1
        w, h = d % 6 + 2, d % 4 + 2
        assert all(r["n_px"] == 3 * w * h for r in rows)
        # consecutive synth frames differ by the 13*f term -> motion > 0
        assert all(r["motion_sum"] > 0 for r in rows)


def test_nb_classifier_learns_separable_labels(spark):
    """On a cleanly separable corpus NB recovers every label; on a
    doc whose words were never seen for its label, the prior decides
    deterministically."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        nb_train_predict,
    )

    rows = [(i, "apple banana cherry fruit salad", "food") for i in range(10)]
    rows += [(100 + i, "gcc linker compiler segfault stack", "code")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in nb_train_predict(df).collect()}
    assert len(out) == 20
    assert all(r["correct"] == 1 for r in out.values())
    assert out[0]["pred_lang"] == "food" and out[100]["pred_lang"] == "code"
    # deterministic rerun
    again = {r["doc_id"]: r for r in nb_train_predict(df).collect()}
    assert sorted(map(tuple, out.values())) == sorted(
        map(tuple, again.values())
    )


def test_cdc_chunks_edit_stability(spark):
    """The CDC property: inserting words near the front of a doc
    changes only the chunk it lands in — every chunk fingerprint
    after the next boundary is unchanged (fixed-size windows would
    re-chunk everything downstream)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        cdc_chunks,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
            "omega one two three four five six seven eight nine ten")
    edited = "inserted words here " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df).collect()
    fps1 = [r["chunk_fp"] for r in sorted(
        (r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_id"])]
    fps2 = [r["chunk_fp"] for r in sorted(
        (r for r in out if r["doc_id"] == 2), key=lambda r: r["chunk_id"])]
    # chunks are content-defined: the SUFFIX chunk streams realign
    shared = set(fps1) & set(fps2)
    assert len(shared) >= len(fps1) - 2, (fps1, fps2)
    # and the tail of both docs chunks identically in order
    k = min(len(fps1), len(fps2)) - 1
    assert k >= 1 and fps1[-k:] == fps2[-k:]
    # boundaries are deterministic
    again = cdc_chunks(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_cdc_shared_chunk_pairs_detects_copied_passage(spark):
    """A passage copied into an otherwise-different doc produces
    shared CDC chunks; a boilerplate chunk in >max_fp_docs docs is
    excluded (stop-chunk cap keeps the fp join bounded)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        cdc_shared_chunk_pairs,
    )

    passage = ("alpha beta gamma delta epsilon zeta eta theta iota "
               "kappa lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, passage + " unique tail one two three"),
        (2, "totally different front matter here " + passage),
        (3, "unrelated words entirely disconnected from both docs"),
    ]
    # boilerplate shared by many docs -> stop-chunked away
    rows += [(100 + i, "standard footer all rights reserved contact us")
             for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_chunks"]
             for r in cdc_shared_chunk_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # the 40 footer docs share ALL their chunks but the fp appears in
    # 40 > 32 docs -> capped out, no pair explosion
    assert not any(a >= 100 and b >= 100 for a, b in pairs)


def test_keep_best_quality_prefers_quality_over_id(spark):
    """The canonical keeper is the highest-quality member, not the
    smallest id; singletons keep themselves."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        keep_best_quality,
    )

    df = spark.createDataFrame(
        [(1, "short junk"), (2, "a much longer and cleaner document "
                               "with the usual stopwords in it for flow"),
         (9, "standalone singleton document")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (9, 0.5)], "doc_id long, quality_score double"
    )
    out = {r["doc_id"]: r for r in keep_best_quality(df, pairs, scores).collect()}
    # doc 2 wins its cluster despite the larger id (keep_list would drop it)
    assert out[2]["keep"] == 1 and out[1]["keep"] == 0
    assert out[1]["component_id"] == out[2]["component_id"] == 1
    # singleton keeps itself in its own component
    assert out[9]["keep"] == 1 and out[9]["component_id"] == 9


def test_sparse_cosine_topk_contract(spark):
    """TF-IDF sparse cosine retrieval: a doc sharing rare terms with
    the query outranks one sharing only ubiquitous terms; self is
    excluded; ranks are dense from 1; integer-weight determinism."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        sparse_cosine_topk,
    )

    rows = [
        (0, "zebra quokka common words here"),
        (1, "zebra quokka overlap"),            # shares 2 rare terms
        (2, "common words everywhere common"),  # shares only common
        (3, "common words too also"),           # shares only common
        (4, "entirely disjoint vocabulary piece"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sparse_cosine_topk(
        df, df.filter("doc_id = 0"), k=4
    ).collect()
    by_rank = {r["rnk"]: r for r in got}
    assert all(r["query_id"] == 0 for r in got)
    assert all(r["doc_id"] != 0 for r in got)  # self excluded
    assert [r["rnk"] for r in sorted(got, key=lambda r: r["rnk"])] == list(
        range(1, len(got) + 1)
    )
    # doc 1 (rare-term overlap) beats docs 2/3 (common-term overlap)
    assert by_rank[1]["doc_id"] == 1
    # doc 4 shares nothing -> no dot row at all
    assert all(r["doc_id"] != 4 for r in got)
    sims = [r["cos_sim"] for r in sorted(got, key=lambda r: r["rnk"])]
    assert sims == sorted(sims, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in sims)


def test_kn_lm_scores_contract(spark):
    """Kneser-Ney properties on a planted corpus: (a) a frequent,
    well-attested bigram carries lower surprisal than a one-off
    cross pair; (b) the continuation term rewards words seen after
    MANY histories over equally-frequent words welded to one history
    — the property add-one smoothing cannot express; (c) sub-2-word
    docs emit n_bigrams 0 with NULL score."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        kn_lm_scores,
    )

    rows = (
        # "the cat" x8: frequent bigram
        [(i, "the cat") for i in range(8)]
        # "dog ran", "fox ran", "kid ran": 'ran' follows 3 histories
        + [(20, "dog ran"), (21, "fox ran"), (22, "kid ran")]
        # "zig zag" x3: 'zag' equally frequent but ONE history
        + [(30, "zig zag"), (31, "zig zag"), (32, "zig zag")]
        # the probes: unseen-bigram docs pairing a known history with
        # 'ran' (diverse continuation) vs 'zag' (welded continuation)
        + [(40, "the ran"), (41, "the zag")]
        + [(50, "word")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in kn_lm_scores(df).collect()}
    # frequent attested bigram beats a one-off unseen pairing
    assert got[0]["avg_kn_surprisal"] < got[40]["avg_kn_surprisal"]
    # continuation diversity: p(ran | the) > p(zag | the), so the
    # 'ran' probe scores LOWER surprisal than the 'zag' probe even
    # though c(ran) == c(zag) == 3
    assert got[40]["avg_kn_surprisal"] < got[41]["avg_kn_surprisal"]
    assert got[50]["n_bigrams"] == 0
    assert got[50]["avg_kn_surprisal"] is None


def test_gif_codec_round_trip_and_errors():
    """Real GIF/LZW codec: round trips with genuine dictionary growth
    (width bumps + full-table CLEAR), the KwKwK pattern, and loud
    failures for truncation, transparency, interlace, local color
    tables, and out-of-range palette indices."""
    import random
    import struct

    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        encode_gif,
        lzw_decode,
        lzw_encode,
    )

    # LZW pair: random / run / pattern streams incl. the 4096-entry
    # CLEAR path and 12-bit widths
    r = random.Random(8)
    for p, n in [(4, 5000), (17, 3000), (256, 40000)]:
        idx = bytes(r.randrange(p) for _ in range(n))
        m = max(2, (p - 1).bit_length())
        assert lzw_decode(lzw_encode(idx, m), m, n) == idx, (p, n)
    kwkwk = b"\x00\x01" * 4000  # the classic code==next case
    assert lzw_decode(lzw_encode(kwkwk, 2), 2, len(kwkwk)) == kwkwk

    # container round trip through the dispatcher
    pal = [((5 * j) % 256, (9 * j) % 256, (3 * j) % 256) for j in range(29)]
    idx = bytes((i * i) % 29 for i in range(13 * 9))
    blob = encode_gif(13, 9, idx, pal)
    expected = sum(sum(pal[i]) for i in idx)
    assert decode_gif(blob) == {
        "img_format": "gif", "width": 13, "height": 9,
        "channels": 3, "pixel_sum": expected,
    }
    assert decode_image(blob)["pixel_sum"] == expected

    # every truncation point up to the image's sub-block terminator
    # fails loud (the final 0x3B trailer is tolerated missing, like
    # real decoders: the image is already complete)
    for cut in range(len(blob) - 1):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_gif(blob[:cut])

    # transparency (GCE flag): loud — the remaining GIF scope guard
    gce = b"\x21\xf9\x04\x01\x00\x00\x00\x00"  # transparency bit set
    with_gce = blob[:13 + 3 * 32] + gce + blob[13 + 3 * 32:]
    with pytest.raises(NotImplementedError, match="transparency"):
        decode_gif(with_gce)
    # interlace + local color tables decode since r10: flipping the
    # interlace flag on a non-interlaced stream REORDERS rows (same
    # sample multiset, so the order-invariant sum is unchanged —
    # position-sensitive coverage lives in
    # test_gif_interlace_and_local_palette_round_trip)
    interlaced = bytearray(blob)
    desc_off = 13 + 3 * 32  # image descriptor after the padded GCT
    assert interlaced[desc_off] == 0x2C
    interlaced[desc_off + 9] |= 0x40
    assert decode_gif(bytes(interlaced))["pixel_sum"] == expected

    # a skippable comment extension is fine per spec
    comment = b"\x21\xfe\x05hello\x00"
    assert decode_gif(blob[:13 + 3 * 32] + comment + blob[13 + 3 * 32:])[
        "pixel_sum"
    ] == expected

    # encoder-side validation
    with pytest.raises(ValueError):
        encode_gif(2, 2, bytes([0, 1, 2, 9]), pal[:3])
    with pytest.raises(ValueError):
        encode_gif(2, 2, bytes(3), pal)  # wrong pixel count
    struct  # parity import


def test_mulaw_decode_matches_reference_table():
    """G.711 mu-law: the expansion equals the CCITT reference for all
    256 bytes (cross-checked against stdlib audioop where present),
    and a format-7 WAV container routes through decode_wav."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _mulaw_expand,
        decode_wav,
        encode_wav_mulaw,
    )

    try:
        import audioop  # removed in Python 3.13; reference when present

        for b in range(256):
            ref = struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))[0]
            assert _mulaw_expand(b) == ref, b
    except ImportError:
        # spec anchors: 0xFF is +0, 0x7F is -0, 0x80 decodes to the
        # most negative magnitude's positive twin of 0x00
        assert _mulaw_expand(0xFF) == 0
        assert _mulaw_expand(0x7F) == 0
        assert _mulaw_expand(0x00) == -_mulaw_expand(0x80)

    raw = bytes((7 * i + 3) % 256 for i in range(40))
    d = decode_wav(encode_wav_mulaw(8000, raw), want_samples=True)
    assert (d["sample_rate"], d["channels"], d["bits"]) == (8000, 1, 8)
    assert d["n_samples"] == 40
    assert d["samples"] == [_mulaw_expand(b) for b in raw]
    assert d["abs_sum"] == sum(abs(_mulaw_expand(b)) for b in raw)


def test_phrase_search_contract(spark):
    """Exact-adjacency phrase matching: scrambled and gapped word
    orders don't match; overlapping occurrences each count; repeated
    terms inside the phrase align correctly."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        phrase_search,
    )

    rows = [
        (1, "a table scan merge b table scan merge"),   # two hits
        (2, "table merge scan"),                        # scrambled
        (3, "table scan x merge"),                      # gapped
        (4, "Table SCAN merge!"),                       # normalization
        (5, "scan merge table"),                        # rotation
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in phrase_search(df, ["table", "scan", "merge"]).collect()
    }
    assert set(got) == {1, 4}
    assert got[1]["n_hits"] == 2 and got[1]["first_pos"] == 1
    assert got[4]["n_hits"] == 1 and got[4]["first_pos"] == 0
    # repeated-term phrase: "b b" matches the overlapping run twice
    df2 = spark.createDataFrame([(9, "b b b")], "doc_id long, text string")
    r = phrase_search(df2, ["b", "b"]).collect()[0]
    assert r["n_hits"] == 2 and r["first_pos"] == 0


def test_events_funnel_strict_ordering(spark, monkeypatch, tmp_path):
    """The funnel chain is STRICTLY ordered: a click before the first
    view doesn't count, and a purchase before the qualifying click
    doesn't either."""
    import datetime as dt

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        relational as R,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, typ, minutes):
        return (uid, t0 + dt.timedelta(minutes=minutes), typ)

    rows = (
        # user 1: full ordered funnel
        [ev(1, "view", 0), ev(1, "click", 10), ev(1, "purchase", 20)]
        # user 2: click BEFORE the first view -> stage 1 only
        + [ev(2, "click", 0), ev(2, "view", 10)]
        # user 3: purchase before the qualifying click -> stage 2
        + [ev(3, "view", 0), ev(3, "purchase", 5), ev(3, "click", 10)]
        # user 4: never viewed -> absent from the funnel
        + [ev(4, "purchase", 0)]
    )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    monkeypatch.setattr(R, "load", lambda spark, sf, name: df)
    got = {r["user_id"]: r for r in R.events_funnel(spark, "x").collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["stage_reached"] == 3
    assert got[2]["stage_reached"] == 1 and got[2]["t_click"] is None
    assert got[3]["stage_reached"] == 2 and got[3]["t_purchase"] is None


def test_events_cohort_retention_offsets(spark, monkeypatch):
    import datetime as dt

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        relational as R,
    )

    def ev(uid, day):
        return (uid, dt.datetime(2024, 1, day, 12, 0))

    rows = [
        ev(1, 1), ev(1, 1), ev(1, 3),   # cohort 1/1, offsets 0 and 2
        ev(2, 1), ev(2, 2),             # cohort 1/1, offsets 0 and 1
        ev(3, 2),                       # cohort 1/2, offset 0
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    monkeypatch.setattr(R, "load", lambda spark, sf, name: df)
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_users"]
        for r in R.events_cohort_retention(spark, "x").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_pagerank_pairs_contract(spark):
    """PageRank sanity on a star-plus-chain graph: the hub outranks
    every leaf; a chain node with two neighbors outranks a leaf with
    one; total mass stays ~1e9 nano; empty graph yields empty."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        pagerank_pairs,
    )

    # star: 0-1, 0-2, 0-3; chain: 4-5, 5-6
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5), (5, 6)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r for r in pagerank_pairs(pairs, n_iter=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5, 6}
    hub = got[0]["pr_nano"]
    assert all(hub > got[i]["pr_nano"] for i in (1, 2, 3))
    assert got[5]["pr_nano"] > got[4]["pr_nano"]  # middle beats leaf
    assert got[0]["degree"] == 3 and got[5]["degree"] == 2
    total = sum(r["pr_nano"] for r in got.values())
    assert abs(total - 10**9) < 10**7  # mass conserved to quantization
    empty = pagerank_pairs(
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    assert empty.count() == 0


def test_exact_substr_pairs_runs_and_diagonals(spark):
    """ExactSubstr relational formulation: maximal diagonal runs,
    split runs count separately, short overlaps stay silent."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_pairs,
    )

    a = " ".join(f"w{i}" for i in range(60))
    # two DISJOINT copied spans from a (20 tokens at 10, 16 at 40)
    # separated by unrelated text -> two runs on different diagonals
    b = (
        "pre one two three "
        + " ".join(f"w{i}" for i in range(10, 30))
        + " mid four five six "
        + " ".join(f"w{i}" for i in range(40, 56))
        + " post seven"
    )
    c = "only w5 w6 w7 shared nothing else here at all really"  # < 8 tokens shared
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    rows = {
        (r["doc_a"], r["doc_b"]): (r["longest_match_tokens"], r["n_runs"])
        for r in exact_substring_pairs(df).collect()
    }
    assert rows == {(1, 2): (20, 2)}

    # max_df heavy-hitter cap: a shingle spammed across many docs is
    # boilerplate and generates NO seeds once capped
    spam = " ".join(f"s{i}" for i in range(20))
    many = [(i, spam) for i in range(40)]
    df2 = spark.createDataFrame(many, "doc_id long, text string")
    assert exact_substring_pairs(df2, max_df=32).count() == 0
    assert exact_substring_pairs(df2, max_df=None).count() == 40 * 39 // 2


def test_exact_substr_finds_what_cdc_misses(spark):
    """The separation fixture the r8 verdict asked for: a 20-token
    verbatim cross-doc span made ENTIRELY of non-boundary words
    (token_id % 8 != 0 for every word, so CDC places no boundary
    inside the span). The span fuses into surrounding chunks that
    differ between the two docs -> cdc_shared_chunk_pairs reports
    NOTHING, while exact_substring_pairs reports the 20-token run.
    """
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_pairs,
        token_id,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        cdc_shared_chunk_pairs,
    )

    span_words = [
        "alpha", "charlie", "foxtrot", "golf", "hotel", "india",
        "juliet", "kilo", "lima", "mike", "november", "oscar",
        "papa", "quebec", "romeo", "sierra", "victor", "whiskey",
        "xray", "yankee",
    ]
    span = " ".join(span_words)
    df = spark.createDataFrame(
        [
            (1, "first doc filler words before " + span + " trailing bits one"),
            (2, "completely different preamble here " + span + " other ending two"),
        ],
        "doc_id long, text string",
    )
    # fixture invariant: no span word is a CDC boundary word
    import pyspark.sql.functions as SF

    flags = (
        spark.createDataFrame([(w,) for w in span_words], "w string")
        .select((token_id(SF.col("w")) % 8 == 0).alias("b"))
        .collect()
    )
    assert not any(r["b"] for r in flags)

    assert cdc_shared_chunk_pairs(df).count() == 0  # CDC misses
    got = exact_substring_pairs(df).collect()
    assert [(r["doc_a"], r["doc_b"], r["longest_match_tokens"]) for r in got] == [
        (1, 2, 20)
    ]


def test_png_adam7_round_trip_and_errors():
    """Adam7 codec: every channel layout / filter rotation / geometry
    (including sizes where most passes are empty) reconstructs the
    exact row-major samples; malformed streams keep the ValueError
    parse contract."""
    import random
    import struct
    import zlib

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        encode_png,
        encode_png_interlaced,
    )

    rng = random.Random(20260815)
    for w, h in [(1, 1), (2, 2), (8, 8), (9, 7), (16, 5), (3, 13)]:
        for ch in (1, 3, 4):
            pix = bytes(rng.randrange(256) for _ in range(ch * w * h))
            d = decode_png(encode_png_interlaced(w, h, pix, ch),
                           want_pixels=True)
            assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
            assert d["pixels"] == pix
            # interlaced and non-interlaced decode agree exactly
            ref = decode_png(encode_png(w, h, pix, ch), want_pixels=True)
            assert d["pixel_sum"] == ref["pixel_sum"] == sum(pix)

    # paletted + interlaced: scatter indices, THEN LUT to RGB
    pal = [(i, 255 - i, (7 * i) % 256) for i in range(16)]
    idx = bytes((3 * i) % 16 for i in range(9 * 7))
    d = decode_png(
        encode_png_interlaced(9, 7, idx, 1, palette=pal),
        want_pixels=True,
    )
    assert d["channels"] == 3
    assert d["pixels"] == b"".join(bytes(pal[i]) for i in idx)

    # bad interlace method is a ValueError (spec: only 0/1 exist)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 7)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00ab\x00cd"))
        + _png_chunk(b"IEND", b"")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="interlace"):
        decode_png(bad)

    # truncated interlaced stream (missing final pass bytes) raises
    good = encode_png_interlaced(8, 8, bytes(range(64)), 1)
    # rebuild with IDAT cut short
    raw = zlib.decompress(
        good[good.index(b"IDAT") + 4 : good.rindex(b"IEND") - 8]
    )
    cut = zlib.compress(raw[:-5])
    ihdr2 = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
    trunc = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr2)
        + _png_chunk(b"IDAT", cut)
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="scanline"):
        decode_png(trunc)


def test_png_adam7_positional_checksum_pins_scatter(spark):
    """decode_images_positional over synth_interlaced_pngs: both
    checksums agree with the closed form, and the positional one is
    genuinely order-sensitive (a permuted reconstruction would differ
    for every doc with non-constant samples)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_images_positional,
        synth_interlaced_pngs,
    )

    docs = spark.range(0, 24).select(F.col("id").alias("doc_id"))
    out = decode_images_positional(synth_interlaced_pngs(docs)).collect()
    assert len(out) == 24
    for r in out:
        d = r["doc_id"]
        w, h = d % 8 + 2, d % 6 + 2
        ch = (1, 3, 4)[d % 3]
        n = ch * w * h
        vals = [(11 * i + 3 * d) % 256 for i in range(n)]
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch)
        assert r["pixel_sum"] == sum(vals)
        assert r["pixel_possum"] == sum((i + 1) * v for i, v in enumerate(vals))


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: two docs sharing a run of
    window+k-1 = 8 tokens share at least one fingerprint hash; and
    selections are a strict subsample of grams."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five six"),
            (2, "seven eight nine ten " + shared + " eleven twelve"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in winnowing_fingerprints(df).collect()}
    assert out[1]["n_fingerprints"] >= 1
    # density: selections never exceed window starts
    for r in out.values():
        assert r["n_fingerprints"] <= max(r["n_grams"] - 3, 0)

    # the shared-run guarantee, checked on the raw selection hashes:
    # recompute fingerprints per doc and intersect
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        token_id,
    )
    import pyspark.sql.functions as SF

    def fps(text):
        w = text.split()
        grams = [" ".join(w[i:i + 5]) for i in range(len(w) - 4)]
        gids = [
            r["g"]
            for r in spark.createDataFrame([(g,) for g in grams], "t string")
            .select(token_id(SF.col("t")).alias("g")).collect()
        ]
        sel = set()
        for s in range(len(gids) - 3):
            wnd = gids[s:s + 4]
            m = min(wnd)
            sel.add(m)
        return sel

    texts = {r[0]: r[1] for r in df.collect()}
    assert fps(texts[1]) & fps(texts[2])  # shared fingerprint exists


def test_mojibake_scores_counts(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        mojibake_scores,
    )

    rows = [
        (1, "clean ascii text"),
        (2, "cafÃ© two marks Ã©"),      # 2x C3
        (3, "donâ€™t"),                        # 1x "a-circ+euro"
        (4, "bad � bytes �"),                       # 2 replacements
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in mojibake_scores(df).collect()}
    assert out[1]["n_mojibake_marks"] == 0 and out[1]["damaged"] == 0
    assert out[2]["n_mojibake_marks"] == 2 and out[2]["damaged"] == 1
    assert out[3]["n_mojibake_marks"] == 1
    assert out[4]["n_replacement_chars"] == 2 and out[4]["damaged"] == 1


def test_reservoir_sample_deterministic_and_bounded(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.sampling import (
        reservoir_sample_keys,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    a = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in reservoir_sample_keys(df, 4, key_col="doc_id").collect()
    )
    b = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in reservoir_sample_keys(df, 4, key_col="doc_id").collect()
    )
    assert a == b and len(a) == 12  # 3 groups x 4
    c = reservoir_sample_keys(df, 4, key_col="doc_id", seed="other")
    assert sorted(
        (r["source"], r["doc_id"], r["rk"]) for r in c.collect()
    ) != a  # a different seed redraws


def test_ngram_novelty_planted(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        ngram_novelty_scores,
    )

    base = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail x y"), (3, "all fresh tokens here now")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty_scores(df).collect()}
    assert out[1]["novelty_ratio"] == 1.0
    assert out[2]["novelty_ratio"] < 0.2   # near-copy of an earlier doc
    assert out[3]["novelty_ratio"] == 1.0


def test_events_attribution_window_edges(spark):
    """Exactly-7-days attributes; 7 days + 1 second does not; the
    LATEST at-or-before click wins; clickless purchases land in the
    unattributed (null-day) bucket."""
    import datetime as dt

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import (
        events_attribution,
    )
    import tempfile

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # user 1: two clicks then a purchase -> latest click wins
        (1, t0 - dt.timedelta(days=2), 1, "click", 0.0, "{}"),
        (2, t0 - dt.timedelta(days=1), 1, "click", 0.0, "{}"),
        (3, t0, 1, "purchase", 10.0, "{}"),
        # user 2: click exactly 7 days before -> attributed
        (4, t0 - dt.timedelta(days=7), 2, "click", 0.0, "{}"),
        (5, t0, 2, "purchase", 20.0, "{}"),
        # user 3: click 7 days + 1 s before -> unattributed
        (6, t0 - dt.timedelta(days=7, seconds=1), 3, "click", 0.0, "{}"),
        (7, t0, 3, "purchase", 40.0, "{}"),
        # user 4: no click at all
        (8, t0, 4, "purchase", 80.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )
    d = tempfile.mkdtemp(prefix="mats_attr_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        (str(r["attribution_day"]) if r["attribution_day"] else None):
        (r["n_conversions"], r["attributed_revenue"])
        for r in events_attribution(spark, d).collect()
    }
    assert out["2024-01-09"] == (1, 10.0)   # latest click of user 1
    assert out["2024-01-03"] == (1, 20.0)   # exactly 7 days: in
    assert out[None] == (2, 120.0)          # 7d+1s and clickless


def test_cosine_range_search_threshold_edges(spark):
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
        cosine_range_search,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),        # sim 1.0 with 1
        (3, [0.6, 0.8]),        # sim 0.6 with 1
        (4, [0.0, 1.0]),        # sim 0.0 with 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_range_search(
            df, df.filter(F.col("vec_id") == 1), threshold=0.6, dim=2
        ).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 0.6}  # boundary INCLUSIVE


def test_exact_substr_removal_interval_merge(spark):
    """The apply step cuts later-doc copies with interval-union
    semantics: overlapping and adjacent spans merge; disjoint spans
    count separately; the earlier (canonical) doc is never cut."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_dedup,
    )

    src = " ".join(f"w{i}" for i in range(60))
    docs = [
        (1, src),
        # two OVERLAPPING copied spans (20..39 and 30..49 of src):
        # in doc-2 coords they sit adjacent/overlapping -> ONE cut
        (2, "p1 p2 p3 "
            + " ".join(f"w{i}" for i in range(20, 40))
            + " "
            + " ".join(f"w{i}" for i in range(30, 50))
            + " s1 s2"),
        # two DISJOINT spans separated by fresh text -> TWO cuts
        (3, "q1 q2 "
            + " ".join(f"w{i}" for i in range(0, 16))
            + " mid1 mid2 mid3 "
            + " ".join(f"w{i}" for i in range(40, 56))
            + " q3"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in exact_substring_dedup(df).collect()}
    assert 1 not in out  # canonical doc untouched
    assert out[2]["n_spans"] == 1 and out[2]["n_removed"] == 40
    assert out[2]["n_kept"] == out[2]["n_tokens"] - 40 == 5
    assert out[3]["n_spans"] == 2 and out[3]["n_removed"] == 32
    assert out[3]["n_kept"] == out[3]["n_tokens"] - 32


def test_exact_substr_matches_python_reference(spark):
    """Randomized equivalence: exact_substring_pairs against a direct
    O(n^2) dynamic-programming longest-common-substring reference on
    small corpora with planted copies, shuffled fillers, and repeated
    tokens. Checks the PAIR SET and each pair's longest run (the
    reference computes true maximal token runs, uncapped)."""
    import random

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_pairs,
    )

    rng = random.Random(20260909)

    def ref_longest(a, b):
        """longest common CONTIGUOUS token run between token lists."""
        best = 0
        prev = [0] * (len(b) + 1)
        for i in range(1, len(a) + 1):
            cur = [0] * (len(b) + 1)
            for j in range(1, len(b) + 1):
                if a[i - 1] == b[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    if cur[j] > best:
                        best = cur[j]
            prev = cur
        return best

    for trial in range(4):
        vocab = [f"t{i}" for i in range(30)]
        docs = []
        for d in range(8):
            # doc 0 is the plant SOURCE: keep it long enough for the
            # 16..24-token slices below
            n = rng.randint(26, 40) if d == 0 else rng.randint(12, 40)
            docs.append([rng.choice(vocab) for _ in range(n)])
        # plant verbatim copies of doc-0 slices into docs 5..7
        for d in range(5, 8):
            src = docs[0]
            ln = rng.randint(16, min(24, len(src)))
            st = rng.randrange(0, len(src) - ln + 1)
            ins = rng.randrange(0, len(docs[d]) + 1)
            docs[d] = docs[d][:ins] + src[st:st + ln] + docs[d][ins:]
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["longest_match_tokens"]
            for r in exact_substring_pairs(
                df, min_match_tokens=15, max_df=None
            ).collect()
        }
        exp = {}
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                lcs = ref_longest(docs[i], docs[j])
                if lcs >= 15:
                    exp[(i, j)] = lcs
        assert got == exp, (trial, got, exp)


def test_png16_round_trip_and_guards():
    """16-bit PNG: plain + Adam7 round-trips checksum over true
    sample values; spec-invalid 16-bit paletted is a ValueError;
    the 16-bit resample path stays a documented NotImplementedError;
    8-bit decode output is unchanged (bit_depth=8, same pixels)."""
    import random
    import struct

    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        encode_png,
        encode_png16,
        encode_png_interlaced,
    )
    import zlib

    rng = random.Random(20260815)
    for w, h, ch in [(1, 1, 1), (5, 3, 3), (9, 7, 4), (8, 8, 1)]:
        vals = [rng.randrange(65536) for _ in range(ch * w * h)]
        d = decode_png(encode_png16(w, h, vals, ch))
        assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
        assert d["bit_depth"] == 16 and d["pixel_sum"] == sum(vals)
        # 16-bit + Adam7 agrees
        pix = struct.pack(f">{len(vals)}H", *vals)
        d2 = decode_png(encode_png_interlaced(w, h, pix, ch, depth=16))
        assert d2["pixel_sum"] == sum(vals) and d2["bit_depth"] == 16

    # byte-sum aliasing guard: a decoder summing BYTES instead of
    # 16-bit samples would differ for any value >= 256
    vals = [256, 511, 65535, 0]
    d = decode_png(encode_png16(2, 2, vals, 1))
    assert d["pixel_sum"] == sum(vals) != sum(
        struct.pack(">4H", *vals)
    )

    # 16-bit paletted violates the spec -> ValueError (not NIE)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", bytes(6))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="paletted"):
        decode_png(bad)

    with _pytest.raises(NotImplementedError, match="16-bit"):
        decode_png(encode_png16(2, 2, [1] * 4, 1), want_pixels=True)

    # 8-bit contract untouched
    pix8 = bytes(range(48))
    d8 = decode_png(encode_png(4, 4, pix8, 3), want_pixels=True)
    assert d8["bit_depth"] == 8 and d8["pixels"] == pix8


def test_png_sub8_trns_round_trips_and_guards():
    """Sub-8-bit paletted PNG (depths 1/2/4) + tRNS alpha: randomized
    round-trips across plain and Adam7 layouts reconstruct the exact
    RGB/RGBA expansion; remaining guards hold (sub-8 GRAYSCALE is
    NotImplementedError, key-color tRNS too, spec-invalid sub-8
    truecolor is a parse error)."""
    import random
    import struct
    import zlib

    import pytest as _pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        encode_png_interlaced,
        encode_png_palette,
    )

    rng = random.Random(20260815)
    for trial in range(80):
        depth = rng.choice([1, 2, 4, 8])
        w, h = rng.randint(1, 13), rng.randint(1, 11)
        p = rng.randint(1, 1 << depth)
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(p)
        ]
        idx = bytes(rng.randrange(p) for _ in range(w * h))
        trans = (
            [rng.randrange(256) for _ in range(rng.randint(1, p))]
            if rng.random() < 0.5 else None
        )
        if rng.random() < 0.5:
            blob = encode_png_interlaced(
                w, h, idx, 1, palette=pal, depth=depth, trans=trans
            )
        else:
            blob = encode_png_palette(
                w, h, idx, pal, depth=depth, trans=trans
            )
        d = decode_png(blob, want_pixels=True)
        if trans is not None:
            alphas = list(trans) + [255] * (p - len(trans))
            exp = b"".join(bytes(pal[i]) + bytes([alphas[i]]) for i in idx)
            assert d["channels"] == 4
        else:
            exp = b"".join(bytes(pal[i]) for i in idx)
            assert d["channels"] == 3
        assert d["pixels"] == exp and d["bit_depth"] == depth
        assert d["pixel_sum"] == sum(exp)

    # sub-8 GRAYSCALE stays guarded (NotImplementedError, not wrong)
    ihdr = struct.pack(">IIBBBBB", 4, 2, 4, 0, 0, 0, 0)
    g = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x12\x34" * 2))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="GRAYSCALE"):
        decode_png(g)

    # sub-8 truecolor is spec-invalid -> parse error
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 8))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="spec-invalid"):
        decode_png(bad)

    # gray/truecolor KEY-COLOR transparency stays guarded
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    keyed = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tRNS", bytes(6))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + b"\x01" * 6 + b"\x00" + b"\x02" * 6))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="key-color"):
        decode_png(keyed)

    # tRNS longer than PLTE is a parse error
    with _pytest.raises(ValueError, match="tRNS"):
        encode_png_palette(1, 1, b"\x00", [(1, 2, 3)], trans=[1, 2])


def test_png_codec_hypothesis_full_matrix():
    """Property: EVERY supported (layout x color mode x depth x
    filter x geometry) combination round-trips bit-exactly through
    the pure-Python PNG codec pair — hypothesis drives the matrix
    and shrinks failures to minimal cases."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_png,
        encode_png,
        encode_png16,
        encode_png_interlaced,
        encode_png_palette,
    )

    mode = st.sampled_from(
        # (kind, channels-or-depth)
        [("rgb8", 1), ("rgb8", 2), ("rgb8", 3), ("rgb8", 4),
         ("rgb16", 1), ("rgb16", 2), ("rgb16", 3), ("rgb16", 4),
         ("pal", 1), ("pal", 2), ("pal", 4), ("pal", 8)]
    )

    @settings(max_examples=80, deadline=None)
    @given(
        st.integers(1, 11), st.integers(1, 9), mode,
        st.booleans(), st.booleans(), st.randoms(use_true_random=False),
    )
    def check(w, h, m, interlaced, with_trans, rng):
        kind, p2 = m
        filt = lambda r: (r * 3 + 1) % 5  # noqa: E731
        if kind == "pal":
            depth = p2
            np_ = rng.randint(1, 1 << depth)
            pal = [
                (rng.randrange(256), rng.randrange(256), rng.randrange(256))
                for _ in range(np_)
            ]
            idx = bytes(rng.randrange(np_) for _ in range(w * h))
            trans = (
                [rng.randrange(256) for _ in range(rng.randint(1, np_))]
                if with_trans else None
            )
            if interlaced:
                blob = encode_png_interlaced(
                    w, h, idx, 1, filt, palette=pal, depth=depth,
                    trans=trans,
                )
            else:
                blob = encode_png_palette(
                    w, h, idx, pal, filt, depth=depth, trans=trans
                )
            d = decode_png(blob, want_pixels=True)
            if trans is not None:
                al = list(trans) + [255] * (np_ - len(trans))
                exp = b"".join(bytes(pal[i]) + bytes([al[i]]) for i in idx)
                assert d["channels"] == 4
            else:
                exp = b"".join(bytes(pal[i]) for i in idx)
                assert d["channels"] == 3
            assert d["pixels"] == exp and d["bit_depth"] == depth
        elif kind == "rgb8":
            ch = p2
            pix = bytes(rng.randrange(256) for _ in range(ch * w * h))
            blob = (
                encode_png_interlaced(w, h, pix, ch, filt)
                if interlaced else encode_png(w, h, pix, ch, filt)
            )
            d = decode_png(blob, want_pixels=True)
            assert d["pixels"] == pix and d["channels"] == ch
            assert d["bit_depth"] == 8
        else:
            ch = p2
            vals = [rng.randrange(65536) for _ in range(ch * w * h)]
            if interlaced:
                blob = encode_png_interlaced(
                    w, h, struct.pack(f">{len(vals)}H", *vals), ch, filt,
                    depth=16,
                )
            else:
                blob = encode_png16(w, h, vals, ch, filt)
            d = decode_png(blob)
            assert d["pixel_sum"] == sum(vals)
            assert d["channels"] == ch and d["bit_depth"] == 16

    check()


def test_exact_substr_removal_duplicate_spans_merge_once(spark):
    """Regression (found by the sf0.1 oracle spot-check): two source
    docs contributing the IDENTICAL (s, e) span to a later doc must
    still merge to ONE cut — with tied (s, e) keys the prev-max and
    running-sum windows could order peers differently and
    double-count the cut (n_removed 2x the doc length, negative
    n_kept). DISTINCT spans restore a total order."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_dedup,
    )

    body = " ".join(f"w{i}" for i in range(28))
    df = spark.createDataFrame(
        [(1619, body), (2875, body), (3394, body)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_substring_dedup(df).collect()}
    assert 1619 not in out  # smallest id keeps the canonical copy
    for d in (2875, 3394):
        r = out[d]
        assert (r["n_spans"], r["n_removed"], r["n_kept"]) == (1, 28, 0), r


def test_exact_substr_self_and_unified_removal(spark):
    """r9 verdict #4 fixture: within-doc repeats feed the SAME
    interval-union removal accounting as cross-doc copies.

    doc 1: a 16-token span repeated twice inside ONE document (with a
    filler between) — the cross-doc detector reports nothing, the
    self detector cuts exactly the LATER occurrence (16 tokens).
    doc 2: shares the same span once — the unified report counts its
    cross-doc cut AND doc 1's intra-doc cut without double-counting
    the overlap (doc 1's later copy is also a cross-doc match of
    doc 2's span; one interval union covers both)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_dedup,
        exact_substring_pairs,
        exact_substring_self_dedup,
    )

    span = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")  # 16 tokens
    doc1 = f"start words here {span} middle filler bits {span} end tail"
    doc2 = f"totally different lead {span} and another ending"
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )

    # self-only: doc 1 loses exactly the later 16-token occurrence
    self_rows = {r["doc_id"]: r for r in
                 exact_substring_self_dedup(df).collect()}
    assert list(self_rows) == [1]
    r1 = self_rows[1]
    assert r1["n_spans"] == 1
    assert r1["n_removed"] == 16
    assert r1["n_kept"] == r1["n_tokens"] - 16

    # cross-only: doc 2 (later id) loses its single copy; doc 1 keeps
    # both (it is the earlier doc)
    cross_rows = {r["doc_id"]: r for r in
                  exact_substring_dedup(df).collect()}
    assert list(cross_rows) == [2]
    assert cross_rows[2]["n_removed"] == 16

    # unified: doc 1's intra-doc cut joins the report; doc 2
    # unchanged; nothing double-counted
    uni = {r["doc_id"]: r for r in
           exact_substring_dedup(df, include_self=True).collect()}
    assert set(uni) == {1, 2}
    assert uni[1]["n_removed"] == 16 and uni[1]["n_spans"] == 1
    assert uni[2]["n_removed"] == 16

    # sanity: the cross detector still reports the (1, 2) pair twice
    # (one run per copy in doc 1)
    p = exact_substring_pairs(df).collect()
    assert [(p[0]["doc_a"], p[0]["doc_b"], p[0]["n_runs"])] == [(1, 2, 2)]


def test_exact_substr_self_tandem_keeps_first_occurrence(spark):
    """Periodic/tandem repeats: the union of later-occurrence cuts
    keeps exactly ONE copy (the first). 4x repetition of an 8-token
    phrase -> 32 tokens total, 24 removed, 8 kept (plus sentinels)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_self_dedup,
    )

    phrase = "red orange yellow green blue indigo violet ultra"
    text = "lead in words " + " ".join([phrase] * 4) + " out tail"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    rows = exact_substring_self_dedup(
        df, k=8, min_match_tokens=8
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # 3 + 32 + 2 = 37 tokens; later copies = tokens 12..35 (24 cut)
    assert r["n_tokens"] == 37
    assert r["n_removed"] == 24
    assert r["n_kept"] == 13


def test_gif_interlace_and_local_palette_round_trip():
    """r10 GIF seams: 4-pass interlaced rows scatter back to the
    exact row-major indices, and a LOCAL color table wins over a
    decoy global table. Malformed variants keep the ValueError
    contract."""
    import random

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _gif_interlace_rows,
        decode_gif,
        encode_gif,
    )

    # the pass order is a permutation of all rows, for any height
    for h in range(1, 40):
        order = _gif_interlace_rows(h)
        assert sorted(order) == list(range(h))

    rng = random.Random(20260815)
    for w, h in [(2, 2), (3, 3), (5, 8), (11, 7), (4, 13), (2, 3)]:
        p = rng.randrange(3, 17)
        pal = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
               for _ in range(p)]
        idx = bytes(rng.randrange(p) for _ in range(w * h))
        want = b"".join(bytes(pal[i]) for i in idx)
        for local in (False, True):
            d = decode_gif(
                encode_gif(w, h, idx, pal, interlaced=True,
                           local_palette=local),
                want_pixels=True,
            )
            assert (d["width"], d["height"]) == (w, h)
            assert d["pixels"] == want, (w, h, local)
        # plain non-interlaced local-palette variant too
        d = decode_gif(
            encode_gif(w, h, idx, pal, local_palette=True),
            want_pixels=True,
        )
        assert d["pixels"] == want

    # the decoy global table is genuinely wrong: decoding the HEADER
    # palette (reversed) gives different pixels unless palette is
    # palindromic — use a clearly asymmetric palette
    pal = [(0, 0, 0), (10, 20, 30), (200, 100, 50)]
    idx = bytes([0, 1, 2, 2, 1, 0])
    blob = encode_gif(3, 2, idx, pal, local_palette=True)
    good = decode_gif(blob, want_pixels=True)["pixels"]
    assert good == b"".join(bytes(pal[i]) for i in idx)

    # truncated local table raises the parse contract
    cut = blob[: 13 + 3 * 4 + 9 + 2]  # into the local table
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gif(cut)


def test_prefix_filter_equals_full_join(spark, sf_dir):
    """The AllPairs/PPJoin prefix + positional filters are LOSSLESS:
    on the planted near-dup corpus the output is row-identical to the
    full inverted-index exact-Jaccard join — at the home-regime
    t=0.8 AND at the adversarial low threshold t=0.5 (where the
    positional filter does the most pruning and a soundness bug
    would drop true pairs)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        _planted,
    )
    import pyspark.sql.functions as SF

    corpus = _planted(
        spark, sf_dir, 30, lambda t: SF.concat(t, SF.lit(" extra token tail"))
    )
    for t in (0.8, 0.5):
        full = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(corpus, threshold=t).collect()
        )
        pf = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in prefix_filter_pairs(corpus, threshold=t).collect()
        )
        assert pf == full, f"threshold {t}"
        assert len(full) >= 30  # every plant found


def test_prefix_filter_threshold_edges(spark):
    """Prefix length and length-filter edges: t=1.0 degenerates to
    exact set equality (prefix = 1 rarest shingle), and disjoint or
    below-threshold docs yield nothing."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff gg hh"),
            (2, "aa bb cc dd ee ff gg hh"),          # exact dup of 1
            (3, "aa bb cc dd ee zz yy xx"),          # partial overlap
            (4, "qq ww rr tt uu ii oo pp"),          # disjoint
        ],
        "doc_id long, text string",
    )
    eq = prefix_filter_pairs(df, threshold=1.0).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in eq] == [
        (1, 2, 1.0)
    ]
    half = {(r["doc_a"], r["doc_b"]) for r in
            prefix_filter_pairs(df, threshold=0.2).collect()}
    assert (1, 2) in half and (1, 3) in half and (2, 3) in half
    assert not any(4 in p for p in half)


def test_exact_substr_apply_produces_deduped_text(spark):
    """The PRODUCE step: surviving text equals the normalized token
    stream with every later-copy span cut — byte-for-byte on the
    unified (cross + self) fixture from
    test_exact_substr_self_and_unified_removal."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        exact_substring_apply,
    )

    span = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")  # 16 tokens
    doc1 = f"start words here {span} middle filler bits {span} end tail"
    doc2 = f"totally different lead {span} and another ending"
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           exact_substring_apply(df, include_self=True).collect()}
    # doc 1 keeps everything except the SECOND span occurrence
    assert got[1]["kept_text"] == (
        f"start words here {span} middle filler bits end tail"
    )
    assert got[1]["n_kept"] == 3 + 16 + 3 + 2
    # doc 2 (later id) loses its only copy
    assert got[2]["kept_text"] == (
        "totally different lead and another ending"
    )
    assert got[2]["n_kept"] == 6

    # cross-only mode keeps doc 1 fully intact
    cross = {r["doc_id"]: r for r in
             exact_substring_apply(df, include_self=False).collect()}
    assert cross[1]["n_kept"] == len(doc1.split())
    assert cross[2]["n_kept"] == 6


def test_triangle_counts_known_graph(spark):
    """Hand-built graph: K4 (1-4, three triangles per node), an
    isolated triangle (5-7, one each), a chain (8-9-10, none), a
    pendant off the K4 (11, none). Input includes a duplicated and a
    reversed pair to exercise canonicalization."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(5, 6), (6, 7), (5, 7), (8, 9), (9, 10), (1, 11)]
    edges += [(2, 1), (5, 6)]  # reversed + duplicate
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1, 7: 1}


def test_triangle_counts_hub_star(spark):
    """Skew shape: a hub with 30 leaves has NO triangles (star), and
    adding one leaf-leaf edge closes exactly one — the degree
    ordering must not double-count at the hub."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.dedup import (
        triangle_counts,
    )

    star = [(0, i) for i in range(1, 31)]
    df = spark.createDataFrame(star, "doc_a long, doc_b long")
    assert triangle_counts(df).count() == 0
    df2 = spark.createDataFrame(star + [(1, 2)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["n_triangles"] for r in triangle_counts(df2).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_feature_hash_vectors_portable_hash(spark):
    """The Spark md5-slice bucket/sign math matches a pure-Python
    reimplementation token-for-token, and per-doc totals conserve
    occurrences (sum n_terms == token count; |weight| <= n_terms
    with matching parity)."""
    import hashlib

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        feature_hash_vectors,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = feature_hash_vectors(df, dim=64).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r["bucket"] < 64
        assert r["weight"] != 0
        assert abs(r["weight"]) <= r["n_terms"]
        assert (r["n_terms"] - abs(r["weight"])) % 2 == 0
        by_doc.setdefault(r["doc_id"], {})[r["bucket"]] = (
            r["weight"], r["n_terms"],
        )
    # identical text -> identical vector
    assert by_doc[1] == by_doc[2]

    # pure-Python twin over doc 3
    expect: dict[int, int] = {}
    terms: dict[int, int] = {}
    for tok in rows[2][1].split():
        h = hashlib.md5(tok.encode()).hexdigest()
        bucket = int(h[:15], 16) % 64
        sign = 1 if int(h[15], 16) % 2 == 0 else -1
        expect[bucket] = expect.get(bucket, 0) + sign
        terms[bucket] = terms.get(bucket, 0) + 1
    expect_nz = {
        b: (w, terms[b]) for b, w in expect.items() if w != 0
    }
    assert by_doc[3] == expect_nz


def test_lsh_recall_bounds(spark, sf_dir):
    """The recall audit is internally consistent: LSH-verified pairs
    are a subset of the lossless exact pairs, so n_lsh <= n_exact and
    0 < recall4 <= 1 with the quotient matching the counts."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        dedup_lsh_recall,
    )

    row = dedup_lsh_recall(spark, sf_dir).collect()[0]
    assert row["n_exact"] >= 30  # every plant is a true pair
    assert 0 < row["n_lsh"] <= row["n_exact"]
    assert row["recall4"] == round(row["n_lsh"] / row["n_exact"], 4)


def test_qoi_codec_hypothesis_round_trip():
    """Property: arbitrary RGB/RGBA images round-trip bit-exactly
    through the pure-Python QOI codec pair. The pixel strategy mixes
    repeats (RUN), +/-2 walks (DIFF), luma-range walks (LUMA), fresh
    colors (RGB/INDEX), and alpha steps (RGBA) so all op families
    are exercised under shrinkage."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_qoi,
        encode_qoi,
    )

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(1, 12), st.integers(1, 9),
        st.sampled_from([3, 4]), st.randoms(use_true_random=False),
    )
    def check(w, h, ch, rng):
        px = bytearray()
        prev = [0, 0, 0, 255]
        for i in range(w * h):
            mode = rng.randint(0, 5)
            if mode <= 1 and i:
                pass
            elif mode == 2:
                prev = [
                    (prev[j] + rng.randint(-2, 1)) % 256 for j in range(3)
                ] + [prev[3]]
            elif mode == 3:
                dg = rng.randint(-32, 31)
                prev = [
                    (prev[0] + dg + rng.randint(-8, 7)) % 256,
                    (prev[1] + dg) % 256,
                    (prev[2] + dg + rng.randint(-8, 7)) % 256,
                    prev[3],
                ]
            elif mode == 4:
                prev = [rng.randrange(256) for _ in range(3)] + [prev[3]]
            else:
                prev = [rng.randrange(256) for _ in range(4)]
            px += bytes(prev[:ch])
        out = decode_qoi(encode_qoi(w, h, ch, bytes(px)), want_pixels=True)
        assert out["pixels"] == bytes(px)
        assert out["pixel_sum"] == sum(px)
        assert (out["width"], out["height"], out["channels"]) == (w, h, ch)

    check()


def test_qoi_fixture_covers_all_ops_and_guards(spark):
    """The synth_qois fixture streams collectively contain ALL SIX
    QOI op families (so the decode query exercises every branch),
    runs longer than 62 pixels split correctly, and malformed
    streams raise instead of returning short images."""
    import pytest as pt

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _QOI_END,
        decode_qoi,
        encode_qoi,
        synth_qois,
    )

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    blobs = [bytes(r["content"]) for r in synth_qois(docs).collect()]
    ops = set()
    for blob in blobs:
        pos, end = 14, len(blob) - 8
        while pos < end:
            b1 = blob[pos]
            if b1 == 0xFE:
                ops.add("RGB"); pos += 4
            elif b1 == 0xFF:
                ops.add("RGBA"); pos += 5
            elif b1 >> 6 == 0:
                ops.add("INDEX"); pos += 1
            elif b1 >> 6 == 1:
                ops.add("DIFF"); pos += 1
            elif b1 >> 6 == 2:
                ops.add("LUMA"); pos += 2
            else:
                ops.add("RUN"); pos += 1
    assert ops == {"RGB", "RGBA", "INDEX", "DIFF", "LUMA", "RUN"}

    # >62-pixel run splits into multiple RUN ops and round-trips
    px = bytes([9, 8, 7]) * 130
    out = decode_qoi(encode_qoi(13, 10, 3, px), want_pixels=True)
    assert out["pixels"] == px

    # guards: bad magic, truncated ops, run overflow, trailing ops
    with pt.raises(ValueError, match="magic"):
        decode_qoi(b"nope" + bytes(20))
    good = encode_qoi(2, 2, 3, bytes(range(12)))
    with pt.raises(ValueError):
        decode_qoi(good[:14] + _QOI_END)  # ops ended early
    # a 63-pixel run claim on a 4-pixel image overflows the count
    bad_run = good[:14] + bytes([0xC0 | 62]) + _QOI_END
    with pt.raises(ValueError, match="overflow|early|trailing"):
        decode_qoi(bad_run)


def test_markov_transitions_hand_sequences(spark):
    """Known sequences: user 1 walks a->b->a->c, user 2 walks a->b;
    transition counts and row-normalized probabilities follow, and
    cross-user boundaries never produce a transition."""
    import datetime as dt

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import (
        events_markov_transitions,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i, (uid, types) in enumerate([(1, "abac"), (2, "ab")]):
        for j, ch in enumerate(types):
            rows.append((i * 100 + j, t0 + dt.timedelta(minutes=j), uid, ch, 0.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import os
    d = "/tmp/markov_fixture"
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {
        (r["prev_type"], r["event_type"]): (r["n_transitions"], r["prob4"])
        for r in events_markov_transitions(spark, d).collect()
    }
    assert got == {
        ("a", "b"): (2, 0.6667),
        ("a", "c"): (1, 0.3333),
        ("b", "a"): (1, 1.0),
    }


def test_minhash_estimator_error_bounds(spark, sf_dir):
    """Estimator view consistency: n_match in 0..12, est4 is exactly
    n_match/12, exact4 in (0, 1], and every emitted pair is an LSH
    candidate (shares at least one full band -> n_match >= 3)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        dedup_minhash_estimator_error,
    )

    rows = dedup_minhash_estimator_error(spark, sf_dir).collect()
    assert len(rows) >= 30
    for r in rows:
        assert 3 <= r["n_match"] <= 12  # a shared band = 3 equal components
        assert r["est4"] == round(r["n_match"] / 12, 4)
        assert 0 < r["exact4"] <= 1


def test_source_tv_divergence_hand_corpus(spark):
    """Hand-computable TV: source A = (x x y), source B = (y z);
    TV(A) = 1/2(|2/3-2/5| + |1/3-2/5| + 1/5) = 0.2667,
    TV(B) = 1/2(2/5 + |1/2-2/5| + |1/2-1/5|) = 0.4 — including the
    missing-term mass folded closed-form."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.text import (
        source_tv_divergence,
    )

    df = spark.createDataFrame(
        [(1, "x x y", "A"), (2, "y z", "B")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: (r["n_tokens"], r["tv4"])
           for r in source_tv_divergence(df).collect()}
    assert got == {"A": (3, 0.2667), "B": (2, 0.4)}


def test_transcode_png_to_qoi_pixel_exact(spark):
    """The transcode stage is lossless: for each PNG layout (gray,
    RGB, RGBA) the QOI re-encode round-trips the (expanded) pixel
    bytes exactly, and gray expansion triples each sample."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_png,
        decode_qoi,
        encode_qoi,
        synth_pngs,
        transcode_pngs_to_qoi,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    pngs = {r["doc_id"]: bytes(r["content"]) for r in synth_pngs(docs).collect()}
    out = {r["doc_id"]: r for r in transcode_pngs_to_qoi(synth_pngs(docs)).collect()}
    assert len(out) == 12
    for d, blob in pngs.items():
        meta = decode_png(blob, want_pixels=True)
        px, ch = meta["pixels"], meta["channels"]
        if ch == 1:
            px = bytes(b for s in px for b in (s, s, s))
            ch = 3
        r = out[d]
        assert (r["width"], r["height"], r["channels"]) == (
            meta["width"], meta["height"], ch,
        )
        assert r["img_format"] == "qoi"
        assert r["pixel_sum"] == sum(px)
        # bit-exact round trip through the re-encoded container
        rt = decode_qoi(
            encode_qoi(meta["width"], meta["height"], ch, px),
            want_pixels=True,
        )
        assert rt["pixels"] == px


def test_token_budget_greedy_prefix_property(spark):
    """Greedy semantics on a hand corpus: kept docs are exactly the
    quality-ranked prefix whose running token total fits the budget,
    and the next-ranked doc would overflow it."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.sampling import (
        token_budget_selection,
    )

    # quality = q, tokens = n; budget_frac 0.5 of total 100 -> 50
    rows = [
        (1, 10, 30),  # rank 1 (q=10): cum 30, kept
        (2, 9, 15),   # rank 2: cum 45, kept
        (3, 8, 10),   # rank 3: cum 55 > 50, cut — and everything after
        (4, 7, 5),
        (5, 6, 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, q long, n_tokens long")
    got = {r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
           for r in token_budget_selection(
               df, "q", "n_tokens", budget_frac=0.5).collect()}
    assert got == {1: (30, 30), 2: (15, 45)}

    # tie on quality breaks by doc_id ascending
    tied = spark.createDataFrame(
        [(1, 5, 20), (2, 5, 20), (3, 5, 20)],
        "doc_id long, q long, n_tokens long",
    )
    kept = sorted(
        r["doc_id"] for r in token_budget_selection(
            tied, "q", "n_tokens", budget_frac=0.67).collect()
    )
    assert kept == [1, 2]  # 40 <= floor(60*0.67)=40, third would be 60


# ---------------------------------------------------------------------------
# IMA ADPCM audio codec (r10 third window)
# ---------------------------------------------------------------------------

def _adpcm_reference(pred, idx, nibbles):
    """Independent pure-Python replay of the IMA recurrence used to
    pin the codec (the SQL oracle is a third implementation)."""
    step_tab = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
        19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
        50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
        130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
        337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
        876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
        5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
        15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ]
    idx_tab = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]
    out = [pred]
    for nib in nibbles:
        step = step_tab[idx]
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + idx_tab[nib]))
        out.append(pred)
    return out


def test_adpcm_wav_round_trip_matches_reference():
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_wav,
        encode_wav_adpcm,
    )

    cases = [
        (0, 0, [0, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14]),
        (2000, 88, [7, 7, 7, 7, 7, 7, 7, 7, 7, 7]),       # clamp high
        (-2000, 88, [15, 15, 15, 15, 15, 15, 15, 15]),     # clamp low
        (-42, 44, [(7 * i + 5) % 16 for i in range(40)]),
    ]
    for pred, idx, nibs in cases:
        blob = encode_wav_adpcm(8000, pred, idx, nibs)
        out = decode_wav(blob, want_samples=True)
        exp = _adpcm_reference(pred, idx, nibs)
        assert out["samples"] == exp
        assert out["bits"] == 4 and out["channels"] == 1
        assert out["n_samples"] == len(nibs) + 1
        assert out["abs_sum"] == sum(abs(s) for s in exp)
    # clamps were actually hit in the designed cases
    high = _adpcm_reference(2000, 88, [7] * 10)
    low = _adpcm_reference(-2000, 88, [15] * 8)
    assert max(high) == 32767 and min(low) == -32768


def test_adpcm_encoder_rejects_odd_nibble_count():
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        encode_wav_adpcm,
    )

    with pytest.raises(ValueError):
        encode_wav_adpcm(8000, 0, 0, [1, 2, 3])


def test_adpcm_container_structure():
    """The format-0x11 container carries the 20-byte fmt chunk with
    wSamplesPerBlock, a fact chunk, and a data block whose header
    predictor is the first sample — field-level checks so a reader
    from the spec (not from this encoder) parses it."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        encode_wav_adpcm,
    )

    blob = encode_wav_adpcm(8000, -1234, 17, [3, 9] * 5)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert blob[12:16] == b"fmt " and struct.unpack("<I", blob[16:20])[0] == 20
    fmt = struct.unpack("<HHIIHHHH", blob[20:40])
    assert fmt[0] == 0x11 and fmt[1] == 1 and fmt[5] == 4
    assert fmt[7] == 11                   # samples per block
    assert blob[40:44] == b"fact"
    assert struct.unpack("<I", blob[48:52])[0] == 11
    assert blob[52:56] == b"data"
    body = blob[60:]
    assert struct.unpack("<h", body[:2])[0] == -1234
    assert body[2] == 17


# ---------------------------------------------------------------------------
# TIFF codec (r10 third window)
# ---------------------------------------------------------------------------

def test_packbits_round_trip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=600))
    def check(data):
        assert _packbits_decode(_packbits_encode(data), len(data)) == data

    check()


def test_tiff_codec_hypothesis_round_trip():
    """Property: geometry x channels x compression x byte order x
    strip height all round-trip pixel-exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(1, 12), st.integers(1, 10), st.sampled_from([1, 3]),
        st.booleans(), st.booleans(), st.integers(1, 11),
        st.randoms(use_true_random=False),
    )
    def check(w, h, ch, packbits, big_endian, rps, rng):
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        blob = encode_tiff(
            w, h, px, ch, packbits=packbits, big_endian=big_endian,
            rows_per_strip=rps,
        )
        out = decode_tiff(blob, want_pixels=True)
        assert out["pixels"] == px
        assert (out["width"], out["height"], out["channels"]) == (w, h, ch)
        assert out["pixel_sum"] == sum(px)

    check()


def test_tiff_rejects_unsupported_and_truncated():
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    blob = bytearray(encode_tiff(4, 4, bytes(range(16)), 1, rows_per_strip=2))
    # find the Compression entry (tag 259) in the IFD and flip to LZW (5)
    (ifd_off,) = struct.unpack("<I", bytes(blob[4:8]))
    (n,) = struct.unpack("<H", bytes(blob[ifd_off : ifd_off + 2]))
    for k in range(n):
        base = ifd_off + 2 + 12 * k
        tag = struct.unpack("<H", bytes(blob[base : base + 2]))[0]
        if tag == 259:
            blob[base + 8 : base + 10] = struct.pack("<H", 5)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(blob))
    with pytest.raises(ValueError):
        decode_tiff(b"II+\x00garbage")
    # single-strip file with StripByteCounts inflated past EOF — the
    # truncated-strip guard must fire, not a silent short read
    good = bytearray(encode_tiff(4, 4, bytes(range(16)), 1, rows_per_strip=4))
    (ifd_off,) = struct.unpack("<I", bytes(good[4:8]))
    (n,) = struct.unpack("<H", bytes(good[ifd_off : ifd_off + 2]))
    for k in range(n):
        base = ifd_off + 2 + 12 * k
        tag = struct.unpack("<H", bytes(good[base : base + 2]))[0]
        if tag == 279:
            good[base + 8 : base + 12] = struct.pack("<I", 10_000)
    with pytest.raises(ValueError):
        decode_tiff(bytes(good))


def test_tiff_fixture_streams_cover_both_orders_and_packbits(spark):
    """The synth fixture must exercise II and MM, gray and RGB,
    PackBits and uncompressed, and short final strips — otherwise
    the oracle row proves less than the docstring claims."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        synth_tiffs,
    )

    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    blobs = {r["doc_id"]: bytes(r["content"])
             for r in synth_tiffs(docs).collect()}
    orders = {b[:2] for b in blobs.values()}
    assert orders == {b"II", b"MM"}
    import struct

    comps = set()
    for d, b in blobs.items():
        e = "<" if b[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(e + "I", b[4:8])
        (n,) = struct.unpack(e + "H", b[ifd_off : ifd_off + 2])
        for k in range(n):
            base = ifd_off + 2 + 12 * k
            tag = struct.unpack(e + "H", b[base : base + 2])[0]
            if tag == 259:
                comps.add(struct.unpack(e + "H", b[base + 8 : base + 10])[0])
    assert comps == {1, 32773}


# ---------------------------------------------------------------------------
# Basket lift / RFM / split leakage (r10 third window)
# ---------------------------------------------------------------------------

def test_basket_lift_math_planted(spark, tmp_path):
    """Four orders with known co-occurrence: parts (1,2) appear
    together in 3 of 4 orders; support/confidence/lift ppm values
    follow by hand."""
    import pyspark.sql.functions as SF

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    rows = []
    baskets = {10: [1, 2, 3], 11: [1, 2], 12: [1, 2], 13: [1, 3]}
    ln = 0
    for ok, parts in baskets.items():
        for p in parts:
            ln += 1
            rows.append((ok, p, 99, ln, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         "1995-01-01"))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", SF.to_date("l_shipdate"))
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/lineitem.parquet")
    got = {
        (r["part_a"], r["part_b"]): r
        for r in R.events_basket_lift(
            spark, d, min_item_support=2, min_pair_support=2
        ).collect()
    }
    r12 = got[(1, 2)]
    # pair(1,2)=3, cnt(1)=4, cnt(2)=3, n_orders=4
    assert r12["pair_cnt"] == 3 and r12["cnt_a"] == 4 and r12["cnt_b"] == 3
    assert r12["support_ppm"] == 750000          # 3/4
    assert r12["confidence_ppm"] == 750000       # 3/4
    assert r12["lift_ppm"] == 1000000            # (3*4)/(4*3)
    r13 = got[(1, 3)]
    assert r13["pair_cnt"] == 2 and r13["lift_ppm"] == 1000000
    # (2,3) co-occur only once — below min_pair_support, filtered
    assert (2, 3) not in got


def test_distributed_ntile_matches_sql_ntile(spark):
    """The factored helper must agree with ntile() for every bucket
    count and tie pattern, including n not divisible by buckets."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import (
        _distributed_ntile,
    )

    rows = [(i, (i * 37) % 11) for i in range(97)]   # heavy ties
    df = spark.createDataFrame(rows, "uid long, metric long")
    for k in (3, 5, 10):
        got = {
            r["uid"]: r["q"]
            for r in _distributed_ntile(
                df, k, [F.asc("metric"), F.asc("uid")], "q"
            ).collect()
        }
        exp = {
            r["uid"]: r["q"]
            for r in df.selectExpr(
                "uid",
                f"ntile({k}) OVER (ORDER BY metric ASC, uid ASC) AS q",
            ).collect()
        }
        assert got == exp, f"k={k}"


def test_rfm_includes_zero_purchase_users(spark, tmp_path):
    """A user with activity but no purchases must appear with
    freq=0 / monetary=0, not drop out of the scorecard."""
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(10):
        for k in range(3):
            eid += 1
            etype = "purchase" if (u + k) % 3 == 0 and u != 4 else "view"
            rows.append(
                (eid, base + datetime.timedelta(days=u, hours=k),
                 f"u{u}", etype, float(u * 10 + k), "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    seg = R.events_rfm_segments(spark, d).collect()
    assert sum(r["n_users"] for r in seg) == 10
    assert all(1 <= r[c] <= 5 for r in seg for c in ("r_q", "f_q", "m_q"))


def test_split_leakage_against_brute_force(spark):
    """Independent pin: hand-compute normalized 3-gram Jaccard and
    the md5 split bucket for a small corpus; the operator composition
    must report exactly the >= 0.8 pairs with the right leak flags."""
    import hashlib
    import re

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        text as TT,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota kappa extra",
        3: "one two three four five six seven eight nine ten",
        4: "one two three four five six seven eight nine ten extra",
        5: "completely different content with no overlap at all here",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = DD.prefix_filter_pairs(df, threshold=0.8)
    splits = TT.leakage_safe_split(df)
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    got = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["split_a"], r["split_b"])
        for r in pairs.join(sa, "doc_a").join(sb, "doc_b").collect()
    }

    def norm(t):
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        return re.sub(r" +", " ", t).strip()

    def shingles(t):
        w = norm(t).split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    def bucket(t):
        return int(hashlib.md5(norm(t).encode()).hexdigest()[:15], 16) % 100

    exp = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            si, sj = shingles(texts[i]), shingles(texts[j])
            jac = round(len(si & sj) / len(si | sj), 4)
            if jac >= 0.8:
                spl_i = "val" if bucket(texts[i]) < 10 else "train"
                spl_j = "val" if bucket(texts[j]) < 10 else "train"
                exp[(i, j)] = (jac, spl_i, spl_j)
    assert got == exp and len(exp) == 2


# ---------------------------------------------------------------------------
# TGA codec / rolling MAD / diversity / k-anonymity (r10 third window)
# ---------------------------------------------------------------------------

def test_tga_codec_hypothesis_round_trip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tga,
        encode_tga,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(1, 14), st.integers(1, 9), st.sampled_from([1, 3]),
        st.booleans(), st.booleans(), st.booleans(),
        st.randoms(use_true_random=False),
    )
    def check(w, h, ch, rle, top_down, runs, rng):
        if runs:
            px = bytes(rng.choice([9, 10]) for _ in range(w * h * ch))
        else:
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        out = decode_tga(
            encode_tga(w, h, px, ch, rle=rle, top_down=top_down),
            want_pixels=True,
        )
        assert out["pixels"] == px
        assert (out["width"], out["height"], out["channels"]) == (w, h, ch)

    check()


def test_tga_guards_and_footer_dispatch():
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_image,
        decode_tga,
        encode_tga,
    )

    px = bytes(range(12))
    blob = encode_tga(2, 2, px, 3, rle=False, top_down=True)
    assert decode_image(blob)["img_format"] == "tga"
    with pytest.raises(ValueError):
        decode_tga(blob[:-26])               # footer stripped
    # colormapped type must raise the declared seam
    b = bytearray(blob)
    b[1], b[2] = 1, 1
    with pytest.raises(NotImplementedError):
        decode_tga(bytes(b))
    # truncated RLE stream
    rle_blob = bytearray(encode_tga(4, 4, bytes(48), 3, rle=True))
    clipped = bytes(rle_blob[:20]) + rle_blob[-26:]
    with pytest.raises(ValueError):
        decode_tga(clipped)
    # bottom-up vs top-down must decode to the same logical image
    down = encode_tga(3, 2, px[: 3 * 2 * 1], 1, top_down=True)
    up = encode_tga(3, 2, px[: 3 * 2 * 1], 1, top_down=False)
    assert down != up
    assert (
        decode_tga(down, want_pixels=True)["pixels"]
        == decode_tga(up, want_pixels=True)["pixels"]
    )
    # origin bit really flips the stored rows
    hdr_desc_down = down[17] & 0x20
    hdr_desc_up = up[17] & 0x20
    assert hdr_desc_down and not hdr_desc_up
    assert struct.unpack("<H", down[12:14])[0] == 3


def test_rolling_mad_against_brute_force(spark, tmp_path):
    """Pin the window semantics against a plain-Python replay:
    per-user trailing-7 frames, average-of-middles median, 3-MAD
    flag."""
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    base = datetime.datetime(2024, 3, 1)
    vals = {
        "a": [1.0, 1.5, 1.2, 9.9, 1.1, 1.3, 1.4, 1.2, 50.0, 1.1],
        "b": [5.0, 5.0, 5.0, 5.0],
    }
    rows, eid = [], 0
    for u, vs in vals.items():
        for k, v in enumerate(vs):
            eid += 1
            rows.append((eid, base + datetime.timedelta(minutes=k), u,
                         "click", v, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    got = {
        r["event_id"]: r
        for r in R.events_rolling_mad_anomaly(spark, d).collect()
    }

    def median(xs):
        s, n = sorted(xs), len(xs)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0

    eid = 0
    for u, vs in vals.items():
        for k, v in enumerate(vs):
            eid += 1
            frame = vs[max(0, k - 6) : k + 1]
            med = median(frame)
            mad = median([abs(x - med) for x in frame])
            r = got[eid]
            assert r["n_in_frame"] == len(frame)
            assert r["med"] == round(med, 4) and r["mad"] == round(mad, 4)
            assert r["is_anomaly"] == (1 if abs(v - med) > 3 * mad else 0)
    # the spikes are flagged, the plateau user is not
    spikes = [e for e, r in got.items() if r["is_anomaly"]]
    assert len(spikes) >= 2 and all(got[e]["value"] in (9.9, 50.0) for e in spikes)


def test_diversity_ppm_exact_integers(spark, tmp_path):
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    # u0: 4 events of one type -> diversity 0
    # u1: 2+2 of two types -> 1 - (4+4)/16 = 0.5 -> 500000
    # u2: 3+1 -> 1 - (9+1)/16 = 0.375 -> 375000
    plan = {"u0": ["a"] * 4, "u1": ["a", "a", "b", "b"],
            "u2": ["a", "a", "a", "b"]}
    for u, types in plan.items():
        for k, t in enumerate(types):
            eid += 1
            rows.append((eid, base + datetime.timedelta(hours=k), u, t,
                         1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    got = {r["user_id"]: r["diversity_ppm"]
           for r in R.events_user_diversity(spark, d).collect()}
    assert got == {"u0": 0, "u1": 500000, "u2": 375000}


def test_kanonymity_flags_small_classes(spark, tmp_path):
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    day = datetime.datetime(2024, 6, 1, 12)
    rows, eid = [], 0
    # class A: 6 distinct users -> safe; class B: 2 users -> at risk
    for u in range(6):
        eid += 1
        rows.append((eid, day, f"a{u}", "view", 150.0, "{}"))
    for u in range(2):
        eid += 1
        rows.append((eid, day, f"b{u}", "purchase", 950.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    got = {(r["event_type"], r["value_bucket"]): r
           for r in R.events_kanonymity(spark, d).collect()}
    assert got[("view", 1)]["n_users"] == 6
    assert got[("view", 1)]["at_risk"] == 0
    assert got[("purchase", 9)]["n_users"] == 2
    assert got[("purchase", 9)]["at_risk"] == 1


# ---------------------------------------------------------------------------
# Churn hazard / bounded k-core (r10 third window)
# ---------------------------------------------------------------------------

def test_churn_hazard_life_table(spark, tmp_path):
    """Hand-built lifetimes: 4 users churn at day 0, 3 at day 2,
    3 at day 5 — the at-risk counts and ppm hazards follow by
    hand."""
    import datetime

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import relational as R

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    lifetimes = [0, 0, 0, 0, 2, 2, 2, 5, 5, 5]
    for u, lt in enumerate(lifetimes):
        for day in {0, lt}:
            eid += 1
            rows.append((eid, base + datetime.timedelta(days=day),
                         f"u{u}", "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    got = {r["lifetime_days"]: r
           for r in R.events_churn_hazard(spark, d).collect()}
    assert got[0]["n_churned"] == 4 and got[0]["n_at_risk"] == 10
    assert got[0]["hazard_ppm"] == 400000
    assert got[2]["n_churned"] == 3 and got[2]["n_at_risk"] == 6
    assert got[2]["hazard_ppm"] == 500000
    assert got[5]["n_churned"] == 3 and got[5]["n_at_risk"] == 3
    assert got[5]["hazard_ppm"] == 1000000


def test_kcore_peels_planted_graph(spark):
    """K4 + pendant chain: the 2-core keeps the K4 and drops the
    chain; the 3-core keeps exactly the K4 at degree 3; k=5 peels
    everything (empty, converged)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    pairs = spark.createDataFrame(k4 + chain, "doc_a long, doc_b long")
    core3 = {r["node"]: r for r in DD.k_core_bounded(pairs, k=3).collect()}
    assert set(core3) == {1, 2, 3, 4}
    assert all(r["degree"] == 3 and r["converged"] == 1
               for r in core3.values())
    core2 = {r["node"] for r in DD.k_core_bounded(pairs, k=2).collect()}
    assert core2 == {1, 2, 3, 4}
    core5 = DD.k_core_bounded(pairs, k=5).collect()
    assert core5 == []


def test_kcore_round_bound_reported(spark):
    """A long chain peels one node per end per round — at rounds=2
    the operator must report converged=0 (bound artifact), and the
    same call with enough rounds converges to the empty 2-core."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    bounded = DD.k_core_bounded(pairs, k=2, rounds=2).collect()
    assert bounded and all(r["converged"] == 0 for r in bounded)
    full = DD.k_core_bounded(pairs, k=2, rounds=10).collect()
    assert full == []


# ---------------------------------------------------------------------------
# Perceptual image hashing (r10 third window)
# ---------------------------------------------------------------------------

def test_ahash_bands_math():
    """Pin the hash math on a hand-checkable image: a half-dark /
    half-bright 8x8 grayscale image hashes to bands where exactly
    the bright half's bits are set."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        average_hash_bands,
    )

    px = bytes([10] * 32 + [200] * 32)       # rows 0-3 dark, 4-7 bright
    bands = average_hash_bands(px, 8, 8, 1)
    assert bands == [0, 0, 0xFFFF, 0xFFFF]
    # RGB image collapses to the same grayscale
    rgb = b"".join(bytes((v, v, v)) for v in px)
    assert average_hash_bands(rgb, 8, 8, 3) == bands
    # constant image: no bit strictly exceeds the mean -> all zero
    assert average_hash_bands(bytes([77] * 64), 8, 8, 1) == [0, 0, 0, 0]


def test_phash_banding_lossless_at_radius_3(spark):
    """Property the operator claims: banded candidates + verify ==
    brute-force Hamming pairs at radius <= 3 (pigeonhole over 4
    bands). Random band quadruples with planted near-misses."""
    import random

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    rnd = random.Random(11)
    rows = []
    for i in range(60):
        rows.append((i, rnd.getrandbits(16), rnd.getrandbits(16),
                     rnd.getrandbits(16), rnd.getrandbits(16)))
    # plant close pairs: copy with <=3 flipped bits
    for j in range(20):
        base = rows[j]
        b = list(base[1:])
        for _ in range(rnd.randrange(0, 4)):
            k = rnd.randrange(4)
            b[k] ^= 1 << rnd.randrange(16)
        rows.append((1000 + j, *b))
    df = spark.createDataFrame(
        rows, "doc_id long, b0 int, b1 int, b2 int, b3 int"
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in DD.phash_hamming_pairs(df, max_hamming=3).collect()}
    exp = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            hd = sum(bin(a[k + 1] ^ b[k + 1]).count("1") for k in range(4))
            if hd <= 3:
                lo, hi = sorted((a[0], b[0]))
                exp[(lo, hi)] = hd
    assert got == exp and len(exp) >= 15


def test_segment_ttr_planted(spark):
    """120-token doc: segment 0 all-distinct (ttr 1e6), segment 1 a
    single repeated type (ttr 20000), segment 2 half-distinct."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        text as TT,
    )

    seg0 = " ".join(f"w{i}" for i in range(50))
    seg1 = " ".join(["dup"] * 50)
    seg2 = " ".join(f"x{i // 2}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{seg0} {seg1} {seg2}")], "doc_id long, text string"
    )
    got = {r["seg"]: r for r in TT.segment_ttr(df).collect()}
    assert got[0]["n_tokens"] == 50 and got[0]["n_types"] == 50
    assert got[0]["ttr_ppm"] == 1000000
    assert got[1]["n_tokens"] == 50 and got[1]["n_types"] == 1
    assert got[1]["ttr_ppm"] == 20000
    assert got[2]["n_tokens"] == 20 and got[2]["n_types"] == 10
    assert got[2]["ttr_ppm"] == 500000


def test_phash_hamming_pairs_leaves_caller_frame_uncached(spark):
    """The pair finder caches its own projection of the band table,
    never the caller's frame."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    df = spark.createDataFrame(
        [(1, 0x0000, 0, 0, 0), (2, 0x0003, 0, 0, 0), (3, 0xFFFF, 7, 0, 0)],
        "doc_id long, b0 int, b1 int, b2 int, b3 int",
    )
    pairs = DD.phash_hamming_pairs(df, max_hamming=3)
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 2)]
    assert not df.is_cached


def test_phash_components_transitive_chain(spark):
    """A-B and B-C within radius 3 but A-C outside it: components
    must still close the chain into one group labeled min(id)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    rows = [
        (1, 0x0000, 0, 0, 0),
        (2, 0x0003, 0, 0, 0),   # hamming(1,2)=2
        (3, 0x003B, 0, 0, 0),   # hamming(2,3)=3, hamming(1,3)=5
        (9, 0xFFFF, 0xFFFF, 0, 0),  # isolated
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, b0 int, b1 int, b2 int, b3 int"
    )
    pairs = DD.phash_hamming_pairs(df, max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert got == {(1, 2): 2, (2, 3): 3}
    comp = {r["id"]: r["component_id"]
            for r in DD.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# r11 ADVICE seam guards: planar/rotated TIFF, metadata IFD types,
# stereo ADPCM, right-to-left TGA, TIFF word alignment
# ---------------------------------------------------------------------------

def _tiff_overwrite_entry(blob: bytes, victim_tag: int, new_tag: int,
                          new_type: int, new_count: int,
                          new_value: bytes) -> bytes:
    """Rewrite one IFD entry in a little-endian TIFF (test helper for
    injecting foreign tags without re-laying-out the file)."""
    import struct

    b = bytearray(blob)
    (ifd_off,) = struct.unpack("<I", bytes(b[4:8]))
    (n,) = struct.unpack("<H", bytes(b[ifd_off : ifd_off + 2]))
    for k in range(n):
        base = ifd_off + 2 + 12 * k
        tag = struct.unpack("<H", bytes(b[base : base + 2]))[0]
        if tag == victim_tag:
            b[base : base + 12] = (
                struct.pack("<HHI", new_tag, new_type, new_count)
                + new_value.ljust(4, b"\x00")
            )
            return bytes(b)
    raise AssertionError(f"tag {victim_tag} not found")


def test_tiff_rejects_planar_configuration():
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    blob = encode_tiff(4, 4, bytes(range(16)), 1, rows_per_strip=4)
    # replace RowsPerStrip (278, defaulting to height is harmless for
    # this single-strip file) with PlanarConfiguration=2
    bad = _tiff_overwrite_entry(blob, 278, 284, 3, 1, struct.pack("<H", 2))
    with pytest.raises(NotImplementedError, match="PlanarConfiguration"):
        decode_tiff(bad)


def test_tiff_rejects_nontrivial_orientation():
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    blob = encode_tiff(4, 4, bytes(range(16)), 1, rows_per_strip=4)
    bad = _tiff_overwrite_entry(blob, 278, 274, 3, 1, struct.pack("<H", 6))
    with pytest.raises(NotImplementedError, match="Orientation"):
        decode_tiff(bad)


def test_tiff_skips_rational_and_ascii_metadata_tags():
    """A RATIONAL XResolution (type 5) or ASCII Software (type 2)
    entry must be skipped, not crash the IFD walk (real-world files
    carry these routinely)."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    px = bytes(range(16))
    blob = encode_tiff(4, 4, px, 1, rows_per_strip=4)
    # XResolution: RATIONAL, offset points at arbitrary in-file bytes
    tampered = _tiff_overwrite_entry(
        blob, 278, 282, 5, 1, struct.pack("<I", 8)
    )
    out = decode_tiff(tampered, want_pixels=True)
    assert out["pixels"] == px
    # ASCII Software tag, inline value
    tampered = _tiff_overwrite_entry(blob, 278, 305, 2, 3, b"ab\x00")
    out = decode_tiff(tampered, want_pixels=True)
    assert out["pixels"] == px


def test_tiff_encoder_word_alignment():
    """TIFF 6.0: value arrays and the IFD must start on even offsets
    even when strip byte counts are odd (3-wide gray rows, PackBits
    outputs of odd length)."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    for packbits in (False, True):
        px = bytes((5 * i) % 256 for i in range(3 * 5))  # 3x5 gray
        blob = encode_tiff(3, 5, px, 1, packbits=packbits,
                           rows_per_strip=1)
        (ifd_off,) = struct.unpack("<I", blob[4:8])
        assert ifd_off % 2 == 0
        (n,) = struct.unpack("<H", blob[ifd_off : ifd_off + 2])
        for k in range(n):
            base = ifd_off + 2 + 12 * k
            tag, typ, count = struct.unpack(
                "<HHI", blob[base : base + 8]
            )
            size = {3: 2, 4: 4}[typ] * count
            if size > 4:  # out-of-line array: offset must be even
                (off,) = struct.unpack("<I", blob[base + 8 : base + 12])
                assert off % 2 == 0, f"tag {tag} at odd offset {off}"
        assert decode_tiff(blob, want_pixels=True)["pixels"] == px


def test_adpcm_rejects_stereo():
    """A stereo format-0x11 WAV interleaves per-channel block headers
    — decoding it with the mono state machine would produce garbage,
    so the channel guard must fire."""
    import struct

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_wav,
        encode_wav_adpcm,
    )

    blob = bytearray(encode_wav_adpcm(8000, 100, 5, [1, 2, 3, 4]))
    # fmt chunk data starts at byte 20; nChannels is its 2nd field
    blob[22:24] = struct.pack("<H", 2)
    with pytest.raises(NotImplementedError, match="multi-channel"):
        decode_wav(bytes(blob))


def test_tga_rejects_right_to_left_storage():
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.multimodal import (
        decode_tga,
        encode_tga,
    )

    blob = bytearray(encode_tga(3, 2, bytes(range(18)), 3))
    blob[17] |= 0x10                   # descriptor bit 4
    with pytest.raises(NotImplementedError, match="right-to-left"):
        decode_tga(bytes(blob))


# ---------------------------------------------------------------------------
# r11: incremental IVF index maintenance
# ---------------------------------------------------------------------------

def test_ivf_incremental_assign_planted_clusters(spark):
    """Two well-separated clusters; history covers both, the new
    batch lands in cluster A. The stale (history-trained) assignment
    must put batch vectors with A's members, the fresh retrain must
    agree (drifted=0), and stale_sim must be near 1."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        similarity as S,
    )

    def vec(axis, wiggle):
        v = [0.0] * 64
        v[axis] = 1.0
        v[(axis + 2) % 64] = wiggle
        return v

    hist_rows = [(i, vec(0, 0.01 * (i % 3))) for i in range(10)] + [
        (10 + i, vec(1, 0.01 * (i % 3))) for i in range(10)
    ]
    batch_rows = [(100, vec(0, 0.02)), (101, vec(0, 0.0))]
    schema = "vec_id long, embedding array<double>"
    history = spark.createDataFrame(hist_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    out = S.ivf_incremental_assign(history, batch, n_centroids=2, dim=64)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {100, 101}
    for r in rows.values():
        assert r["drifted"] == 0
        assert r["stale_sim"] > 0.95
        # label-invariant drift: the refreshed codebook fits a stable
        # batch no better than the stale one (same partition, means
        # nudged by two extra members)
        assert abs(r["fresh_sim"] - r["stale_sim"]) < S.IVF_DRIFT_EPS
    # both batch vectors are cluster-A-like: same centroid
    assert rows[100]["stale_centroid"] == rows[101]["stale_centroid"]


def test_ivf_incremental_sampled_matches_exact_drift_rate(spark):
    """Sampled-history retrain (history_sample_mod) must reproduce
    the exact audit's drift verdict on the planted-cluster fixture —
    both when the batch opens a NEW cluster (every vector drifts:
    the stale codebook has no axis-2 centroid, the refreshed one
    does) and when the batch is stable (nothing drifts)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        similarity as S,
    )

    def vec(axis, wiggle):
        v = [0.0] * 64
        v[axis] = 1.0
        v[(axis + 3) % 64] = wiggle
        return v

    schema = "vec_id long, embedding array<double>"
    hist_rows = [(i, vec(0, 0.01 * (i % 3))) for i in range(12)] + [
        (12 + i, vec(1, 0.01 * (i % 3))) for i in range(12)
    ]
    history = spark.createDataFrame(hist_rows, schema)

    def drift_rate(batch_rows, mod):
        batch = spark.createDataFrame(batch_rows, schema)
        out = S.ivf_incremental_assign(
            history, batch, n_centroids=3, dim=64, history_sample_mod=mod
        ).collect()
        return sum(r["drifted"] for r in out) / len(out)

    new_cluster = [(100 + i, vec(2, 0.01 * (i % 3))) for i in range(8)]
    stable = [(100 + i, vec(0, 0.01 * (i % 3))) for i in range(8)]
    assert drift_rate(new_cluster, None) == 1.0
    assert drift_rate(new_cluster, 2) == 1.0
    assert drift_rate(stable, None) == 0.0
    assert drift_rate(stable, 2) == 0.0


def test_incremental_components_equals_full_recompute(spark):
    """Contraction-based incremental maintenance must reproduce the
    from-scratch closure exactly: history components {1,2,3} and
    {10,11}; new edges join a new vertex to one component, BRIDGE the
    two components through a new vertex, and add a disjoint new-new
    pair."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    hist_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    history_labels = DD.connected_components(hist_pairs)
    new_pairs = spark.createDataFrame(
        [(100, 3), (200, 2), (200, 11), (300, 301)],
        "doc_a long, doc_b long",
    )
    got = {
        r["id"]: r["component_id"]
        for r in DD.incremental_components(history_labels, new_pairs).collect()
    }
    full = {
        r["id"]: r["component_id"]
        for r in DD.connected_components(
            hist_pairs.unionByName(new_pairs)
        ).collect()
    }
    assert got == full
    # the bridge vertex 200 merges both history components into min=1
    assert got[200] == 1 and got[10] == 1 and got[11] == 1
    assert got[300] == 300 and got[301] == 300


def test_incremental_components_untouched_history_kept(spark):
    """Components not touched by any new edge keep their labels, and
    an unlabeled history doc first matched by a new doc gets the
    merged label."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    hist_pairs = spark.createDataFrame(
        [(5, 6), (20, 21)], "doc_a long, doc_b long"
    )
    history_labels = DD.connected_components(hist_pairs)
    # doc 50 was never in any history pair; new doc 400 matches it
    new_pairs = spark.createDataFrame([(400, 50)], "doc_a long, doc_b long")
    got = {
        r["id"]: r["component_id"]
        for r in DD.incremental_components(history_labels, new_pairs).collect()
    }
    assert got == {5: 5, 6: 5, 20: 20, 21: 20, 400: 50, 50: 50}


def test_incremental_components_delta_is_minimal_upsert(spark):
    """Delta output mode must emit exactly full_recompute EXCEPT
    history_labels: changed history rows + newly labeled ids, and
    NOTHING for untouched components — so applying it as an upsert
    over the stored labeling reproduces the full mode."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        dedup as DD,
    )

    hist_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    history_labels = DD.connected_components(hist_pairs).persist()
    # bridge {1,2,3} and {10,11} via new vertex 200; {20,21} untouched;
    # disjoint new-new pair (300, 301)
    new_pairs = spark.createDataFrame(
        [(200, 2), (200, 11), (300, 301)], "doc_a long, doc_b long"
    )
    delta = {
        r["id"]: r["component_id"]
        for r in DD.incremental_components(
            history_labels, new_pairs, output_mode="delta"
        ).collect()
    }
    # changed: {10,11} relabel to 1; new: 200 joins 1, 300/301 form 300.
    # NOT present: 1,2,3 (label already 1) and the untouched {20,21}.
    assert delta == {10: 1, 11: 1, 200: 1, 300: 300, 301: 300}
    # upsert(delta, history) == full mode == from-scratch closure
    hist = {r["id"]: r["component_id"] for r in history_labels.collect()}
    applied = {**hist, **delta}
    full = {
        r["id"]: r["component_id"]
        for r in DD.connected_components(
            hist_pairs.unionByName(new_pairs)
        ).collect()
    }
    assert applied == full
    history_labels.unpersist()

    with pytest.raises(ValueError, match="output_mode"):
        DD.incremental_components(history_labels, new_pairs, output_mode="bogus")


def test_incremental_gram_counts_is_minimal_merged_delta(spark):
    """The gram-count delta must cover exactly the batch's distinct
    grams, carry history+batch merged totals, and never re-emit a
    batch-untouched gram."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        text as TXX,
    )

    schema = "doc_id long, text string"
    hist = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat")], schema
    )
    batch = spark.createDataFrame([(10, "the cat ran")], schema)
    delta = {
        (r["gram_type"], r["w1"], r["w2"]): r["cnt"]
        for r in TXX.incremental_gram_counts(
            TXX.gram_counts(hist), batch
        ).collect()
    }
    assert delta == {
        # unigrams of the batch, merged with history counts
        ("uni", "the", ""): 3,   # 2 hist + 1 batch
        ("uni", "cat", ""): 2,   # 1 + 1
        ("uni", "ran", ""): 1,   # new gram
        # bigrams of the batch
        ("big", "the", "cat"): 2,
        ("big", "cat", "ran"): 1,
    }
    # batch-untouched grams (dog, sat, 'dog sat', ...) never re-emitted
    assert not any(w1 in ("dog", "sat") for (_, w1, _w2) in delta)
    # applying the delta over the stored table reproduces the full
    # recompute (counts are additive)
    stored = {
        (r["gram_type"], r["w1"], r["w2"]): r["cnt"]
        for r in TXX.gram_counts(hist).collect()
    }
    full = {
        (r["gram_type"], r["w1"], r["w2"]): r["cnt"]
        for r in TXX.gram_counts(hist.unionByName(batch)).collect()
    }
    assert {**stored, **delta} == full


def test_incremental_slice_stats_touched_slices_only(spark):
    """Slice-stats merge: only slices present in the batch come back,
    with history+batch additive totals (history-absent slices start
    from zero)."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        sampling as SAA,
    )

    schema = "source string, n_docs long, total_tokens long"
    hist = spark.createDataFrame(
        [("a", 10, 1000), ("b", 5, 500)], schema
    )
    batch = spark.createDataFrame(
        [("a", 2, 150), ("c", 3, 90)], schema
    )
    got = {
        r["source"]: (r["n_docs"], r["total_tokens"])
        for r in SAA.incremental_slice_stats(
            hist, batch, keys=["source"], sums=["n_docs", "total_tokens"]
        ).collect()
    }
    assert got == {"a": (12, 1150), "c": (3, 90)}  # 'b' untouched, absent
    with pytest.raises(ValueError, match="sums"):
        SAA.incremental_slice_stats(hist, batch, keys=["source"], sums=[])


def test_bm25_incremental_equals_full_rebuild(spark):
    """The maintained-index BM25 (appended per-doc rows + additively
    merged 1-row stats) must equal bm25_topk over the combined corpus
    exactly — scores, match counts, and ordering."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        text as TXX,
    )

    schema = "doc_id long, text string"
    hist = spark.createDataFrame(
        [
            (1, "hash join beats nested loop"),
            (2, "vector search with hash buckets"),
            (3, "sort merge join strategies"),
            (5, "plain prose with no query words"),
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [(4, "hash hash hash everywhere"), (8, "vector join hash")], schema
    )
    terms = ["hash", "join", "vector"]
    inc = TXX.bm25_topk_incremental(hist, batch, terms, k=10).collect()
    full = TXX.bm25_topk(hist.unionByName(batch), terms, k=10).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]
    assert len(inc) == 5  # doc 5 matches nothing
    # the batch changed history scores too (df/N/avgdl moved): the
    # equality above therefore proves the STATS merge is right, not
    # just the appended rows
    hist_only = TXX.bm25_topk(hist, terms, k=10).collect()
    assert {r["doc_id"]: r["bm25"] for r in hist_only} != {
        r["doc_id"]: r["bm25"] for r in inc if r["doc_id"] in (1, 2, 3)
    }
    with pytest.raises(ValueError, match="query_terms"):
        TXX.bm25_topk_incremental(hist, batch, [])


def test_bitext_margin_prefers_mutual_neighbors(spark):
    """Margin rescaling must rank a mutually-isolated pair above a
    hub: y0 is cosine-closest to BOTH probes (a hub), but for probe
    x1 the margin of its dedicated partner y1 must win because y1's
    backward neighborhood is weak."""
    import math

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        similarity as SS,
    )

    def unit(theta):
        # 2-D-in-4-D unit vectors, padded so dim=4 arithmetic runs
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    # probes x0 at 0 rad, x1 at 1.0 rad; hub y0 at 0.2 rad (close to
    # x0, moderately close to x1), partner y1 at 1.05 rad (very close
    # to x1 only)
    a = spark.createDataFrame(
        [(0, unit(0.0)), (2, unit(1.0))], "vec_id long, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(1, unit(0.2)), (3, unit(1.05)), (5, unit(2.6)), (7, unit(-1.4))],
        "vec_id long, embedding array<double>",
    )
    out = SS.mine_bitext_margin(a, b, k=2, m=4, dim=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # x1's top match by raw cosine AND margin is its partner y1
    assert by_q[2][0]["match_id"] == 3
    # every probe got all 4 ranked matches, margins sorted desc
    for q, rows in by_q.items():
        assert [r["rnk"] for r in rows] == [1, 2, 3, 4]
        margins = [r["margin"] for r in rows]
        assert margins == sorted(margins, reverse=True)
    # margin normalization: a perfect mutual pair's margin ~ 1/avg of
    # its neighborhoods — strictly above a hub-shared candidate's for
    # the same query
    assert by_q[2][0]["margin"] > by_q[2][1]["margin"]


def test_streaming_incremental_grams_multi_batch(spark):
    """The streaming gram maintenance must (a) actually receive its
    input across MULTIPLE micro-batches (else the 'incremental' claim
    is vacuous) and (b) produce a final stored table equal to the
    from-scratch count over the whole corpus."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators import (
        llm_queries as LQ,
        text as TXX,
    )

    sf_dir = "/root/testdata/sf0.001"
    final = LQ.streaming_incremental_grams(spark, sf_dir)
    got = {
        (r["gram_type"], r["w1"], r["w2"]): r["cnt"] for r in final.collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    want = {
        (r["gram_type"], r["w1"], r["w2"]): r["cnt"]
        for r in TXX.gram_counts(docs).collect()
    }
    assert got == want
    # multi-batch delivery: the four slice files under
    # maxFilesPerTrigger=1 + AvailableNow must arrive as multiple
    # micro-batches (else the 'incremental' claim is vacuous). The
    # query has terminated, so assert via its checkpoint: the NEWEST
    # mats_sig_ck_* dir (this run's) must hold one commit file per
    # micro-batch — exactly 4.
    import glob as _glob
    import os as _os

    ck = max(_glob.glob("/tmp/mats_sig_ck_*"), key=_os.path.getmtime)
    commits = [
        c
        for c in _glob.glob(f"{ck}/commits/*")
        if _os.path.basename(c).isdigit()
    ]
    assert len(commits) == 4
