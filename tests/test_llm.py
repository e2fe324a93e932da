"""LLM-pipeline extension operators: dedup family recall/precision on a
crafted fixture, similarity search sanity, text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_pipeline_spark.llm import dedup, similarity, text

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR_DUP = BASE.replace("warm", "cold")  # one-token edit → very high Jaccard
DISTINCT = (
    "completely different content about spark query engines and columnar "
    "storage formats with vectorized execution and adaptive planning"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, DISTINCT), (4, BASE)],
        ["doc_id", "text"],
    )


def test_dedup_exact(spark, docs):
    out = dedup.dedup_exact(docs, ["text"], "doc_id")
    reps = {r["doc_id"] for r in out.collect()}
    assert reps == {1, 2, 3}  # doc 4 == doc 1 → min id kept


def test_jaccard_pairs_bruteforce_vs_prefix_agree(spark, docs):
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs_prefix(docs, "doc_id", "text", n=2, threshold=0.5).collect()
    }
    assert brute == fast  # prefix filtering is lossless
    assert (1, 4) in brute and brute[(1, 4)] == 1.0
    assert (1, 2) in brute  # one-token edit stays above 0.5
    assert not any(3 in p for p in brute)


def test_minhash_lsh_finds_high_jaccard_pairs(spark, docs):
    cands = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=2, num_perm=64, bands=16).collect()}
    assert {(1, 2), (1, 4), (2, 4)} <= cands  # near/exact dups must collide


def test_minhash_star_edges_subset_and_bounded(spark, docs):
    """Every star edge is a real candidate pair (min and member share a
    bucket), and a hot bucket of k identical docs costs k−1 edges where
    the all-pairs shape pays C(k, 2)."""
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=2, num_perm=64, bands=16).collect()}
    stars = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_star_edges(docs, "doc_id", "text", n=2, num_perm=64, bands=16).collect()}
    assert stars <= pairs
    hot = spark.createDataFrame([(i, BASE) for i in range(1, 13)], ["doc_id", "text"])
    hot_pairs = dedup.minhash_lsh_pairs(hot, "doc_id", "text", n=2, num_perm=64, bands=16).count()
    hot_stars = dedup.minhash_lsh_star_edges(hot, "doc_id", "text", n=2, num_perm=64, bands=16).collect()
    assert hot_pairs == 66  # C(12, 2): the clique is quadratic in the bucket
    assert {(r["id_a"], r["id_b"]) for r in hot_stars} == {(1, k) for k in range(2, 13)}


def test_minhash_star_edges_span_same_dup_clusters(spark):
    """SCALE.md §17: the star reduction's whole point — each bucket's
    star spans the same vertices as its clique, so connected components
    (the dup clusters) are identical to the all-pairs candidate
    graph's, on real fixture text."""
    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(doc, "doc_id", "text", n=3, num_perm=64, bands=16)
    stars = dedup.minhash_lsh_star_edges(doc, "doc_id", "text", n=3, num_perm=64, bands=16)
    cc_pairs = {(r["vertex"], r["cluster_id"])
                for r in dedup.connected_components(pairs).collect()}
    cc_stars = {(r["vertex"], r["cluster_id"])
                for r in dedup.connected_components(stars).collect()}
    assert cc_pairs == cc_stars and cc_pairs


def test_minhash_star_edges_plan_is_join_free(spark, docs):
    """The star shape must replace the bucket self-join with a window
    over the banding's own exchange — a Join node reappearing means the
    candidate-linear claim silently regressed to the quadratic shape."""
    out = dedup.minhash_lsh_star_edges(docs, "doc_id", "text", n=2, num_perm=64, bands=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_simhash_exact_dup_distance_zero(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[4]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(1, 4)] == 0


def test_cosine_topk_self_is_best_match(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["match_id"] == 1  # nearest non-self
    assert rows[1]["match_id"] == 2  # orthogonal-ish next (ties broken by id)


def test_ann_lsh_recall_vs_exact(spark):
    """LSH top-k must recover most of the exact top-k on the fixture."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["match_id"]) for r in
             similarity.cosine_topk(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["match_id"]) for r in
              similarity.ann_lsh_topk(emb, queries, k=10, num_planes=3, num_tables=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_portable_lsh_recall_vs_exact(spark):
    """The literal-weight (oracle-verifiable) LSH path must hold the
    same recall bar as the hashed-weight path."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["match_id"]) for r in
             similarity.cosine_topk(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["match_id"]) for r in
              similarity.ann_lsh_topk(
                  emb, queries, k=10, num_planes=3, num_tables=10,
                  portable_weights=similarity.portable_plane_weights(10, 3, 64),
              ).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"portable LSH recall too low: {recall}"


def test_portable_simhash_finds_near_dups(spark, docs):
    """Portable-hash SimHash keeps the semantics: exact dups at hamming
    0, the one-token near-dup within the hamming budget."""
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3,
                                 portable_hash=True).collect()}
    assert pairs[(1, 4)] == 0           # exact duplicate
    assert (1, 2) in pairs              # near-dup caught within hamming ≤ 3


def test_lang_id_picks_marked_language(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"), (2, "el gato y la casa de que si")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r[1] for r in df.select("doc_id", text.lang_id("text")).collect()}
    assert out == {1: "en", 2: "es"}


def test_fingerprint_stable_and_discriminating(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abd"), (3, "abc")], ["doc_id", "text"])
    out = {r["doc_id"]: r[1] for r in df.select("doc_id", text.fingerprint("text")).collect()}
    assert out[1] == out[3] != out[2]
    # polynomial rolling hash, base 31 mod 1e9+7: ((97*31+98)*31+99)
    assert out[1] == ((97 * 31 + 98) * 31 + 99) % 1_000_000_007


def test_ivf_recall_vs_exact(spark):
    """IVF-flat top-k must recover most of the exact top-k with
    nprobe=6 of nlist=16 lists."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["match_id"]) for r in
             similarity.cosine_topk(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["match_id"]) for r in
              similarity.ivf_flat_topk(emb, queries, k=10, nlist=16, nprobe=6).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_bucketed_equals_broadcast_shape(spark):
    """ivf_flat_topk_bucketed is a PHYSICAL variant only: same rows as
    ivf_flat_topk for any parameterization, invariant to n_salt (the
    salt spreads the probe join; every candidate pair still meets
    exactly once, at the corpus row's salt). r07 VERDICT item 3."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 7 == 0)
    base = sorted(
        map(tuple, similarity.ivf_flat_topk(emb, queries, k=8, nlist=16, nprobe=4).collect())
    )
    assert len(base) > 0
    for n_salt in (None, 1, 3):
        got = sorted(
            map(
                tuple,
                similarity.ivf_flat_topk_bucketed(
                    emb, queries, k=8, nlist=16, nprobe=4, n_salt=n_salt
                ).collect(),
            )
        )
        assert got == base, f"bucketed shape diverged at n_salt={n_salt}"


def test_ivfpq_bucketed_equals_broadcast_shape(spark):
    """ivf_pq_topk_bucketed is a PHYSICAL variant only: bit-identical
    rows to ivf_pq_topk at equal params, invariant to n_salt — the salt
    spreads the probe join (each candidate pair meets exactly once) and
    the ADC reads the same LUT slots in the same fold order. r08
    VERDICT item 3 (the PQ port of the q395 discipline)."""
    from stock_data_pipeline_spark.llm.clustering import (
        ivf_pq_topk,
        ivf_pq_topk_bucketed,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    params = dict(
        query_mod=97, n_lists=8, nprobe=2, m=4, sub_dim=16, k=16,
        rounds=2, quant_bits=10, topk=10, train_mod=16,
    )
    base = sorted(map(tuple, ivf_pq_topk(emb, **params).collect()))
    assert len(base) > 0
    for n_salt in (None, 1, 3):
        got = sorted(
            map(tuple, ivf_pq_topk_bucketed(emb, n_salt=n_salt, **params).collect())
        )
        assert got == base, f"bucketed IVF-PQ diverged at n_salt={n_salt}"


def test_frame_sampling_shape(spark):
    from stock_data_pipeline_spark.llm import multimodal

    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    media = multimodal.attach_binary_payload(doc)
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 10
    for doc_id, rows in by_doc.items():
        idxs = sorted(r["frame_idx"] for r in rows)
        assert idxs == list(range(len(idxs)))  # contiguous frame indices
        assert all(r["n_bytes"] <= 64 for r in rows)


def test_portable_hash_chunked_equals_per_char(spark):
    """The 4-chars-per-step portable hash must be bit-identical to the
    definitional per-char fold (acc·31 + code, mod 1e9+7 each step) —
    lengths 0..4 cover every seed arm, longer and non-ASCII strings
    cover the chunk loop. Any divergence would invalidate all committed
    generated oracles built on this hash."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.llm.dedup import _portable_shingle_hash

    def per_char(s):
        codes = F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.ascii(s.substr(i, F.lit(1))).cast("long"),
        )
        return F.aggregate(
            codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % 1_000_000_007
        )

    rows = [("",), ("a",), ("ab",), ("abc",), ("abcd",), ("abcde",),
            ("the quick brown fox",), ("éü日本語",), ("y" * 257,)]
    df = spark.createDataFrame(rows, ["s"])
    out = df.select(
        per_char(F.col("s")).alias("o"), _portable_shingle_hash(F.col("s")).alias("n")
    ).collect()
    assert all(r["o"] == r["n"] for r in out)


def test_portable_ngram_hashes_equal_string_shape(spark):
    """The composed per-token n-gram hash (r09: tokens hashed once,
    grams composed by H(a∘' '∘b) = ((H(a)·31+32)·31^len(b) + H(b)) mod
    p) must emit exactly the multiset of (id, hash) rows the string
    shape emits — explode(array_join(slice(tk, i, n), ' ')) through
    _portable_shingle_hash. Covers n=2 and n=8, 1-char through
    multi-byte tokens, docs at exactly n tokens, and chunk-boundary
    token lengths (1..5 chars hit every seed arm of the fold)."""
    from pyspark.sql import functions as F

    from stock_data_pipeline_spark.llm.dedup import (
        _portable_shingle_hash,
        portable_ngram_hashes,
    )

    rows = [
        (1, ["a", "bb", "ccc", "dddd", "eeeee", "ffffff", "g", "hh", "iii"]),
        (2, ["the", "quick", "brown", "fox", "jumps", "over", "a", "dog"]),
        (3, ["éü", "日本語", "x", "longtokenoverfourchars", "y", "z", "w", "v"]),
        (4, ["exactly", "eight", "tokens", "so", "one", "gram", "at", "n=8"]),
        # Astral-plane 1-char tokens: ascii() yields full codepoints up
        # to 1114111, so a <4-char closed-form seed can exceed p —
        # bit-identity here requires the seed's mod-p reduction (r09
        # ADVICE: the unreduced string path returned 1070659861 vs the
        # composed 70659854 for ['\U0010FFFD', 'x'] at n=2).
        (5, ["\U0010FFFD", "x", "\U0001F600", "yy", "\U0010FFFF", "z", "q", "r"]),
        # ...and a 3-astral-char TOKEN, whose own seed exceeds p (hits
        # _token_hp's reduction, not just the gram-string one).
        (6, ["\U0010FFFD\U0010FFFE\U0010FFFF", "ok", "a", "b", "c", "d", "e", "f"]),
    ]
    df = spark.createDataFrame(rows, ["id", "tk"])
    for n in (2, 8):
        sub = df.filter(F.size("tk") >= n)
        grams = F.transform(
            F.sequence(F.lit(1), F.size("tk") - (n - 1)),
            lambda i: F.array_join(F.slice("tk", i, F.lit(n)), " "),
        )
        want = sub.select(
            "id", F.explode(grams).alias("s")
        ).select("id", _portable_shingle_hash(F.col("s")).alias("h"))
        got = portable_ngram_hashes(sub, "id", "tk", n)
        assert want.exceptAll(got).count() == 0
        assert got.exceptAll(want).count() == 0


def test_png_bmp_round_trip_and_corruption():
    """The synthesized payloads must be spec-valid (PNG scanlines
    recoverable by stdlib zlib; BMP rows 4-byte aligned) and the
    header parser must recover exact metadata — or classify corrupt
    bytes as unknown rather than raise."""
    import struct
    import zlib

    from stock_data_pipeline_spark.llm.multimodal import (
        parse_image_header,
        synthesize_bmp,
        synthesize_png,
    )

    png = synthesize_png(5, 3)
    assert parse_image_header(png) == ("png", 5, 3, 8)
    # IDAT decompresses to filter-0 scanlines of the right stride
    idat_len = struct.unpack(">I", png[33:37])[0]
    raw = zlib.decompress(png[41 : 41 + idat_len])
    assert len(raw) == 3 * (1 + 5 * 3)

    bmp = synthesize_bmp(6, 4)
    assert parse_image_header(bmp) == ("bmp", 6, 4, 24)
    assert len(bmp) == 54 + ((6 * 3 + 3) // 4) * 4 * 4

    # top-down BMP (negative height) parses to the magnitude
    neg = bytearray(synthesize_bmp(6, 4))
    neg[22:26] = struct.pack("<i", -4)
    assert parse_image_header(bytes(neg)) == ("bmp", 6, 4, 24)

    # corruption: flip a bit in the PNG IHDR -> CRC fails -> unknown
    bad = bytearray(png)
    bad[17] ^= 0x01
    assert parse_image_header(bytes(bad))[0] == "unknown"
    assert parse_image_header(b"") == ("unknown", None, None, None)
    assert parse_image_header(b"BM too short") == ("unknown", None, None, None)


def test_image_header_decode_distributed(spark, docs):
    """End-to-end through Spark: synthesize real files per doc, decode
    headers via mapInPandas, verify the id-derived dimensions."""
    from stock_data_pipeline_spark.llm.multimodal import (
        decode_image_headers,
        synthesize_images,
    )

    out = decode_image_headers(synthesize_images(docs, "doc_id")).collect()
    assert len(out) == docs.count()
    for r in out:
        i = r["doc_id"]
        assert r["format"] == ("png" if i % 2 else "bmp")
        assert (r["width"], r["height"]) == (i % 13 + 1, i % 7 + 1)
        assert r["bit_depth"] == (8 if i % 2 else 24)


def test_png_pixel_decode_all_filter_types():
    """The tier-3 PNG decoder must reconstruct every PNG filter type
    (our synthesizer only emits filter 0, so build a file per filter
    by hand and check against a straight-line reference model)."""
    import struct
    import zlib

    from stock_data_pipeline_spark.llm.multimodal import decode_png_raster

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    w, h = 5, 4
    raster = bytes((11 * i + 3) % 256 for i in range(w * 3 * h))
    rows = [raster[y * w * 3:(y + 1) * w * 3] for y in range(h)]

    def encode(filter_type):
        out = b""
        prev = bytes(w * 3)
        for line in rows:
            enc = bytearray()
            for i in range(w * 3):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                if filter_type == 0:
                    enc.append(line[i])
                elif filter_type == 1:
                    enc.append((line[i] - a) & 0xFF)
                elif filter_type == 2:
                    enc.append((line[i] - b) & 0xFF)
                elif filter_type == 3:
                    enc.append((line[i] - ((a + b) >> 1)) & 0xFF)
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    enc.append((line[i] - pred) & 0xFF)
            out += bytes([filter_type]) + bytes(enc)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(out)) + chunk(b"IEND", b"")
        )

    for ftype in range(5):
        assert decode_png_raster(encode(ftype)) == raster, f"filter {ftype}"


def test_bmp_pixel_decode_normalizes_direction_and_channels():
    """Bottom-up (positive height) and top-down (negative height) BMPs
    of the same logical image must decode to the same RGB raster."""
    import struct

    from stock_data_pipeline_spark.llm.multimodal import decode_bmp_raster

    w, h = 3, 2
    # logical image, top-down RGB
    rgb = bytes(range(w * h * 3))
    stride = ((w * 3 + 3) // 4) * 4

    def encode(top_down):
        rows = range(h) if top_down else range(h - 1, -1, -1)
        pixels = b""
        for y in rows:
            line = bytearray()
            for x in range(w):
                r, g, b = rgb[3 * (y * w + x):3 * (y * w + x) + 3]
                line += bytes([b, g, r])
            pixels += bytes(line) + bytes(stride - 3 * w)
        fh = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 54)
        ih = struct.pack(
            "<IiiHHIIiiII", 40, w, h if top_down is False else -h,
            1, 24, 0, len(pixels), 2835, 2835, 0, 0,
        )
        return fh + ih + pixels

    assert decode_bmp_raster(encode(top_down=False)) == rgb
    assert decode_bmp_raster(encode(top_down=True)) == rgb


def test_pixel_decode_rejects_corrupt_payloads(spark):
    """Corrupt/truncated/foreign payloads classify as 'unknown' with
    NULL stats — never raise (bad rows are data)."""
    from stock_data_pipeline_spark.llm.multimodal import (
        decode_image_pixels,
        synthesize_png,
    )

    good = synthesize_png(4, 3)
    bad_crc = good[:20] + bytes([good[20] ^ 0xFF]) + good[21:]
    rows = [
        (1, bytearray(good)),
        (2, bytearray(bad_crc)),
        (3, bytearray(b"GIF89a not supported")),
        (4, bytearray(good[:25])),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_image_pixels(media).collect()}
    assert out[1]["format"] == "png" and out[1]["n_pixel_bytes"] == 4 * 3 * 3
    for did in (2, 3, 4):
        assert out[did]["format"] == "unknown"
        assert out[did]["byte_sum"] is None


def test_png_decoder_handles_spec_legal_variants():
    """Multi-IDAT files and ancillary chunks between IHDR and IDAT are
    spec-legal — the decoder must handle them; zero-dimension headers
    and streams inflating past the declared raster must reject."""
    import struct
    import zlib

    from stock_data_pipeline_spark.llm.multimodal import (
        decode_png_raster,
        synthesize_png,
    )

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    w, h = 3, 2
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    raw = b"".join(
        b"\x00" + bytes((x * 3 + y * 7) % 256 for x in range(w * 3))
        for y in range(h)
    )
    comp = zlib.compress(raw)
    ref = decode_png_raster(synthesize_png(w, h))
    assert ref is not None

    split = len(comp) // 2
    multi = sig + ihdr + chunk(b"IDAT", comp[:split]) + chunk(b"IDAT", comp[split:]) + chunk(b"IEND", b"")
    assert decode_png_raster(multi) == ref

    ancillary = sig + ihdr + chunk(b"tEXt", b"Comment\x00hi") + chunk(b"IDAT", comp) + chunk(b"IEND", b"")
    assert decode_png_raster(ancillary) == ref

    # an IDAT inflating to MORE than the declared raster is spec-invalid
    # (the stream must decompress to exactly the raster size) — reject,
    # mirroring the CRC strictness, rather than silently using a prefix
    trailing = sig + ihdr + chunk(b"IDAT", zlib.compress(raw + b"\x99" * 7)) + chunk(b"IEND", b"")
    assert decode_png_raster(trailing) is None

    # ...and trailing garbage AFTER a complete deflate stream likewise
    after_stream = sig + ihdr + chunk(b"IDAT", comp + b"\x99" * 4) + chunk(b"IEND", b"")
    assert decode_png_raster(after_stream) is None

    zero = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 5, 8, 2, 0, 0, 0)) + chunk(b"IDAT", comp) + chunk(b"IEND", b"")
    assert decode_png_raster(zero) is None


def test_bmp_decoder_honors_pixel_offset():
    """biOffBits may point past the headers (palette/gap bytes between
    header and pixel array) — the decoder must seek to it."""
    import struct

    from stock_data_pipeline_spark.llm.multimodal import (
        decode_bmp_raster,
        synthesize_bmp,
    )

    w, h = 2, 2
    stride = ((w * 3 + 3) // 4) * 4
    pixels = bytes((y * stride + i) % 251 for y in range(h) for i in range(stride))
    gap = b"\xAA" * 10
    fh = b"BM" + struct.pack("<IHHI", 14 + 40 + 10 + len(pixels), 0, 0, 54 + 10)
    ih = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    assert decode_bmp_raster(fh + ih + gap + pixels) == decode_bmp_raster(
        synthesize_bmp(w, h)
    )


def test_png_decoder_rejects_interlace_and_bombs():
    """Spec-legal-but-out-of-scope PNGs must classify unknown, not
    decode wrong: Adam7 interlace flag -> None; a decompression-bomb
    IDAT must not materialize beyond the expected raster size."""
    import struct
    import zlib

    from stock_data_pipeline_spark.llm.multimodal import decode_png_raster

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    raw = b"\x00" + bytes(3)  # 1x1 black
    interlaced = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert decode_png_raster(interlaced) is None

    bomb_payload = zlib.compress(b"\x00" * 50_000_000, 9)  # ~48 KB -> 50 MB
    bomb = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", bomb_payload) + chunk(b"IEND", b"")
    )
    # must return quickly, never inflate the full 50 MB, and classify
    # the lying payload (declared 1x1, stream holds 50 MB) as invalid
    # rather than decode its first scanline as if the file were fine
    assert decode_png_raster(bomb) is None


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_pq_assignment_keeps_input_id_type(spark, id_type):
    """The PQ codeword assignment's cogroup output schema comes from its
    inputs: an int vec_id stays int rather than being upcast to long,
    and the nearest codeword (ties to the lower cid) is unchanged."""
    from stock_data_pipeline_spark.llm.clustering import _assign_long

    pts = spark.createDataFrame(
        [(1, 0, [0, 0]), (2, 0, [10, 10]), (3, 1, [5, 5])],
        f"vec_id {id_type}, s int, qv array<long>",
    )
    cents = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [9.0, 9.0]), (1, 0, [5.0, 5.0]), (1, 1, [5.0, 5.0])],
        "s int, cid int, cv array<double>",
    )
    out = _assign_long(pts, cents, m=2)
    assert out.schema["vec_id"].dataType.simpleString() == id_type
    assert [f.dataType.simpleString() for f in out.schema.fields[1:]] == [
        "int", "array<bigint>", "int", "double"
    ]
    rows = sorted((r.vec_id, r.s, r.cid, r.d2) for r in out.collect())
    assert rows == [(1, 0, 0, 0.0), (2, 0, 1, 2.0), (3, 1, 0, 0.0)]
