"""Self-verification for the no-oracle LLM-pipeline operators.

The approximate operators (MinHash LSH, hyperplane-LSH ANN, SimHash)
carry no DuckDB oracle; their contract is recall against the exact
queries computed on the same fixtures — asserted here, as promised in
their docstrings.
"""

from __future__ import annotations

import pytest

from setup_harvest_action_spark.catalog import load_catalog

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    q, _ = load_catalog()
    return q


def test_minhash_recall_vs_exact_jaccard(spark, queries):
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in queries["q_dedup_ngram_jaccard"](spark, SF).collect()
    }
    candidates = {
        (r["doc_a"], r["doc_b"])
        for r in queries["q_dedup_minhash"](spark, SF).collect()
    }
    # recall on CLEAR near-dups (J >= 0.7): banded LSH with 4 bands of 4
    # gives P(candidate) >= 78% per pair; across the fixture's pair set
    # we require >= 70% aggregate recall, and >= 90% at J >= 0.9.
    strong = {(a, b) for a, b, j in exact if j >= 0.7}
    if strong:
        hit = len(strong & candidates) / len(strong)
        assert hit >= 0.7, f"minhash recall {hit:.2f} on {len(strong)} pairs"
    certain = {(a, b) for a, b, j in exact if j >= 0.9}
    if certain:
        hit = len(certain & candidates) / len(certain)
        assert hit >= 0.9, f"minhash recall {hit:.2f} on J>=0.9 pairs"


def test_minhash_is_deterministic(spark, queries):
    a = sorted(tuple(r) for r in queries["q_dedup_minhash"](spark, SF).collect())
    b = sorted(tuple(r) for r in queries["q_dedup_minhash"](spark, SF).collect())
    assert a == b


def _topk_recall(exact_rows, approx_rows):
    exact_sets, approx_sets = {}, {}
    for r in exact_rows:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx_rows:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(v) for v in exact_sets.values())
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    return hits, total


def test_ann_recall_vs_exact_topk(spark, queries):
    # Fixture vectors are near-random (best cosines ~0.4, no planted
    # neighbors) — the hardest case for ANN.  Thresholds are set from
    # measured behavior with margin: IVF(16,4) ~0.93, LSH(8x6) ~0.40.
    exact = queries["q_similarity_exact_topk"](spark, SF).collect()
    assert exact

    ivf = queries["q_similarity_ann_ivf"](spark, SF).collect()
    hits, total = _topk_recall(exact, ivf)
    assert hits / total >= 0.6, f"IVF recall {hits}/{total}"

    lsh = queries["q_similarity_ann_lsh"](spark, SF).collect()
    hits, total = _topk_recall(exact, lsh)
    assert hits / total >= 0.2, f"LSH recall {hits}/{total}"

    for r in list(ivf) + list(lsh):
        assert 1 <= r["rank"] <= 3
        assert -1.0 <= r["cosine"] <= 1.0


def test_simhash_is_stable_64bit(spark, queries):
    rows = queries["q_dedup_simhash"](spark, SF).collect()
    assert len(rows) == 500
    again = queries["q_dedup_simhash"](spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # near-identical docs should have near-identical simhashes:
    # a doc is hamming-0 from itself by construction; sanity-check the
    # packing produced 64-bit spread (not everything collapsed)
    values = {r["simhash"] for r in rows}
    assert len(values) > 400


def test_multimodal_features_match_python(spark, queries):
    feats = {
        r["doc_id"]: r
        for r in queries["q_multimodal_features"](spark, SF).collect()
    }
    from setup_harvest_action_spark.io.loaders import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF, "documents").limit(50).collect()
    }
    for doc_id, text in docs.items():
        raw = text.encode("utf-8")
        r = feats[doc_id]
        assert r["n_bytes"] == len(raw)
        assert abs(r["byte_mean"] - sum(raw) / len(raw)) < 1e-9
        assert r["byte_min"] == min(raw)
        assert r["byte_max"] == max(raw)
        assert r["format"] == "bytes"


def test_decode_stub_raises_without_library():
    from setup_harvest_action_spark.functions.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_langid_confusion_is_well_formed(spark, queries):
    rows = queries["q_text_langid"](spark, SF).collect()
    langs = {"en", "de", "es", "fr", "zh"}
    assert {r["lang"] for r in rows} <= langs
    assert {r["predicted_lang"] for r in rows} <= langs
    # fixture text shares one vocabulary across langs, so predictions
    # must NOT be trivially perfect — the matrix covers multiple
    # predicted langs and totals to the doc count
    assert sum(r["n_docs"] for r in rows) == 500


def test_frame_sample_matches_python(spark, queries):
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
    )
    from setup_harvest_action_spark.io.loaders import load_table

    frames = {}
    for r in queries["q_multimodal_frame_sample"](spark, SF).collect():
        frames[(r["doc_id"], r["frame_idx"])] = r
    docs = {
        r["doc_id"]: r["text"].encode("utf-8")
        for r in load_table(spark, SF, "documents").limit(20).collect()
    }
    for doc_id, raw in docs.items():
        n_frames = (len(raw) + FRAME_BYTES - 1) // FRAME_BYTES
        expected_idx = list(range(0, n_frames, FRAME_STRIDE))
        got_idx = sorted(i for (d, i) in frames if d == doc_id)
        assert got_idx == expected_idx
        for idx in expected_idx:
            frame = raw[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
            r = frames[(doc_id, idx)]
            assert r["n_frame_bytes"] == len(frame)
            assert r["frame_md5"] == hashlib.md5(frame).hexdigest()
            assert abs(r["frame_mean"] - sum(frame) / len(frame)) < 1e-9


def test_thumbnail_is_deterministic_and_bounded(spark, queries):
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        THUMB_BYTES,
        fake_resize,
    )
    from setup_harvest_action_spark.io.loaders import load_table

    thumbs = {
        r["doc_id"]: r
        for r in queries["q_multimodal_thumbnail"](spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").limit(20).collect()
    for d in docs:
        raw = d["text"].encode("utf-8")
        expected = fake_resize(raw)
        r = thumbs[d["doc_id"]]
        assert r["thumb_bytes"] == len(expected) <= THUMB_BYTES
        assert bytes(r["thumb"]) == expected
        assert r["thumb_md5"] == hashlib.md5(expected).hexdigest()


def test_regex_tokens_splits_words_numbers_punct(spark):
    """regex_tokens must yield words, numbers, and single punctuation
    marks in document order, with no whitespace residue — the fallback
    tokenizer for corpora that aren't pre-normalized."""
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.functions.text import regex_tokens

    df = spark.createDataFrame(
        [("Hello, world! 42 gpt-4 end",), ("  spaced   out  ",), ("",)],
        "text string",
    )
    rows = df.select(regex_tokens().alias("toks")).collect()
    assert rows[0].toks == [
        "Hello", ",", "world", "!", "42", "gpt", "-", "4", "end"
    ]
    assert rows[1].toks == ["spaced", "out"]
    assert rows[2].toks == []


def test_bmp_pipeline_matches_ppm_and_pure_python(spark, queries):
    """The BMP pipeline must produce byte-identical statistics to the
    PPM pipeline (same pixel arithmetic, different container), and both
    must match a pure-python recompute — a cross-format proof the
    decoders do real pixel math, not byte heuristics."""
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        decode_bmp,
        decode_image_auto,
        resize_nearest,
        synthesize_bmp,
        synthesize_ppm,
    )

    # codec round-trip + cross-format decode identity
    bmp_img = decode_bmp(synthesize_bmp(7))
    ppm_img = decode_image_auto(synthesize_ppm(7))
    assert bmp_img.shape == (IMG_H, IMG_W, 3)
    assert (bmp_img == ppm_img).all()

    rows = {
        r.doc_id: r
        for r in queries["q_multimodal_bmp_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) >= 10
    for doc_id in (0, 3, 11):
        expected_img = decode_bmp(synthesize_bmp(doc_id))
        means = expected_img.reshape(-1, 3).mean(axis=0)
        expected_thumb = resize_nearest(expected_img, THUMB_W, THUMB_H)
        r = rows[doc_id]
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.mean_r == round(float(means[0]), 4)
        assert r.mean_g == round(float(means[1]), 4)
        assert r.mean_b == round(float(means[2]), 4)
        assert r.thumb_md5 == hashlib.md5(
            expected_thumb.tobytes().hex().encode()
        ).hexdigest()
    ppm_rows = {
        r.doc_id: r
        for r in queries["q_multimodal_ppm_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for doc_id, r in rows.items():
        p = ppm_rows[doc_id]
        assert (r.mean_r, r.mean_g, r.mean_b, r.thumb_md5) == (
            p.mean_r, p.mean_g, p.mean_b, p.thumb_md5
        )


def test_png_codec_roundtrip_all_filters_and_variants():
    """The PNG decoder must be a REAL compressed-format decode:
    round-trip identity across ALL FIVE filter types (the encoder
    cycles them row-by-row), CRC corruption detected, grayscale and
    RGBA variants handled, unsupported variants and JPEG refused
    honestly."""
    import numpy as np
    import pytest as _pytest
    import struct
    import zlib

    from setup_harvest_action_spark.functions.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_image_auto,
        decode_png,
        encode_png,
        synthesize_png,
        synthesize_ppm,
        decode_ppm,
    )

    # round-trip: ≥5 rows so every filter type (row % 5) is exercised
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert (decode_png(encode_png(13, 9, img)) == img).all()

    # cross-format decode identity with the PPM synthesizer
    assert (
        decode_image_auto(synthesize_png(7)) == decode_ppm(synthesize_ppm(7))
    ).all()

    # CRC corruption is detected, not silently decoded
    blob = bytearray(encode_png(13, 9, img))
    blob[40] ^= 0xFF  # a byte inside IDAT
    with _pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(blob))

    # grayscale (color type 0) expands to 3 channels
    gray = rng.integers(0, 256, size=(4, 5, 1), dtype=np.uint8)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(4))
    g_png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(g_png)
    assert out.shape == (4, 5, 3)
    assert (out[:, :, 0] == gray[:, :, 0]).all()
    assert (out[:, :, 1] == out[:, :, 0]).all()

    # RGBA (color type 6) keeps alpha since r13 — output gains the
    # alpha channel exactly when the image carries one (the
    # decode_webp contract)
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    a_png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(a_png) == rgba).all()

    # 16-bit depth refused (honest boundary, not silent garbage)
    deep = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 25))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(deep)

    # lossless WebP routes to the real VP8L decoder since r11 and
    # LOSSY WebP to the real VP8 decoder since r12 — a junk VP8 body
    # raises the decoder's own structural error, not a refusal
    with _pytest.raises(ValueError, match="too short|start code"):
        decode_image_auto(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 24)
    # a genuinely unrecognized format (HEIC) still falls through to
    # the honest PIL stub
    with _pytest.raises(NotImplementedError, match="requires PIL"):
        decode_image_auto(b"\x00\x00\x00\x18ftypheic" + b"\x00" * 24)


def test_png_palette_interlace_surface(spark=None):
    """r13 PNG surface widening, fixture-level: palette (all depths),
    sub-byte gray, gray+alpha, tRNS on palette/gray/RGB, and Adam7 —
    our emitter round-trips through our decoder for every combination,
    malformed variants refuse by name.  Byte-exact conformance vs
    system libpng is the live test below + tools/png_ab.py."""
    import numpy as np
    import pytest as _pytest

    from setup_harvest_action_spark.functions.multimodal import (
        decode_png,
        encode_png_adv,
    )

    rng = np.random.default_rng(42)
    w, h = 19, 11
    for interlace in (0, 1):
        # palette RGB at every legal depth
        for depth in (1, 2, 4, 8):
            nc = min(1 << depth, 9)
            cmap = rng.integers(0, 256, (nc, 3), np.uint8)
            idx = rng.integers(0, nc, (h, w)).astype(np.uint8)
            out = decode_png(
                encode_png_adv(
                    w, h, idx, ctype=3, depth=depth,
                    interlace=interlace, palette=cmap,
                )
            )
            assert out.shape == (h, w, 3)
            assert (out == cmap[idx]).all(), (depth, interlace)
        # palette + tRNS -> RGBA
        cmap = rng.integers(0, 256, (6, 3), np.uint8)
        idx = rng.integers(0, 6, (h, w)).astype(np.uint8)
        out = decode_png(
            encode_png_adv(
                w, h, idx, ctype=3, depth=4, interlace=interlace,
                palette=cmap, trns=bytes([0, 99]),
            )
        )
        assert out.shape == (h, w, 4)
        want_a = np.where(idx == 0, 0, np.where(idx == 1, 99, 255))
        assert (out[:, :, 3] == want_a).all()
        # gray+alpha
        ga = rng.integers(0, 256, (h, w, 2), np.uint8)
        out = decode_png(encode_png_adv(w, h, ga, ctype=4, interlace=interlace))
        assert out.shape == (h, w, 4)
        assert (out[:, :, 0] == ga[:, :, 0]).all()
        assert (out[:, :, 3] == ga[:, :, 1]).all()
        # sub-byte gray scales by bit replication
        g = rng.integers(0, 4, (h, w)).astype(np.uint8)
        out = decode_png(
            encode_png_adv(w, h, g, ctype=0, depth=2, interlace=interlace)
        )
        assert (out[:, :, 0] == g * 85).all()

    # refusals stay refusals
    with _pytest.raises(ValueError, match="missing PLTE"):
        decode_png(
            encode_png_adv(4, 3, np.zeros((3, 4), np.uint8), ctype=3, depth=8)
        )
    with _pytest.raises(ValueError, match="palette index out of range"):
        decode_png(
            encode_png_adv(
                4, 3, np.full((3, 4), 5, np.uint8), ctype=3, depth=8,
                palette=np.zeros((2, 3), np.uint8),
            )
        )


def test_png_live_conformance_vs_libpng():
    """When system libpng16 is present, verify byte-exactness on fresh
    cases in BOTH directions: libpng-authored files (incl. real
    colormap PNGs) decode identically in our decoder, and our
    emitter's files decode back to the source pixels under libpng."""
    import os

    import numpy as np

    if not os.path.exists("/usr/lib/x86_64-linux-gnu/libpng16.so.16"):
        import pytest as _pytest

        _pytest.skip("libpng16 not installed")
    from setup_harvest_action_spark.functions.multimodal import (
        encode_png_adv,
    )
    from tools.png_ab import (
        _to_rgba,
        encode_ref,
        encode_ref_colormap,
        run_case,
    )

    rng = np.random.default_rng(7)
    w, h = 21, 13
    rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
    rgba = rng.integers(0, 256, (h, w, 4), np.uint8)
    fails = []
    fails += run_case(encode_ref(rgb), "ref-rgb", _to_rgba(rgb))
    fails += run_case(encode_ref(rgba), "ref-rgba", rgba)
    cmap = rng.integers(0, 256, (16, 4), np.uint8)
    idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
    fails += run_case(encode_ref_colormap(idx, cmap), "ref-cmap", cmap[idx])
    for interlace in (0, 1):
        fails += run_case(
            encode_png_adv(w, h, rgba, ctype=6, interlace=interlace),
            f"own-rgba-i{interlace}", rgba,
        )
        pcmap = rng.integers(0, 256, (7, 3), np.uint8)
        pidx = rng.integers(0, 7, (h, w)).astype(np.uint8)
        fails += run_case(
            encode_png_adv(
                w, h, pidx, ctype=3, depth=4, interlace=interlace,
                palette=pcmap,
            ),
            f"own-pal-i{interlace}", _to_rgba(pcmap[pidx]),
        )
    assert not fails, fails


def test_png_palette_pipeline_rows_and_goldens(spark, queries):
    """The palette-PNG pipeline decodes all 200 docs; each row's
    rgba_md5 and alpha stats match a direct decode of the same
    deterministic fixture (which tools/png_ab.py pinned byte-exact
    against libpng)."""
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        decode_png,
        synthesize_png_palette,
    )

    out = queries["q_multimodal_png_palette_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    for row in out[:20] + out[-5:]:
        img = decode_png(synthesize_png_palette(row["doc_id"]))
        assert img.shape == (row["height"], row["width"], 4)
        assert row["rgba_md5"] == hashlib.md5(
            img.tobytes().hex().encode()
        ).hexdigest()
        assert row["interlaced"] == bool(row["doc_id"] % 2)
        assert row["transparent_frac"] == round(
            float((img[:, :, 3] < 255).mean()), 4
        )
        assert row["transparent_frac"] > 0  # tRNS entries really used


def test_wav_widths_channels_and_float_vs_stdlib_wave():
    """r13 WAV widening: PCM 8/16/24/32-bit and stereo frames are
    authored with the STDLIB ``wave`` writer (external convention
    anchor) and must decode to the spec normalization; IEEE float and
    WAVE_FORMAT_EXTENSIBLE round-trip from hand-built containers;
    compressed codecs stay refused by name."""
    import io
    import struct
    import wave as _wave

    import numpy as np
    import pytest as _pytest

    from setup_harvest_action_spark.functions.multimodal import decode_wav

    rng = np.random.default_rng(5)
    n = 400

    def author(sampwidth, channels, frames: bytes) -> bytes:
        buf = io.BytesIO()
        w = _wave.open(buf, "wb")
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(8000)
        w.writeframes(frames)
        w.close()
        return buf.getvalue()

    # 8-bit unsigned PCM
    u8 = rng.integers(0, 256, n, dtype=np.uint8)
    rate, out = decode_wav(author(1, 1, u8.tobytes()))
    assert rate == 8000
    assert (out == (u8.astype(np.int32) - 128) * 256).all()
    # 16-bit
    s16 = rng.integers(-32768, 32768, n).astype("<i2")
    _, out = decode_wav(author(2, 1, s16.tobytes()))
    assert (out == s16).all()
    # 24-bit packed
    s24 = rng.integers(-(1 << 23), 1 << 23, n).astype(np.int32)
    frames = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in s24
    )
    _, out = decode_wav(author(3, 1, frames))
    assert (out == (s24 >> 8)).all()
    # 32-bit
    s32 = rng.integers(-(1 << 31), 1 << 31 - 1, n).astype("<i4")
    _, out = decode_wav(author(4, 1, s32.tobytes()))
    assert (out == np.clip(s32.astype(np.int64) >> 16, -32768, 32767)).all()
    # stereo downmix = channel mean
    st = rng.integers(-30000, 30000, (n, 2)).astype("<i2")
    _, out = decode_wav(author(2, 2, st.tobytes()))
    assert (out == st.astype(np.int32).mean(axis=1).astype(np.int16)).all()

    # IEEE float32 (codec 3), hand-built container
    f = rng.uniform(-1.2, 1.2, n).astype("<f4")
    body = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    wavf = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(body) + 8 + 4 * n) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(body)) + body
        + b"data" + struct.pack("<I", 4 * n) + f.tobytes()
    )
    _, out = decode_wav(wavf)
    want = np.round(np.clip(f.astype(np.float64), -1, 1) * 32767).astype(int)
    assert (out == want).all()

    # WAVE_FORMAT_EXTENSIBLE wrapping PCM 16
    sub = struct.pack("<H", 1) + b"\x00\x00" + bytes(12)
    bodyx = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    bodyx += struct.pack("<HHI", 22, 16, 3) + sub[:16]
    wavx = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(bodyx)) + bodyx
        + b"data" + struct.pack("<I", 2 * n) + s16.tobytes()
    )
    _, out = decode_wav(wavx)
    assert (out == s16).all()

    # G.711 mu-law / A-law (codecs 7 / 6): every byte value expands
    # through the exact companding tables — pinned against the CPython
    # audioop reference where available, and against embedded goldens
    # always (audioop is removed in Python 3.13)
    allb = bytes(range(256))
    for codec, golden in ((7, (-32124, -31100, 32124, 31100)),
                          (6, (-5504, -5248, 5504, 5248))):
        bodyg = struct.pack("<HHIIHH", codec, 1, 8000, 8000, 1, 8)
        wavg = (
            b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(bodyg)) + bodyg
            + b"data" + struct.pack("<I", 256) + allb
        )
        _, out = decode_wav(wavg)
        assert out.shape == (256,)
        assert (out[0], out[1], out[128], out[129]) == golden, codec
        try:
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                import audioop

            fn = audioop.ulaw2lin if codec == 7 else audioop.alaw2lin
            ref = np.frombuffer(fn(allb, 2), "<i2")
            assert (out == ref).all(), codec
        except ImportError:
            pass

    # IMA/DVI ADPCM (codec 0x11): full container decode matches the
    # per-block audioop oracle (audioop shares the IMA step tables but
    # reads HIGH nibble first — swap nibbles to drive it; the block
    # header predictor is the block's first output sample).  Also
    # pinned against embedded goldens so the test survives audioop's
    # removal in Python 3.13.
    ba = 36  # mono: 4-byte header + 32 data bytes = 65 samples/block
    rng2 = np.random.default_rng(77)
    blocks = b""
    hdrs = []
    for _ in range(3):
        pred = int(rng2.integers(-30000, 30000))
        idx = int(rng2.integers(0, 89))
        body = bytes(rng2.integers(0, 256, ba - 4, dtype=np.uint8))
        blocks += struct.pack("<hBB", pred, idx, 0) + body
        hdrs.append((pred, idx, body))
    bodya = struct.pack("<HHIIHH", 0x11, 1, 8000, 4055, ba, 4)
    wava = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(bodya)) + bodya
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )
    _, out = decode_wav(wava)
    assert out.shape == (65 * 3,)
    for b_i, (pred, idx, body) in enumerate(hdrs):
        assert out[65 * b_i] == pred  # header predictor = first sample
    try:
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("ignore")
            import audioop

        want = []
        for pred, idx, body in hdrs:
            swapped = bytes(((x & 0xF) << 4) | (x >> 4) for x in body)
            ref, _st = audioop.adpcm2lin(swapped, 2, (pred, idx))
            want += [pred] + list(np.frombuffer(ref, "<i2"))
        assert list(out) == want
    except ImportError:
        pass

    # remaining compressed codecs refused by name
    bad = bytearray(wavf)
    bad[20:22] = struct.pack("<H", 2)  # MS-ADPCM
    with _pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(bad))


def test_audio_codecs_pipeline_rows_and_goldens(spark, queries):
    """The codec-matrix audio pipeline decodes all 200 docs across the
    eight WAV codings; the dominant frequency must survive every codec
    (lossy companding/ADPCM included) and spot rows must match a
    direct decode of the same deterministic clip."""
    from setup_harvest_action_spark.functions.multimodal import (
        audio_features,
        decode_wav,
        synthesize_wav_variant,
    )

    out = queries["q_multimodal_audio_codecs_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    assert {r["codec_kind"] for r in out} == set(range(8))
    for row in out:
        hz_want = 200 + (row["doc_id"] % 32) * 100
        assert abs(row["dominant_hz"] - hz_want) < 20, (
            row["doc_id"], row["codec_kind"], row["dominant_hz"],
        )
    for row in out[:16]:
        rate, samples = decode_wav(synthesize_wav_variant(row["doc_id"]))
        feats = audio_features(rate, samples)
        assert row["rms"] == feats["rms"]
        assert row["n_samples"] == feats["n_samples"]
        assert row["dominant_hz"] == feats["dominant_hz"]


def test_tiff_codec_surface_and_refusals():
    """Baseline TIFF (r13): gray/RGB/RGBA/palette × none/LZW/Deflate/
    PackBits × predictor × byte order round-trips exactly through the
    emitter/decoder pair; TIFF-LZW conventions (MSB-first, early
    change, mid-stream Clear) hold on a table-overflowing stream; the
    refusal boundary raises by name.  Byte-exact conformance vs
    system libtiff is the live test below + tools/tiff_ab.py (218
    configurations)."""
    import numpy as np
    import pytest as _pytest

    from setup_harvest_action_spark.functions.tiff_codec import (
        _tiff_lzw_compress,
        _tiff_lzw_decompress,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(8)
    for be in (False, True):
        for comp in (1, 5, 8, 32773):
            pred = 2 if comp in (5, 8) else 1
            rgb = rng.integers(0, 256, (13, 21, 3), np.uint8)
            assert np.array_equal(
                decode_tiff(
                    encode_tiff(rgb, 2, comp, pred, big_endian=be,
                                rows_per_strip=5)
                ),
                rgb,
            ), (be, comp)
            g = rng.integers(0, 256, (9, 17), np.uint8)
            out = decode_tiff(encode_tiff(g, 0, comp, pred, big_endian=be))
            assert (out[:, :, 0] == 255 - g).all(), (be, comp)  # MinIsWhite
            pal = rng.integers(0, 256, (16, 3), np.uint8)
            idx = rng.integers(0, 16, (9, 17)).astype(np.uint8)
            assert np.array_equal(
                decode_tiff(
                    encode_tiff(idx, 3, comp, pred, palette=pal,
                                big_endian=be)
                ),
                pal[idx],
            ), (be, comp)
            rgba = rng.integers(0, 256, (9, 17, 4), np.uint8)
            out = decode_tiff(encode_tiff(rgba, 2, comp, pred, big_endian=be))
            assert out.shape == (9, 17, 4) and np.array_equal(out, rgba)

    # LZW table overflow -> mid-stream Clear, exact recovery
    d = bytes(rng.integers(0, 256, 120000, dtype=np.uint8))
    assert _tiff_lzw_decompress(_tiff_lzw_compress(d), len(d)) == d

    # refusals by name
    with _pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XXXX" + b"\x00" * 20)
    with _pytest.raises(ValueError, match="BigTIFF"):
        decode_tiff(b"II+\x00" + b"\x00" * 20)
    good = bytearray(encode_tiff(np.zeros((4, 4, 3), np.uint8), 2, 1))
    import struct as _struct

    # flip compression tag to JPEG (7) in place
    tif = bytes(good)
    idx7 = tif.index(_struct.pack("<HHI", 259, 3, 1))
    hacked = bytearray(tif)
    hacked[idx7 + 8 : idx7 + 10] = _struct.pack("<H", 7)
    with _pytest.raises(ValueError, match="compression 7"):
        decode_tiff(bytes(hacked))


def test_tiff_live_conformance_vs_libtiff():
    """When system libtiff is present: libtiff-authored files (incl.
    LZW + predictor — the convention anchor) must decode identically
    in our decoder, and our emitter's files must decode back to source
    pixels under libtiff."""
    import os

    import numpy as np

    if not os.path.exists("/usr/lib/x86_64-linux-gnu/libtiff.so.6"):
        import pytest as _pytest

        _pytest.skip("libtiff not installed")
    from setup_harvest_action_spark.functions.tiff_codec import encode_tiff
    from tools.tiff_ab import _want_rgba, encode_ref, run_case

    rng = np.random.default_rng(31)
    w, h = 23, 15
    rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
    pal = rng.integers(0, 256, (16, 3), np.uint8)
    idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
    fails = []
    for comp, pred in ((5, 2), (8, 2), (32773, 1), (1, 1)):
        want = _want_rgba(rgb, 2, None)
        fails += run_case(
            encode_ref(rgb, 2, comp, pred, None, rows_per_strip=6),
            f"ref-c{comp}", want,
        )
        for be in (False, True):
            fails += run_case(
                encode_tiff(rgb, 2, comp, pred, big_endian=be,
                            rows_per_strip=6),
                f"own-c{comp}-{'MM' if be else 'II'}", want,
            )
    fails += run_case(
        encode_ref(idx, 3, 5, 1, pal), "ref-pal", _want_rgba(idx, 3, pal)
    )
    assert not fails, fails


def test_tiff_pipeline_rows_and_goldens(spark, queries):
    """The TIFF pipeline decodes all 200 docs; spot rows match a
    direct decode of the same deterministic fixture, and all four
    compressions + the RGBA photometric actually occur."""
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        decode_image_auto,
        synthesize_tiff,
    )

    out = queries["q_multimodal_tiff_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    assert any(r["has_alpha"] for r in out)
    assert sum(1 for r in out if r["has_alpha"]) == 200 // 16 * 4
    for row in out[:16] + out[-4:]:
        img = decode_image_auto(synthesize_tiff(row["doc_id"]))
        assert img.shape[:2] == (row["height"], row["width"])
        assert row["px_md5"] == hashlib.md5(
            img.tobytes().hex().encode()
        ).hexdigest()
        assert row["mean_r"] == round(float(img[:, :, 0].mean()), 4)


def test_png_pipeline_matches_ppm_and_bmp(spark, queries):
    """The PNG pipeline must produce byte-identical statistics to the
    PPM and BMP pipelines (same pixel arithmetic, compressed
    container) — the three-format decode consistency proof, now
    covering a genuinely compressed format."""
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        decode_png,
        resize_nearest,
        synthesize_png,
    )

    rows = {
        r.doc_id: r
        for r in queries["q_multimodal_png_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) >= 10
    for doc_id in (0, 3, 11):
        expected_img = decode_png(synthesize_png(doc_id))
        means = expected_img.reshape(-1, 3).mean(axis=0)
        expected_thumb = resize_nearest(expected_img, THUMB_W, THUMB_H)
        r = rows[doc_id]
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.mean_r == round(float(means[0]), 4)
        assert r.mean_g == round(float(means[1]), 4)
        assert r.mean_b == round(float(means[2]), 4)
        assert r.thumb_md5 == hashlib.md5(
            expected_thumb.tobytes().hex().encode()
        ).hexdigest()
    ppm_rows = {
        r.doc_id: r
        for r in queries["q_multimodal_ppm_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for doc_id, r in rows.items():
        p = ppm_rows[doc_id]
        assert (r.mean_r, r.mean_g, r.mean_b, r.thumb_md5) == (
            p.mean_r, p.mean_g, p.mean_b, p.thumb_md5
        )


def test_ppm_pipeline_matches_pure_python(spark, queries):
    """The PPM pipeline's decode/resize must be REAL image math: golden
    values recomputed here with the same pure-numpy codec, plus a
    round-trip identity (decode(encode(x)) == x) and a resize shape
    check."""
    import hashlib

    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        decode_ppm,
        resize_nearest,
        synthesize_ppm,
    )

    # codec round-trip
    img = decode_ppm(synthesize_ppm(7))
    assert img.shape == (IMG_H, IMG_W, 3)
    thumb = resize_nearest(img, THUMB_W, THUMB_H)
    assert thumb.shape == (THUMB_H, THUMB_W, 3)

    rows = {
        r.doc_id: r
        for r in queries["q_multimodal_ppm_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) >= 10
    for doc_id in (0, 3, 11):
        expected_img = decode_ppm(synthesize_ppm(doc_id))
        means = expected_img.reshape(-1, 3).mean(axis=0)
        expected_thumb = resize_nearest(expected_img, THUMB_W, THUMB_H)
        r = rows[doc_id]
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.mean_r == round(float(means[0]), 4)
        assert r.mean_g == round(float(means[1]), 4)
        assert r.mean_b == round(float(means[2]), 4)
        assert r.thumb_md5 == hashlib.md5(
            expected_thumb.tobytes().hex().encode()
        ).hexdigest()


def test_pairs_threshold_lsh_candidates_lose_nothing(spark, queries):
    """q_similarity_pairs_threshold now routes through the LSH bucket
    join; its oracle is the EXACT all-pairs SQL, so the gate only stays
    green if the candidate set has 100% recall on qualifying pairs.
    Re-derive the exact ground truth here (theta join over the bounded
    slice) so a fixture or parameter change fails locally before it
    fails at the driver."""
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.functions.similarity import (
        PAIRS_SLICE,
        PAIRS_THRESHOLD,
        _as_double,
        cosine,
    )
    from setup_harvest_action_spark.io.loaders import load_table

    vecs = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") < PAIRS_SLICE)
        .select("vec_id", _as_double().alias("v"))
    )
    a = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= PAIRS_THRESHOLD)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in queries["q_similarity_pairs_threshold"](spark, SF).collect()
    }
    assert exact, "threshold yields no pairs — the contract is vacuous"
    assert got == exact


def test_wav_codec_roundtrip_and_features():
    """The WAV path must be REAL signal code: container roundtrip is
    exact, and the FFT-based feature extractor recovers the synthesized
    tone frequency."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        AUDIO_N,
        AUDIO_RATE,
        audio_features,
        decode_wav,
        encode_wav,
        synthesize_wav,
    )

    samples = (np.sin(np.arange(400) / 5.0) * 1000).astype(np.int16)
    rate, back = decode_wav(encode_wav(samples, 4000))
    assert rate == 4000
    assert (back == samples).all()

    for doc_id in (0, 7, 31, 131):
        rate, s = decode_wav(synthesize_wav(doc_id))
        feats = audio_features(rate, s)
        expected_hz = 200 + (doc_id % 32) * 100
        assert feats["dominant_hz"] == pytest.approx(expected_hz, abs=AUDIO_RATE / AUDIO_N)
        assert feats["n_samples"] == AUDIO_N
        assert feats["peak"] == 16384
        # full-scale-0.5 sine RMS = 0.5/sqrt(2)
        assert feats["rms"] == pytest.approx(0.3536, abs=0.001)

    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVE")  # missing chunks
    with pytest.raises(ValueError):
        decode_wav(b"not audio at all")


def test_audio_pipeline_matches_pure_python(spark, queries):
    """Golden check for q_multimodal_audio_pipeline: the distributed
    two-stage decode must emit exactly what the pure-Python codec
    computes, per document."""
    from setup_harvest_action_spark.functions.multimodal import (
        audio_features,
        decode_wav,
        synthesize_wav,
    )

    rows = {
        r["doc_id"]: r
        for r in queries["q_multimodal_audio_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) > 0
    for doc_id in list(rows)[:5]:
        rate, s = decode_wav(synthesize_wav(doc_id))
        expected = audio_features(rate, s)
        got = rows[doc_id]
        for k, v in expected.items():
            assert got[k] == pytest.approx(v, rel=1e-9), (doc_id, k)
        assert got["sample_rate"] == rate


def test_fuzzy_hot_block_cap_drops_celebrity_blocks(spark, monkeypatch):
    """FUZZY_MAX_BLOCK: a blocking key hotter than the cap contributes
    NO candidate pairs (its Σblock² blowup never reaches the join),
    while blocks at or under the cap keep full recall.  Patched to a
    tiny cap so the contract is testable at unit scale; the fixture
    SFs sit far below the production cap (max block 197 at sf0.1)."""
    import pyspark.sql.functions as F

    import setup_harvest_action_spark.functions.dedup as dedup

    rows = [(i, f"hot common head text number {i}") for i in range(5)] + [
        (10, "cool shared head text one"),
        (11, "cool shared head text two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "FUZZY_MAX_BLOCK", 4)
    pairs = dedup.fuzzy_match_pairs(spark, docs).collect()
    # the 5-doc 'hot' block (> cap) is dropped entirely; the 2-doc
    # 'cool' block (≤ cap) still verifies and matches
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(10, 11)}
    # and with the cap above the hot block size, its pairs come back
    monkeypatch.setattr(dedup, "FUZZY_MAX_BLOCK", 5)
    n = dedup.fuzzy_match_pairs(spark, docs).count()
    assert n == 10 + 1  # C(5,2) hot pairs + the cool pair


def test_substring_span_recall_guarantee(spark):
    """The stride-1 contract from the q_dedup_substring_spans
    docstring: ANY verbatim common substring of length >= SPAN_LEN +
    SPAN_MIN_SHARED - 1 chars is detected regardless of where it sits
    in either document — and sub-threshold overlap is not."""
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.functions.dedup import (
        SPAN_LEN,
        SPAN_MIN_SHARED,
    )
    from setup_harvest_action_spark.catalog import load_catalog

    import hashlib

    # aperiodic shared run (seeded digest chars): internal repetition
    # would let windows match at unintended offsets and overcount
    shared = "".join(
        hashlib.sha256(f"span{i}".encode()).hexdigest()[:4]
        for i in range(SPAN_LEN)
    )[: SPAN_LEN + SPAN_MIN_SHARED - 1]
    assert len(shared) == SPAN_LEN + SPAN_MIN_SHARED - 1
    rows = [
        # the shared run sits at different offsets in each doc
        (1, "A" * 17 + shared + "Qtail one here"),
        (2, "BB " + shared + "Zcompletely different ending"),
        # control pair: common run one char short of the guarantee,
        # continued DIFFERENTLY on each side so it cannot extend
        (3, "C" * 23 + shared[:-1] + "Qother"),
        (4, "DD " + shared[:-1] + "Zsomething else"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import setup_harvest_action_spark.functions.dedup as dedup

    spans = (
        docs.filter(F.length("text") >= SPAN_LEN)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(text) - {SPAN_LEN} + 1),"
                        f" i -> substring(text, i, {SPAN_LEN}))"
                    )
                )
            ).alias("span"),
        )
    )
    postings = (
        spans.groupBy("span")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= dedup.MAX_SPAN_DF))
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_spans"]
        for r in dedup._pairs_within(postings)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_spans"))
        .filter(F.col("shared_spans") >= SPAN_MIN_SHARED)
        .collect()
    }
    assert (1, 2) in pairs, pairs
    assert pairs[(1, 2)] >= SPAN_MIN_SHARED
    assert (3, 4) not in pairs, pairs


def test_winnowing_recovers_full_span_index_pairs(spark, queries):
    """The 1/8-sampled winnowing fingerprint index must recover the
    identical pair set the full stride-1 span index reports on the
    fixture (whose near-dup runs are long enough that the
    probabilistic contract predicts ~100% recall) — pinning both the
    sampling determinism and the FP_MIN_SHARED threshold."""
    full = {
        (r["doc_a"], r["doc_b"])
        for r in queries["q_dedup_substring_spans"](spark, SF).collect()
    }
    sampled = {
        (r["doc_a"], r["doc_b"])
        for r in queries["q_dedup_winnowing"](spark, SF).collect()
    }
    assert full, "fixture produced no span pairs"
    assert sampled == full, (
        sorted(full - sampled)[:5], sorted(sampled - full)[:5])


def test_jpeg_codec_exact_dc_bounded_ac_and_refusals():
    """The baseline JPEG pair must be a real entropy codec: EXACT
    reconstruction on constant-color (DC-only) content, bounded error
    on smooth content, deterministic bytes, grayscale decode, and
    honest refusal of subsampled / restart variants (progressive
    dispatches to its own real decoder since r11)."""
    import numpy as np
    import pytest as _pytest

    from setup_harvest_action_spark.functions.multimodal import (
        decode_image_auto,
        decode_jpeg,
        encode_jpeg,
        synthesize_jpeg,
    )

    # DC-only content reconstructs EXACTLY (quantization touches only
    # the zero AC coefficients) — this pins the whole chain: Huffman
    # tables, magnitude coding, dequant, IDCT, color conversion.
    for color in ((0, 0, 0), (255, 255, 255), (200, 30, 90), (130, 130, 130)):
        img = np.zeros((16, 24, 3), np.uint8)
        img[:] = color
        out = decode_jpeg(encode_jpeg(24, 16, img))
        assert np.abs(out.astype(int) - np.array(color)).max() == 0

    # smooth (triangle-wave) content: bounded reconstruction error at
    # quality 90 — measured max 5; pin a small margin, not exactness
    # (JPEG is lossy by construction)
    yy, xx = np.mgrid[0:32, 0:48]
    tri = lambda v: np.abs((v % 128) - 64)  # noqa: E731
    img = np.stack(
        [64 + tri(xx * 3 + 7), 64 + tri(yy * 3 + 11), 64 + tri(xx * 2 + yy * 2 + 13)],
        axis=-1,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(48, 32, img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 8

    # non-multiple-of-8 dimensions survive the pad/crop round trip
    odd = (np.arange(13 * 17 * 3) % 200).reshape(13, 17, 3).astype(np.uint8)
    assert decode_jpeg(encode_jpeg(17, 13, odd)).shape == (13, 17, 3)

    # deterministic bytes + magic-dispatch routing
    blob = synthesize_jpeg(5)
    assert blob == synthesize_jpeg(5)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert decode_image_auto(blob).shape == decode_jpeg(blob).shape

    # grayscale (1-component) decode: splice the SOF/SOS of a color
    # file down to one component over the same Y-plane entropy data —
    # simpler: decoder accepts nc=1 via a hand-built gray file
    gray_img = np.zeros((8, 8, 3), np.uint8)
    gray_img[:] = 77
    color_blob = encode_jpeg(8, 8, gray_img)
    out = decode_jpeg(color_blob)
    assert (out == 77).all()

    # refusals: restart intervals, truncated tables; SOF2 now
    # DISPATCHES to the progressive decoder (r11), which still rejects
    # a scanless header-only file
    def seg(marker, body):
        import struct

        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    import struct

    sof2 = struct.pack(">BHHB", 8, 8, 8, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    with _pytest.raises(ValueError, match="missing SOF2 or SOS"):
        decode_jpeg(b"\xff\xd8" + seg(0xC2, sof2) + b"\xff\xd9")
    # 2x2 luma sampling (4:2:0) is SUPPORTED since r12 — a header-only
    # file now fails on the missing scan, not a sampling refusal;
    # factors above 2 still refuse by name
    subsampled = struct.pack(">BHHB", 8, 8, 8, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    with _pytest.raises(ValueError, match="missing SOF0 or SOS"):
        decode_jpeg(b"\xff\xd8" + seg(0xC0, subsampled) + b"\xff\xd9")
    oversampled = struct.pack(">BHHB", 8, 8, 8, 3) + b"\x01\x33\x00\x02\x11\x01\x03\x11\x01"
    with _pytest.raises(ValueError, match="sampling factor"):
        decode_jpeg(b"\xff\xd8" + seg(0xC0, oversampled) + b"\xff\xd9")
    # restart intervals are SUPPORTED since r12 — a DRI-only file now
    # fails on the missing frame, not a refusal
    with _pytest.raises(ValueError, match="missing SOF0 or SOS"):
        decode_jpeg(b"\xff\xd8" + seg(0xDD, b"\x00\x04") + b"\xff\xd9")
    with _pytest.raises(ValueError):
        decode_jpeg(blob[:40])  # truncated mid-DQT
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01")  # not a JPEG at all


def test_jpeg_pipeline_golden_and_error_bound(spark, queries):
    """The JPEG pipeline's emitted statistics must match a pure-python
    recompute exactly (deterministic encoder + decoder), and the
    decoded pixels must stay within the lossy-compression error bound
    of the pre-encode synthesized pattern."""
    import hashlib

    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        decode_jpeg,
        resize_nearest,
        synthesize_jpeg,
    )

    rows = {
        r.doc_id: r
        for r in queries["q_multimodal_jpeg_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) >= 10
    for doc_id in (0, 3, 11):
        expected_img = decode_jpeg(synthesize_jpeg(doc_id))
        means = expected_img.reshape(-1, 3).mean(axis=0)
        expected_thumb = resize_nearest(expected_img, THUMB_W, THUMB_H)
        r = rows[doc_id]
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.mean_r == round(float(means[0]), 4)
        assert r.mean_g == round(float(means[1]), 4)
        assert r.mean_b == round(float(means[2]), 4)
        assert r.thumb_md5 == hashlib.md5(expected_thumb.tobytes()).hexdigest()

        # lossy-bound: decoded pixels near the pre-encode pattern
        yy, xx = np.mgrid[0:IMG_H, 0:IMG_W]
        tri = lambda v: np.abs((v % 128) - 64)  # noqa: E731
        src = np.stack(
            [
                64 + tri(xx * 3 + doc_id * 7),
                64 + tri(yy * 3 + doc_id * 11),
                64 + tri(xx * 2 + yy * 2 + doc_id * 13),
            ],
            axis=-1,
        ).astype(np.uint8)
        err = np.abs(expected_img.astype(int) - src.astype(int))
        assert err.max() <= 8 and err.mean() < 2.0


def test_gif_codec_lossless_roundtrip_and_refusals():
    """The GIF pair must be a real LZW codec: exact round trip
    (lossless, including table-overflow clears and the KwKwK case),
    cross-format gray == PPM red channel (shared pixel arithmetic),
    and honest refusal of animation/interlace/local-palette
    variants."""
    import numpy as np
    import pytest as _pytest
    import struct

    from setup_harvest_action_spark.functions.multimodal import (
        _lzw_compress,
        _lzw_decompress,
        decode_gif,
        decode_image_auto,
        decode_ppm,
        encode_gif,
        synthesize_gif,
        synthesize_ppm,
    )

    # exact round trip on random data (forces code-width growth and
    # a mid-stream clear once the table hits 4096)
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(64, 97), dtype=np.uint8)
    out = decode_gif(encode_gif(97, 64, img))
    assert out.shape == (64, 97, 3)
    assert (out[:, :, 0] == img).all()
    assert (out[:, :, 1] == img).all() and (out[:, :, 2] == img).all()

    # KwKwK: highly repetitive stream hits the code==next_free case
    rep = bytes(np.tile(np.array([5, 5, 5, 7, 5, 5, 7], np.uint8), 500))
    assert _lzw_decompress(_lzw_compress(rep, 8), 8) == rep

    # cross-format: GIF gray levels == PPM red channel, via dispatch
    g = decode_image_auto(synthesize_gif(7))
    p = decode_ppm(synthesize_ppm(7))
    assert (g[:, :, 0] == p[:, :, 0]).all()

    # refusals by name
    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    blob = bytearray(synthesize_gif(1))
    with _pytest.raises(ValueError, match="truncated"):
        decode_gif(bytes(blob[:60]))
    # animation (a second image descriptor) stays refused by name
    # (r13 supports interlace/local palettes/transparency, not frames)
    two = bytes(blob[:-1]) + bytes(blob[13 + 768 :])  # re-append image
    with _pytest.raises(ValueError, match="animation"):
        decode_gif(two)


def test_gif_interlace_local_transparency_surface():
    """r13 GIF surface widening: interlaced four-pass reorder, local
    color tables, GCE transparency (RGBA out exactly when a
    transparent index is declared) — emitter → decoder for every
    combination, plus the spec's literal interlace row order."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        _gif_interlace_rows,
        decode_gif,
        encode_gif_adv,
    )

    # the spec's row order, pinned literally for h=10
    assert _gif_interlace_rows(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]

    rng = np.random.default_rng(11)
    w, h = 21, 13
    pal = rng.integers(0, 256, (16, 3), np.uint8)
    idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
    for interlace in (False, True):
        for local in (False, True):
            out = decode_gif(
                encode_gif_adv(
                    w, h, idx, pal, interlace=interlace, local=local
                )
            )
            assert out.shape == (h, w, 3), (interlace, local)
            assert (out == pal[idx]).all(), (interlace, local)
    # transparency: RGBA out, alpha 0 exactly at the declared index
    out = decode_gif(
        encode_gif_adv(w, h, idx, pal, interlace=True, transparent=3)
    )
    assert out.shape == (h, w, 4)
    assert (out[:, :, :3] == pal[idx]).all()
    assert (out[:, :, 3] == np.where(idx == 3, 0, 255)).all()


def test_gif_live_conformance_vs_giflib():
    """When system giflib is present: our emitter's files must decode
    under giflib to the source index raster (DGifSlurp deinterlaces,
    independently validating the four-pass reorder and the LZW layer —
    which caught the r13 tail-width find: decoders must stop at pixel
    count, never depend on a well-formed EOI code), and our decoder
    must match giflib's output."""
    import os

    import numpy as np

    if not os.path.exists("/usr/lib/x86_64-linux-gnu/libgif.so.7"):
        import pytest as _pytest

        _pytest.skip("giflib not installed")
    from setup_harvest_action_spark.functions.multimodal import (
        encode_gif_adv,
    )
    from tools.gif_ab import run_case

    rng = np.random.default_rng(23)
    w, h = 23, 14
    fails = []
    # n_colors=16 at this size is the exact tail-width regression case
    for n_colors in (4, 16):
        pal = rng.integers(0, 256, (n_colors, 3), np.uint8)
        idx = rng.integers(0, n_colors, (h, w)).astype(np.uint8)
        for interlace in (False, True):
            for transparent in (None, 1):
                fails += run_case(
                    encode_gif_adv(
                        w, h, idx, pal,
                        interlace=interlace, local=interlace,
                        transparent=transparent,
                    ),
                    f"c{n_colors}i{int(interlace)}t{transparent}",
                    idx, pal, transparent,
                )
    assert not fails, fails


def test_gif_pipeline_matches_ppm_red_channel(spark, queries):
    """The GIF pipeline's gray statistics must equal the PPM
    pipeline's RED channel exactly (lossless codec + shared pixel
    arithmetic) and match a pure-python recompute."""
    import hashlib

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        decode_gif,
        resize_nearest,
        synthesize_gif,
    )

    rows = {
        r.doc_id: r
        for r in queries["q_multimodal_gif_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) >= 10
    for doc_id in (0, 3, 11):
        expected_img = decode_gif(synthesize_gif(doc_id))
        means = expected_img.reshape(-1, 3).mean(axis=0)
        expected_thumb = resize_nearest(expected_img, THUMB_W, THUMB_H)
        r = rows[doc_id]
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.mean_r == round(float(means[0]), 4)
        assert r.mean_r == r.mean_g == r.mean_b  # grayscale
        assert r.thumb_md5 == hashlib.md5(
            expected_thumb.tobytes().hex().encode()
        ).hexdigest()
    ppm_rows = {
        r.doc_id: r
        for r in queries["q_multimodal_ppm_pipeline"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for doc_id, r in rows.items():
        assert r.mean_r == ppm_rows[doc_id].mean_r  # red channel shared


def test_pq_adc_recall_floor_vs_exact(spark):
    """The two-stage PQ search (ADC candidate pool -> exact re-rank)
    must keep finding real neighbors: the returned top-10 overlaps the
    exact euclidean top-10 in at least 8 of 10 positions at sf0.01
    (measured 10/10; below the floor the codebooks stopped carrying
    geometry and the candidate pool lost the true neighbors)."""
    sf_dir = "/root/testdata/sf0.01"
    import pyspark.sql.functions as F

    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.functions.similarity import (
        PQ_PROBE,
        PQ_TOPK,
        _l2,
    )
    from setup_harvest_action_spark.io.loaders import load_table

    queries, _ = load_catalog()
    adc_ids = {
        r.vec_id
        for r in queries["q_similarity_pq_adc"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    probe = emb.filter(F.col("vec_id") == PQ_PROBE).select(
        F.col("e").alias("q")
    )
    exact_ids = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") != PQ_PROBE)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", _l2(F.col("e"), F.col("q")).alias("d"))
        .orderBy("d", "vec_id")
        .limit(PQ_TOPK)
        .collect()
    }
    overlap = len(adc_ids & exact_ids)
    assert overlap >= 8, (overlap, sorted(adc_ids), sorted(exact_ids))


def test_phash_dedup_finds_what_md5_cannot(spark, sf_dir):
    """Perceptual-hash clustering: every payload is byte-unique (md5
    dedup finds nothing) yet the pHash groups all variants of each
    base image — the whole point of the operator.  Plus the hash
    invariance/separation properties directly."""
    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.functions.multimodal import (
        PHASH_BASES,
        PHASH_DOCS,
        decode_ppm,
        perturb_unsampled,
        phash64,
        synthesize_ppm,
    )

    queries, _ = load_catalog()
    rows = queries["q_multimodal_phash_dedup"](spark, sf_dir).collect()
    assert len(rows) == PHASH_BASES
    assert all(r.n_docs == PHASH_DOCS // PHASH_BASES for r in rows)
    # byte-level dedup would have found ZERO duplicates
    assert all(r.n_exact_variants == r.n_docs for r in rows)
    assert sorted(r.min_doc for r in rows) == list(range(PHASH_BASES))

    # direct properties: perturbation-invariant, base-separating
    base = decode_ppm(synthesize_ppm(3))
    assert phash64(perturb_unsampled(base, 123)) == phash64(base)
    assert phash64(decode_ppm(synthesize_ppm(4))) != phash64(base)


def test_avi_mjpeg_container_roundtrip_and_video_pipeline(spark, sf_dir):
    """The AVI writer/parser must round-trip frames byte-identically,
    enforce the declared-vs-carried frame-count invariant, and the
    pipeline query must decode real pixels through the container."""
    import numpy as np
    import pytest as _pytest

    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        VIDEO_DOCS,
        VIDEO_FRAMES,
        VIDEO_SAMPLE_EVERY,
        decode_avi_mjpeg,
        decode_jpeg,
        encode_avi_mjpeg,
        synthesize_avi,
    )

    frames = [b"\xff\xd8 fake one", b"\xff\xd8 fake two"]
    meta = decode_avi_mjpeg(encode_avi_mjpeg(frames, 8, 6))
    assert (meta["width"], meta["height"]) == (8, 6)
    assert meta["frames"] == frames  # byte-identical through RIFF

    with _pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFFxxxxWAVE")

    clip = decode_avi_mjpeg(synthesize_avi(3))
    assert clip["n_frames"] == VIDEO_FRAMES
    # every frame decodes to real pixels at the declared geometry
    img = decode_jpeg(clip["frames"][1])
    assert img.shape == (IMG_H, IMG_W, 3)
    assert 0 < float(np.mean(img)) < 255

    queries, _ = load_catalog()
    rows = queries["q_multimodal_video_pipeline"](spark, sf_dir).collect()
    assert len(rows) == VIDEO_DOCS
    expect_sampled = -(-VIDEO_FRAMES // VIDEO_SAMPLE_EVERY)
    for r in rows:
        assert (r.width, r.height) == (IMG_W, IMG_H)
        assert r.n_frames == VIDEO_FRAMES
        assert r.n_sampled == expect_sampled
        assert 0 < r.mean_luma < 255


def test_progressive_jpeg_decode_equals_baseline():
    """The progressive codec (r11): the 8-scan encoder ships the SAME
    quantized coefficients as the baseline encoder, so decoding must be
    PIXEL-IDENTICAL — which gates every scan kind at once (DC first,
    DC refinement, AC first with cross-block EOB runs, AC refinement
    with buffered correction bits)."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        decode_image_auto,
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
        synthesize_jpeg,
        synthesize_jpeg_progressive,
    )

    # fixture images: smooth content (sparse AC at Al=1 → long EOB runs)
    for doc in (0, 7, 199):
        a = decode_jpeg(synthesize_jpeg(doc))
        b = decode_image_auto(synthesize_jpeg_progressive(doc))
        assert np.array_equal(a, b), f"doc {doc} diverged"

    # high-frequency noise: dense AC, ZRL paths, refinement everywhere
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (64, 80, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(80, 64, img)),
        decode_jpeg_progressive(encode_jpeg_progressive(80, 64, img)),
    )

    # flat image: every AC band empty → ONE EOB run spanning all
    # blocks (the multi-block EOBn decoder path)
    img = np.zeros((16, 24, 3), np.uint8)
    img[:] = (200, 30, 90)
    out = decode_jpeg_progressive(encode_jpeg_progressive(24, 16, img))
    assert np.abs(out.astype(int) - np.array((200, 30, 90))).max() == 0

    # deterministic bytes + magic dispatch + SOF2 marker present
    blob = synthesize_jpeg_progressive(5)
    assert blob == synthesize_jpeg_progressive(5)
    assert b"\xff\xc2" in blob and blob[:2] == b"\xff\xd8"


def test_progressive_jpeg_pipeline_rows_equal_baseline_pipeline(
    spark, queries
):
    """q_multimodal_progressive_jpeg_pipeline's golden contract: every
    output row byte-identical to q_multimodal_jpeg_pipeline's — decode
    equivalence across entropy layers at the pipeline surface."""
    base = {
        r["doc_id"]: tuple(r)
        for r in queries["q_multimodal_jpeg_pipeline"](spark, SF).collect()
    }
    prog = {
        r["doc_id"]: tuple(r)
        for r in queries["q_multimodal_progressive_jpeg_pipeline"](
            spark, SF
        ).collect()
    }
    assert base and prog.keys() == base.keys()
    assert prog == base


def test_webp_codec_roundtrips_all_variants():
    """VP8L (RFC 9649) lossless: every encoder variant — and therefore
    every decoder path it exercises (normal code-length-coded prefix
    codes with repeat ops, simple codes, LZ77 back-references, color
    cache, 2-group meta split via the recursive entropy image,
    subtract-green, palette at every pixel-bundle width, constant-mode
    predictor) — round-trips byte-exactly."""
    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        decode_image_auto,
    )
    from setup_harvest_action_spark.functions.webp_codec import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.RandomState(11)
    yy, xx = np.mgrid[0:40, 0:56]
    smooth = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)
    noise = rng.randint(0, 256, (33, 47, 3)).astype(np.uint8)

    def rt(img, **kw):
        blob = encode_webp_lossless(img.shape[1], img.shape[0], img, **kw)
        assert np.array_equal(decode_webp(blob), img), kw
        return blob

    rt(smooth)  # subtract-green + cache + LZ77 + normal codes
    rt(np.tile(smooth[:8], (5, 1, 1)))  # LZ77-heavy
    rt(noise, cache_bits=0)
    rt(smooth, meta_bits=4)  # 2-group meta via entropy image
    for ncol in (2, 4, 12, 200):  # palette at every bundle width
        cols = rng.randint(0, 256, (ncol, 3))
        pimg = cols[rng.randint(0, ncol, (25, 37))].astype(np.uint8)
        rt(pimg, palette=True, subtract_green=False, cache_bits=0)
    rt(smooth, predictor=True)
    rt(smooth, predictor=True, meta_bits=4)
    rt(np.array([[[7, 200, 13]]], dtype=np.uint8))  # 1x1

    # magic dispatch + determinism + refusals by name.  A 'VP8 ' chunk
    # routes to the r12 lossy decoder (no longer refused), so a junk
    # body raises ITS structural error; VP8X stays refused by name.
    blob = rt(smooth)
    assert np.array_equal(decode_image_auto(blob), smooth)
    assert blob == encode_webp_lossless(56, 40, smooth)
    with pytest.raises(ValueError, match="too short|start code"):
        decode_webp(b"RIFF\x00\x00\x00\x00WEBPVP8 \x04\x00\x00\x00xxxx")
    with pytest.raises(ValueError, match="VP8X"):
        decode_webp(b"RIFF\x00\x00\x00\x00WEBPVP8Xxxxx")


def test_webp_pipeline_stats_match_synthesized_pixels(spark, queries):
    """Lossless contract at the pipeline surface: the decoded
    statistics equal the synthesized pixels' statistics exactly
    (the PNG/GIF/BMP byte-identical family)."""
    import hashlib

    import numpy as np

    from setup_harvest_action_spark.functions.multimodal import (
        IMG_H,
        IMG_W,
        THUMB_H,
        THUMB_W,
        resize_nearest,
    )

    rows = {
        r["doc_id"]: r
        for r in queries["q_multimodal_webp_pipeline"](spark, SF).collect()
    }
    assert len(rows) == 200
    for doc_id in (0, 7, 42, 199):
        yy, xx = np.mgrid[0:IMG_H, 0:IMG_W]
        img = np.stack(
            [
                (xx * 7 + doc_id * 3) % 256,
                (yy * 11 + doc_id * 5) % 256,
                (xx * 2 + yy * 3 + doc_id * 7) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (IMG_W, IMG_H)
        means = img.reshape(-1, 3).mean(axis=0)
        assert r["mean_r"] == round(float(means[0]), 4)
        assert r["mean_g"] == round(float(means[1]), 4)
        assert r["mean_b"] == round(float(means[2]), 4)
        thumb = resize_nearest(img, THUMB_W, THUMB_H)
        assert r["thumb_md5"] == hashlib.md5(
            thumb.tobytes().hex().encode()
        ).hexdigest()


def test_substring_removal_closure_no_spans_survive(spark, queries):
    """The removal operator's semantic contract, checked by its own
    detector: rebuild the cleaned corpus (same fold the query runs,
    materialized as text), re-run the cross-document window INDEX over
    it — ZERO windows shared by >= 2 docs survive.  Also pins
    conservation: clean_len + removed_chars == original length, and
    pass-through docs keep their original md5."""
    import hashlib

    import pyspark.sql.functions as F

    from setup_harvest_action_spark.functions.dedup import SPAN_LEN
    from setup_harvest_action_spark.io.loaders import load_table

    rows = {
        r["doc_id"]: r
        for r in queries["q_dedup_substring_removal"](spark, SF).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF, "documents").collect()
    }
    assert rows.keys() == docs.keys()
    assert any(r["removed_chars"] > 0 for r in rows.values())
    assert any(r["removed_chars"] == 0 for r in rows.values())

    # python replay of the same policy to materialize the cleaned text
    from collections import defaultdict

    df = defaultdict(set)
    for d, t in docs.items():
        for i in range(len(t) - SPAN_LEN + 1):
            df[hashlib.md5(t[i:i + SPAN_LEN].encode()).hexdigest()[:16]].add(d)
    shared = {h for h, s in df.items() if len(s) >= 2}
    cleaned = {}
    for d, t in docs.items():
        covered = set()
        for i in range(max(len(t) - SPAN_LEN + 1, 0)):
            h = hashlib.md5(t[i:i + SPAN_LEN].encode()).hexdigest()[:16]
            if h in shared:
                covered.update(range(i, i + SPAN_LEN))
        cleaned[d] = "".join(c for j, c in enumerate(t) if j not in covered)
        # the Spark result must equal this replay exactly
        assert rows[d]["clean_md5"] == hashlib.md5(
            cleaned[d].encode()
        ).hexdigest(), d
        assert rows[d]["clean_len"] + rows[d]["removed_chars"] == len(t)
        if rows[d]["removed_chars"] == 0:
            assert cleaned[d] == t

    # CLOSURE: the detector finds nothing on the cleaned corpus
    df2 = defaultdict(set)
    for d, t in cleaned.items():
        for i in range(max(len(t) - SPAN_LEN + 1, 0)):
            df2[hashlib.md5(t[i:i + SPAN_LEN].encode()).hexdigest()[:16]].add(d)
    survivors = {h for h, s in df2.items() if len(s) >= 2}
    assert not survivors


def test_vp8_lossy_decode_matches_conformance_hashes():
    """Lossy VP8 (RFC 6386): every embedded fixture — real
    libwebp-encoded bitstreams spanning segmentation, B_PRED-heavy
    content, simple AND normal loop filters, sharpness, an 8-partition
    layout, and non-MB-aligned crops — decodes to the pinned md5 of
    its (y, u, v) planes.  The hashes were produced by a decoder
    verified byte-exact against libwebp on 324 configurations
    (tools/vp8_ab.py), so this pins conformance, not
    self-consistency."""
    import hashlib

    from setup_harvest_action_spark.functions.vp8_codec import (
        decode_webp_lossy,
    )
    from setup_harvest_action_spark.functions.vp8_fixtures import (
        VP8_FIXTURES,
        fixture_payload,
    )

    assert len(VP8_FIXTURES) >= 8
    for name, (_, w, h, digest) in VP8_FIXTURES.items():
        y, u, v = decode_webp_lossy(fixture_payload(name))
        assert y.shape == (h, w), name
        assert u.shape == ((h + 1) // 2, (w + 1) // 2), name
        got = hashlib.md5(y.tobytes() + u.tobytes() + v.tobytes()).hexdigest()
        assert got == digest, name


def test_vp8_lossy_live_conformance_vs_libwebp():
    """When the system libwebp is present, re-verify bit-exactness on
    FRESH encodes (not the embedded fixtures): libwebp encodes a new
    image, both decoders decode it, the YUV planes must be identical.
    Skipped cleanly where libwebp is absent — the fixture-hash test
    above still pins conformance there."""
    import ctypes
    import ctypes.util

    import numpy as np

    so = ctypes.util.find_library("webp")
    if so is None:
        pytest.skip("libwebp not installed")
    lw = ctypes.CDLL(so)
    lw.WebPEncodeRGB.restype = ctypes.c_size_t
    lw.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lw.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    lw.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]

    from setup_harvest_action_spark.functions.vp8_codec import (
        decode_webp_lossy,
    )

    rng = np.random.RandomState(77)
    for (w, h, q) in [(64, 48, 75.0), (41, 29, 35.0), (96, 96, 90.0)]:
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.dstack([
            (128 + 80 * np.sin(xx / 5.0)).astype(np.uint8),
            np.clip((yy * 3) % 256 + rng.randint(-5, 6, (h, w)), 0, 255)
            .astype(np.uint8),
            ((xx + 2 * yy) % 256).astype(np.uint8),
        ])
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lw.WebPEncodeRGB(img.tobytes(), w, h, w * 3, q, ctypes.byref(out))
        assert n > 0
        data = ctypes.string_at(out, n)
        lw.WebPFree(out)

        wi, hi = ctypes.c_int(), ctypes.c_int()
        up, vp = ctypes.POINTER(ctypes.c_uint8)(), ctypes.POINTER(ctypes.c_uint8)()
        st, ust = ctypes.c_int(), ctypes.c_int()
        yp = lw.WebPDecodeYUV(
            data, len(data), ctypes.byref(wi), ctypes.byref(hi),
            ctypes.byref(up), ctypes.byref(vp),
            ctypes.byref(st), ctypes.byref(ust),
        )
        assert yp
        cw, ch = (wi.value + 1) // 2, (hi.value + 1) // 2
        ry = np.frombuffer(
            ctypes.string_at(yp, st.value * hi.value), np.uint8
        ).reshape(hi.value, st.value)[:, : wi.value].copy()
        ru = np.frombuffer(
            ctypes.string_at(up, ust.value * ch), np.uint8
        ).reshape(ch, ust.value)[:, :cw].copy()
        rv = np.frombuffer(
            ctypes.string_at(vp, ust.value * ch), np.uint8
        ).reshape(ch, ust.value)[:, :cw].copy()
        lw.WebPFree(yp)

        my, mu, mv = decode_webp_lossy(data)
        assert np.array_equal(ry, my), (w, h, q)
        assert np.array_equal(ru, mu), (w, h, q)
        assert np.array_equal(rv, mv), (w, h, q)


def test_webp_alpha_decode_matches_conformance_hashes():
    """VP8X alpha stills (r13): every embedded fixture — real
    libwebp-encoded containers spanning compressed/raw/lossy-quantized
    alpha, all four ALPH row filters (two via hand-filtered chunks
    libwebp itself also decodes), and VP8L-with-alpha — decodes to the
    pinned md5 of its RGBA array.  Hashes were produced by a decoder
    verified byte-exact against libwebp on 180 configurations
    (tools/webp_alpha_ab.py): conformance, not self-consistency."""
    import hashlib

    from setup_harvest_action_spark.functions.webp_alpha_fixtures import (
        WEBP_ALPHA_FIXTURES,
        fixture_payload,
    )
    from setup_harvest_action_spark.functions.webp_codec import decode_webp

    assert len(WEBP_ALPHA_FIXTURES) >= 7
    for name, (_, w, h, digest) in WEBP_ALPHA_FIXTURES.items():
        arr = decode_webp(fixture_payload(name))
        assert arr.shape == (h, w, 4), name
        assert hashlib.md5(arr.tobytes()).hexdigest() == digest, name
    # at least one fixture must be genuinely transparent somewhere —
    # otherwise the alpha surface isn't being exercised
    arr = decode_webp(fixture_payload("alpha_shapes_q75"))
    assert (arr[:, :, 3] < 255).any()


def test_webp_alpha_live_conformance_vs_libwebp():
    """When the system libwebp is present, re-verify byte-exactness on
    FRESH RGBA encodes: the alpha plane must equal WebPDecodeRGBA's A
    channel, the YUV planes must equal WebPDecodeYUV's, and lossless
    RGBA must match in full (the tools/webp_alpha_ab.py contract)."""
    import ctypes.util

    if ctypes.util.find_library("webp") is None:
        pytest.skip("libwebp not installed")
    from tools.webp_alpha_ab import (
        alpha_image,
        encode_rgba,
        encode_rgba_lossless,
        run_case,
        synth_vp8x_alpha,
    )

    fails = []
    for kind in ("noise", "shapes"):
        img = alpha_image(kind, 40, 33)
        fails += run_case(encode_rgba(img, 75.0), f"{kind}-lossy")
        fails += run_case(encode_rgba_lossless(img), f"{kind}-lossless")
        for filt in (1, 2, 3):
            fails += run_case(
                synth_vp8x_alpha(img[:, :, :3], img[:, :, 3], filt),
                f"{kind}-f{filt}",
            )
    assert not fails, fails


def test_webp_vp8x_refusals_and_robustness():
    """Animation refused BY NAME (flag and chunk), truncated headers
    and planes raise structured errors, reserved ALPH bits refused —
    a malformed container must never decode to garbage silently."""
    from setup_harvest_action_spark.functions.webp_alpha_fixtures import (
        fixture_payload,
    )
    from setup_harvest_action_spark.functions.webp_codec import (
        _decode_alpha_chunk,
        decode_webp,
    )

    good = fixture_payload("alpha_shapes_q75")
    # animation flag set in the VP8X header
    anim = bytearray(good)
    anim[20] |= 0x02
    with pytest.raises(ValueError, match="animation"):
        decode_webp(bytes(anim))
    # truncated VP8X header
    with pytest.raises(ValueError, match="VP8X"):
        decode_webp(b"RIFF\x08\x00\x00\x00WEBPVP8X")
    # raw alpha plane shorter than w*h
    with pytest.raises(ValueError, match="truncated raw alpha"):
        _decode_alpha_chunk(bytes([0]) + b"\xff" * 10, 8, 8)
    # reserved bits in the ALPH header
    with pytest.raises(ValueError, match="reserved ALPH"):
        _decode_alpha_chunk(bytes([0xC0]) + b"\x00" * 64, 8, 8)
    # unknown compression method
    with pytest.raises(ValueError, match="compression method"):
        _decode_alpha_chunk(bytes([3]) + b"\x00" * 64, 8, 8)


def test_webp_alpha_pipeline_rows_and_goldens(spark, queries):
    """The catalog pipeline decodes all 200 docs; each row's rgba_md5
    equals its fixture's conformance hash and the alpha stats match a
    direct decode."""
    import numpy as np

    from setup_harvest_action_spark.functions.webp_alpha_fixtures import (
        WEBP_ALPHA_FIXTURES,
        fixture_payload,
    )
    from setup_harvest_action_spark.functions.webp_codec import decode_webp

    out = queries["q_multimodal_webp_alpha_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    names = sorted(WEBP_ALPHA_FIXTURES)
    arrs = {n: decode_webp(fixture_payload(n)) for n in names}
    import hashlib

    for row in out:
        n = names[row["doc_id"] % len(names)]
        arr = arrs[n]
        assert row["rgba_md5"] == hashlib.md5(arr.tobytes()).hexdigest()
        assert row["width"] == arr.shape[1] and row["height"] == arr.shape[0]
        a = arr[:, :, 3]
        assert row["mean_a"] == round(float(a.mean()), 4)
        assert row["opaque_frac"] == round(float((a == 255).mean()), 4)
        assert row["mean_r"] == round(float(np.mean(arr[:, :, 0])), 4)


def test_vp8_lossy_pipeline_rows_and_goldens(spark, queries):
    """The catalog pipeline decodes all 200 docs, each row's yuv_md5
    equals its fixture's conformance hash, and plane means are the
    decoded planes' means (spot-checked against a direct decode)."""
    import numpy as np

    from setup_harvest_action_spark.functions.vp8_codec import (
        decode_webp_lossy,
    )
    from setup_harvest_action_spark.functions.vp8_fixtures import (
        VP8_FIXTURES,
        fixture_payload,
    )

    out = queries["q_multimodal_webp_lossy_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    names = sorted(VP8_FIXTURES)
    by_name = {n: VP8_FIXTURES[n] for n in names}
    for row in out:
        name = names[row["doc_id"] % len(names)]
        _, w, h, digest = by_name[name]
        assert (row["width"], row["height"]) == (w, h)
        assert row["yuv_md5"] == digest
    y, u, v = decode_webp_lossy(fixture_payload(names[0]))
    r0 = next(r for r in out if r["doc_id"] % len(names) == 0)
    assert r0["mean_y"] == round(float(np.mean(y)), 4)
    assert r0["mean_u"] == round(float(np.mean(u)), 4)


def test_jpeg_arith_decodes_identical_to_huffman_twin():
    """Arithmetic JPEG (SOF9, T.81 Annex D): every embedded fixture
    decodes byte-identical to its Huffman twin — the same libjpeg
    encode of the same image, so the two files carry the identical
    quantized-coefficient stream and only the entropy layer differs.
    Equality therefore pins the arithmetic entropy decoder's
    conformance end-to-end (coder core, DC conditioning contexts, AC
    Kx spectral split, byte-stuffing rules)."""
    import hashlib

    import numpy as np

    from setup_harvest_action_spark.functions.jpeg_arith_fixtures import (
        JPEG_ARITH_FIXTURES,
        fixture_pair,
    )
    from setup_harvest_action_spark.functions.multimodal import (
        decode_image_auto,
        decode_jpeg,
    )

    assert len(JPEG_ARITH_FIXTURES) >= 6
    for name, (_, _, w, h, digest) in JPEG_ARITH_FIXTURES.items():
        ari, huf = fixture_pair(name)
        a = decode_image_auto(ari)  # dispatches through the SOF9 route
        b = decode_jpeg(huf)
        assert a.shape == (h, w, 3), name
        assert np.array_equal(a, b), name
        assert hashlib.md5(a.tobytes()).hexdigest() == digest, name
        # arithmetic coding is why the format exists: smaller files
        assert len(ari) < len(huf), name


def test_jpeg_arith_live_conformance_vs_libjpeg():
    """When the system libjpeg is present, re-verify on FRESH encode
    pairs (not the embedded fixtures) across qualities and shapes;
    skipped cleanly where libjpeg is absent."""
    import ctypes.util

    import numpy as np

    if ctypes.util.find_library("jpeg") is None:
        pytest.skip("libjpeg not installed")
    try:
        from tools.jpeg_arith_ab import encode_jpeg_libjpeg
    except Exception:
        pytest.skip("libjpeg harness unavailable")
    from setup_harvest_action_spark.functions.multimodal import decode_jpeg

    rng = np.random.RandomState(5)
    for (w, h, q) in [(64, 48, 75), (41, 29, 35), (96, 96, 95)]:
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.dstack([
            (128 + 80 * np.sin(xx / 5.0)).astype(np.uint8),
            np.clip((yy * 3) % 256 + rng.randint(-5, 6, (h, w)), 0, 255)
            .astype(np.uint8),
            ((xx + 2 * yy) % 256).astype(np.uint8),
        ])
        ari = encode_jpeg_libjpeg(img, q, arith=True)
        huf = encode_jpeg_libjpeg(img, q, arith=False)
        assert np.array_equal(decode_jpeg(ari), decode_jpeg(huf)), (w, h, q)


def test_jpeg_arith_pipeline_rows_and_goldens(spark, queries):
    """The catalog pipeline decodes all 200 docs and each row's pixel
    hash equals its fixture's twin-pinned digest."""
    from setup_harvest_action_spark.functions.jpeg_arith_fixtures import (
        JPEG_ARITH_FIXTURES,
    )

    out = queries["q_multimodal_jpeg_arith_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 200
    names = sorted(JPEG_ARITH_FIXTURES)
    for row in out:
        _, _, w, h, digest = JPEG_ARITH_FIXTURES[names[row["doc_id"] % len(names)]]
        assert (row["width"], row["height"]) == (w, h)
        assert row["rgb_md5"] == digest


def test_jpeg_subsampled_twins_and_libjpeg_closeness():
    """Chroma subsampling (r12): the embedded 4:2:0 fixture pairs
    decode twin-identically, and — when libjpeg is present — fresh
    encodes across 4:2:0/4:2:2/4:4:0, sequential+progressive, decode
    within IDCT rounding (maxdiff <= 3 on smooth content) of libjpeg's
    own replicated-upsample decode.  The zigzag-orientation fix this
    test locks in: before r12 the repo's zigzag was transposed
    (self-cancelling between its encoder and decoder, nonconformant
    against everyone else)."""
    import ctypes.util

    import numpy as np

    from setup_harvest_action_spark.functions.jpeg_arith_fixtures import (
        JPEG_ARITH_FIXTURES,
        fixture_pair,
    )
    from setup_harvest_action_spark.functions.multimodal import decode_jpeg

    sub = [n for n in JPEG_ARITH_FIXTURES if n.startswith("sub420_")]
    assert len(sub) >= 2
    for name in sub:
        ari, huf = fixture_pair(name)
        a, b = decode_jpeg(ari), decode_jpeg(huf)
        assert np.array_equal(a, b), name
        _, _, w, h, digest = JPEG_ARITH_FIXTURES[name]
        import hashlib

        assert a.shape == (h, w, 3)
        assert hashlib.md5(a.tobytes()).hexdigest() == digest, name

    if ctypes.util.find_library("jpeg") is None:
        pytest.skip("libjpeg not installed — fixture pins covered above")
    from tools.jpeg_arith_ab import (
        decode_jpeg_libjpeg,
        encode_jpeg_libjpeg_subsampled,
    )

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.dstack([
        (xx * 255 // 63), (yy * 255 // 47), ((xx + yy) * 255 // 110)
    ]).astype(np.uint8)
    for hs, vs in [(2, 2), (2, 1), (1, 2)]:
        for prog in (False, True):
            d = encode_jpeg_libjpeg_subsampled(
                img, 75, arith=False, progressive=prog, hs=hs, vs=vs
            )
            ref = decode_jpeg_libjpeg(d, fancy_upsampling=False)
            mine = decode_jpeg(d)
            assert int(
                np.abs(ref.astype(int) - mine.astype(int)).max()
            ) <= 3, (hs, vs, prog)


def test_jpeg_decodes_libjpeg_444_within_idct_rounding():
    """The r12 zigzag fix at the 4:4:4 surface: repo decode of a
    libjpeg file and libjpeg decode of a repo file both land within
    IDCT rounding — interop in BOTH directions, not self-consistency.
    Skipped cleanly without libjpeg."""
    import ctypes.util

    import numpy as np

    if ctypes.util.find_library("jpeg") is None:
        pytest.skip("libjpeg not installed")
    from tools.jpeg_arith_ab import decode_jpeg_libjpeg, encode_jpeg_libjpeg

    from setup_harvest_action_spark.functions.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.dstack([
        (xx * 255 // 63), (yy * 255 // 47), ((xx + yy) * 255 // 110)
    ]).astype(np.uint8)
    d = encode_jpeg_libjpeg(img, 75)
    assert int(np.abs(
        decode_jpeg_libjpeg(d).astype(int) - decode_jpeg(d).astype(int)
    ).max()) <= 3
    e = encode_jpeg(64, 48, img)
    assert int(np.abs(
        decode_jpeg_libjpeg(e).astype(int) - decode_jpeg(e).astype(int)
    ).max()) <= 3


def test_jpeg_restart_intervals_all_variants():
    """Restart intervals (r12): DRI + RSTn segmentation decodes
    conformantly across sequential/progressive x Huffman/arithmetic x
    4:4:4/4:2:0 — twins byte-identical, within IDCT rounding of
    libjpeg.  Skipped without libjpeg (the DRI path has no embedded
    fixture; it composes the already-pinned machinery with segment
    resets)."""
    import ctypes
    import ctypes.util

    import numpy as np

    if ctypes.util.find_library("jpeg") is None:
        pytest.skip("libjpeg not installed")
    import tools.jpeg_arith_ab as ab

    from setup_harvest_action_spark.functions.multimodal import decode_jpeg

    def encode_rst(img, rst, **kw):
        orig = ab.LJ.jpeg_start_compress

        def patched(cinfo_ref, flag):
            base = ctypes.addressof(cinfo_ref._obj)
            ctypes.c_uint32.from_address(base + 280).value = rst
            return orig(cinfo_ref, flag)

        ab.LJ.jpeg_start_compress = patched
        try:
            if kw.get("hs", 1) == 1:
                return ab.encode_jpeg_libjpeg(
                    img, 75, arith=kw.get("arith", False),
                    progressive=kw.get("progressive", False),
                )
            return ab.encode_jpeg_libjpeg_subsampled(
                img, 75, arith=kw.get("arith", False),
                progressive=kw.get("progressive", False),
                hs=kw["hs"], vs=kw["vs"],
            )
        finally:
            ab.LJ.jpeg_start_compress = orig

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.dstack([
        (xx * 255 // 63), (yy * 255 // 47), ((xx + yy) * 255 // 110)
    ]).astype(np.uint8)
    for rst in (1, 3):
        for hs, vs in [(1, 1), (2, 2)]:
            for prog in (False, True):
                dh = encode_rst(img, rst, progressive=prog, hs=hs, vs=vs)
                da = encode_rst(
                    img, rst, arith=True, progressive=prog, hs=hs, vs=vs
                )
                mh, ma = decode_jpeg(dh), decode_jpeg(da)
                assert np.array_equal(mh, ma), (rst, hs, vs, prog)
                ref = ab.decode_jpeg_libjpeg(dh, fancy_upsampling=False)
                assert int(
                    np.abs(ref.astype(int) - mh.astype(int)).max()
                ) <= 3, (rst, hs, vs, prog)
