"""Round-7 second-session operators: perceptual-hash image near-dup,
audio energy fingerprinting, distinctive terms, training-mix planning.
Each is pinned against an independent straight-line Python model
(SURVEY §5 strategy) plus error-shape and plan checks."""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osmexpress_spark.operators import multimodal as M

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _bmp24(pixels, top_down=False):
    """Independent BMP builder (mirrors test_multimodal's, with
    top-down support): pixels is image-ordered rows of (r, g, b)."""
    h, w = len(pixels), len(pixels[0])
    stride = ((w * 3 + 3) // 4) * 4
    rows = pixels if top_down else list(reversed(pixels))
    body = bytearray()
    for row in rows:
        rb = bytearray()
        for r, g, b in row:
            rb += bytes((b, g, r))
        rb += b"\x00" * (stride - len(rb))
        body += rb
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
        len(body), 2835, 2835, 0, 0,
    )
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        + info
        + bytes(body)
    )


def _grid_model(pixels, grid):
    """Straight-line pooling model: exact integer cell sums/counts."""
    h, w = len(pixels), len(pixels[0])
    sums, npix = [0] * grid * grid, [0] * grid * grid
    for r in range(h):
        for c in range(w):
            pr, pg, pb = pixels[r][c]
            idx = ((r * grid) // h) * grid + (c * grid) // w
            sums[idx] += 77 * pr + 150 * pg + 29 * pb
            npix[idx] += 1
    return sums, npix


_pix = st.integers(0, 255)


@SET
@given(
    st.integers(1, 13),
    st.integers(1, 11),
    st.integers(1, 5),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_bmp_gray_grid_matches_model(width, height, grid, top_down, rnd):
    pixels = [
        [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
         for _ in range(width)]
        for _ in range(height)
    ]
    feats = M.bmp_gray_grid(_bmp24(pixels, top_down), grid)
    assert feats[0] == float(width) and feats[1] == float(height)
    sums, npix = _grid_model(pixels, grid)
    assert [int(x) for x in feats[2 : 2 + grid * grid]] == sums
    assert [int(x) for x in feats[2 + grid * grid :]] == npix


def test_bmp_gray_grid_error_shapes():
    with pytest.raises(NotImplementedError):
        M.bmp_gray_grid(b"P6 1 1 255\n\x00\x00\x00")  # wrong magic
    with pytest.raises(ValueError):
        M.bmp_gray_grid(_bmp24([[(1, 2, 3)]])[:-1])  # truncated pixels
    with pytest.raises(ValueError):
        M.bmp_gray_grid(b"BM" + b"\x00" * 10)  # truncated header
    with pytest.raises(TypeError):
        M.bmp_gray_grid(_bmp24([[(1, 2, 3)]]), grid=0)  # config bug


def _wav8(samples, rate=8000, width=1, nch=1):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 1:
            w.writeframes(bytes(samples))
        else:
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


@SET
@given(
    st.lists(st.integers(0, 255), min_size=0, max_size=90),
    st.integers(1, 7),
    st.integers(1, 9),
)
def test_wav_frame_energies_matches_model(samples, frame_samples, max_frames):
    feats = M.wav_frame_energies(
        _wav8(samples), frame_samples, max_frames
    )
    n_out = min(len(samples) // frame_samples, max_frames)
    assert feats[0] == 8000.0 and feats[1] == float(n_out)
    exp = [
        sum(abs(s - 128) for s in
            samples[f * frame_samples : (f + 1) * frame_samples])
        for f in range(n_out)
    ]
    assert [int(x) for x in feats[2:]] == exp


def test_wav_frame_energies_16bit_and_errors():
    feats = M.wav_frame_energies(
        _wav8([-32768, 100, -100, 0], width=2), 2, 8
    )
    assert [int(x) for x in feats[2:]] == [32868, 100]
    with pytest.raises(NotImplementedError):
        M.wav_frame_energies(b"ID3\x03mp3 payload")
    with pytest.raises(ValueError):
        M.wav_frame_energies(_wav8([1, 2, 3, 4])[:30])  # truncated
    with pytest.raises(TypeError):
        M.wav_frame_energies(_wav8([1]), frame_samples=0)


# --- JVM band packers vs Python models ---------------------------------------


def _ahash_bands_model(sums, npix, threshold):
    ts, tn = sum(sums), sum(npix)
    if threshold == "mean":
        bits = [1 if s * tn > ts * n else 0 for s, n in zip(sums, npix)]
    else:
        bits = [1 if s > 32640 * n else 0 for s, n in zip(sums, npix)]
    return [
        sum(bits[b * 16 + k] << k for k in range(16)) for b in range(4)
    ]


@pytest.mark.parametrize("threshold", ["mean", "mid"])
def test_ahash_bands_matches_model(spark, threshold):
    pixels = [
        [((r * 37 + c * 11) % 256, (r * 5) % 256, (c * 3) % 256)
         for c in range(16)]
        for r in range(16)
    ]
    payload = _bmp24(pixels)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "item_id long, payload binary"
    )
    feats = M.extract_features(df, decoder=M.bmp_gray_grid)
    row = M.ahash_bands(feats, threshold=threshold).collect()[0]
    sums, npix = _grid_model(pixels, 8)
    exp = _ahash_bands_model(sums, npix, threshold)
    assert [row[f"band_{b}"] for b in range(4)] == exp


def test_ahash_bands_drops_failed_decodes(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"not a bmp"))], "item_id long, payload binary"
    )
    feats = M.extract_features(df, decoder=M.bmp_gray_grid)
    assert M.ahash_bands(feats).count() == 0


def test_sign_delta_bands_matches_model_and_drops_short(spark):
    long_clip = [(i * 29 + 3) % 256 for i in range(512)]
    short_clip = [5] * 100  # 12 frames < 64 -> dropped
    df = spark.createDataFrame(
        [(1, bytearray(_wav8(long_clip))), (2, bytearray(_wav8(short_clip)))],
        "item_id long, payload binary",
    )
    feats = M.extract_features(df, decoder=M.wav_frame_energies)
    rows = M.sign_delta_bands(feats, n_frames=64).collect()
    assert [r["item_id"] for r in rows] == [1]
    en = [
        sum(abs(s - 128) for s in long_clip[f * 8 : (f + 1) * 8])
        for f in range(64)
    ]
    bits = [1 if en[i + 1] > en[i] else 0 for i in range(63)]
    exp = [
        sum(bits[b * 16 + k] << k for k in range(16) if b * 16 + k < 63)
        for b in range(4)
    ]
    assert [rows[0][f"band_{b}"] for b in range(4)] == exp


# --- banded Hamming join: pigeonhole recall + exact verify -------------------


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(0, 65535), st.integers(0, 65535),
            st.integers(0, 65535), st.integers(0, 65535),
        ),
        min_size=2,
        max_size=8,
    )
)
@pytest.mark.slow
def test_near_dup_by_bands_matches_brute_force(spark, hashes):
    df = spark.createDataFrame(
        [(i, *h) for i, h in enumerate(hashes)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.near_dup_by_bands(df, max_hamming=3).collect()
    }
    exp = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            ham = sum(
                bin(a ^ b).count("1")
                for a, b in zip(hashes[i], hashes[j])
            )
            # the pigeonhole bound: hamming <= 3 pairs ALWAYS share a
            # band, so the banded join may not miss them
            if ham <= 3:
                exp[(i, j)] = ham
    assert got == exp


def test_near_dup_pipeline_finds_sibling_pairs(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    blobs = M.synth_bmp24(df, "doc_id")
    feats = M.extract_features(blobs, decoder=M.bmp_gray_grid)
    bands = M.ahash_bands(feats, threshold="mid")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.near_dup_by_bands(bands).collect()
    }
    assert {(2 * k, 2 * k + 1) for k in range(6)} <= pairs


def test_audio_pipeline_finds_sibling_pairs(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    blobs = M.synth_wav8(df, "doc_id")
    feats = M.extract_features(blobs, decoder=M.wav_frame_energies)
    bands = M.sign_delta_bands(feats, n_frames=64)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in M.near_dup_by_bands(bands).collect()
    }
    assert {(2 * k, 2 * k + 1) for k in range(6)} <= pairs


def test_synth_payloads_are_real_formats():
    """The synthetic fixtures must round-trip the REAL decoders (not
    just bmp_gray_grid): image_decoder and wav_decoder accept them."""
    base = 3
    chans = {
        ch: [hashlib.md5(f"{base}_{r}_{ch}".encode()).digest()
             for r in range(16)]
        for ch in ("r", "g", "b")
    }
    pix = [
        [(chans["r"][r][c], chans["g"][r][c], chans["b"][r][c])
         for c in range(16)]
        for r in range(16)
    ]
    feats = M.image_decoder(M._encode_bmp24(pix))
    assert feats[0] == 16.0 and feats[1] == 16.0
    samples = b"".join(
        hashlib.md5(f"{base}_a_{blk}".encode()).digest()
        for blk in range(32)
    )
    afeats = M.wav_decoder(_wav8(list(samples)))
    assert afeats[2] == 512.0  # n_frames


# --- distinctive terms vs a pandas model --------------------------------------


def test_distinctive_terms_matches_model(spark):
    from osmexpress_spark.operators import text

    docs = [
        (0, "g0", "alpha alpha beta common common"),
        (1, "g0", "alpha common"),
        (2, "g1", "beta beta common common common"),
        (3, "g1", "gamma common"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, grp string, text string")
    got = {
        (r["grp"], r["token"]): (r["in_count"], r["lift_ppm"], r["rnk"])
        for r in text.distinctive_terms(df, "grp", "text", top_k=3).collect()
    }
    # straight-line model
    from collections import Counter

    by_g: dict[str, Counter] = {}
    for _, g, t in docs:
        by_g.setdefault(g, Counter()).update(t.split(" "))
    k_t = Counter()
    for c in by_g.values():
        k_t.update(c)
    n_all = sum(k_t.values())
    exp = {}
    for g, c in by_g.items():
        n_g = sum(c.values())
        scored = sorted(
            (
                (-(1000000 * k * (n_all - n_g)
                   // ((k_t[tok] - k + 1) * n_g)), -k, tok)
                for tok, k in c.items()
            ),
        )[:3]
        for rnk, (neg_lift, neg_k, tok) in enumerate(scored, 1):
            exp[(g, tok)] = (-neg_k, -neg_lift, rnk)
    assert got == exp


# --- mix plan ------------------------------------------------------------------


@pytest.mark.slow
def test_mix_plan_math_and_missing_weights(spark):
    df = spark.createDataFrame(
        [(0, "a", 100), (1, "a", 100), (2, "b", 50), (3, "c", 999)],
        "doc_id long, src string, n_tok long",
    )
    weights = spark.createDataFrame(
        [("a", 1), ("b", 3)], "src string, weight long"
    )
    from osmexpress_spark.operators import sample

    rows = {
        r["src"]: r
        for r in sample.mix_plan(
            df, "src", F.col("n_tok"), weights
        ).collect()
    }
    # budget=None -> 250 total over weighted domains; tw=4
    assert set(rows) == {"a", "b"}  # c has no weight -> excluded
    a, b = rows["a"], rows["b"]
    assert (a["available_tokens"], a["target_tokens"]) == (200, 62)
    assert a["epochs_ppm"] == 62 * 1000000 // 200 and not a["oversampled"]
    assert (b["available_tokens"], b["target_tokens"]) == (50, 187)
    assert b["epochs_ppm"] == 187 * 1000000 // 50 and b["oversampled"]
    # explicit budget
    rows2 = {
        r["src"]: r
        for r in sample.mix_plan(
            df, "src", F.col("n_tok"), weights, budget=1000
        ).collect()
    }
    assert rows2["a"]["target_tokens"] == 250
    assert rows2["b"]["target_tokens"] == 750


# --- plan shapes ---------------------------------------------------------------


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_near_dup_join_is_equi_join_no_python_past_seam(spark):
    bands = spark.createDataFrame(
        [(1, 1, 2, 3, 4), (2, 1, 9, 9, 9)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    plan = _final_plan(M.near_dup_by_bands(bands))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_distinctive_and_mix_queries_stay_jvm_side(spark):
    from osmexpress_spark.registry import live

    for name in ("q_distinctive_terms", "q_mix_plan"):
        plan = _final_plan(
            live()[name](spark, "/root/testdata/sf0.001")
        )
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_image_query_python_is_only_the_arrow_seam(spark):
    from osmexpress_spark.registry import live

    plan = _final_plan(
        live()["q_image_near_dup"](
            spark, "/root/testdata/sf0.001"
        )
    )
    # the two sanctioned Arrow seams (synth + decode) are MapInPandas;
    # no row-at-a-time Python anywhere
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --- persisted band store + asymmetric ingest dedup --------------------------


def test_band_store_roundtrip_and_param_pinning(spark, tmp_path):
    bands = spark.createDataFrame(
        [(1, 10, 20, 30, 40), (2, 11, 21, 31, 41)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    path = str(tmp_path / "store")
    M.save_band_store(bands, path, fingerprint="v1")
    back = M.load_band_store(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in bands.collect()
    )
    with pytest.raises(ValueError, match="built with"):
        M.load_band_store(spark, path, n_bands=2)


def test_near_dup_against_store_matches_model(spark):
    new = spark.createDataFrame(
        [(100, 1, 2, 3, 4), (101, 9, 9, 9, 9)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    ref = spark.createDataFrame(
        # 200: equals 100 on band_0 only, hamming = popcount diffs
        [(200, 1, 2, 3, 5), (201, 7, 7, 7, 7), (100, 1, 2, 3, 4)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    got = {
        (r["new_id"], r["ref_id"]): r["hamming"]
        for r in M.near_dup_against_store(new, ref).collect()
    }
    # (100,200): xor only band_3 = 4^5 = 1 -> hamming 1
    # (100,100): re-ingested item surfaces as its own hamming-0 match
    assert got == {(100, 200): 1, (100, 100): 0}


@pytest.mark.slow
def test_ingest_dedup_never_redecodes_reference(spark, tmp_path):
    """The composition the staged query pins: reference decoded once
    into the store; scoring a second batch touches only that batch."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    ref_bands = M.ahash_bands(
        M.extract_features(
            M.synth_bmp24(docs.where(F.col("doc_id") % 3 != 0), "doc_id"),
            decoder=M.bmp_gray_grid,
        ),
        threshold="mid",
    )
    path = str(tmp_path / "imgstore")
    M.save_band_store(ref_bands, path)
    new_bands = M.ahash_bands(
        M.extract_features(
            M.synth_bmp24(docs.where(F.col("doc_id") % 3 == 0), "doc_id"),
            decoder=M.bmp_gray_grid,
        ),
        threshold="mid",
    )
    pairs = M.near_dup_against_store(
        new_bands, M.load_band_store(spark, path)
    )
    got = {(r["new_id"], r["ref_id"]) for r in pairs.collect()}
    # sibling pairs where exactly one side is 'new': (0,1), (3,2), (6,7), (9,8)...
    assert {(0, 1), (3, 2), (6, 7), (9, 8)} <= got
    # the store path is parquet: no MapInPandas on the reference side.
    # Since r11 the NEW side's two Arrow seams (synth + decode) run
    # exactly once in the operator's localCheckpoint cut, so the final
    # join plan contains NO Python stage at all — either side decoding
    # inside the join would surface as a MapInPandas here; AQE prints
    # the initial plan too, so cut it
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 0
    assert "Scan parquet" in final  # the reference side reads the store


# --- format sniffing -----------------------------------------------------------


def test_sniff_format_classifies_magic_bytes(spark):
    samples = [
        (1, b"BM" + b"\x00" * 60, "bmp"),
        (2, b"\x89PNG\r\n\x1a\n rest", "png"),
        (3, b"\xff\xd8\xff\xe0 jfif", "jpeg"),
        (4, b"GIF89a...", "gif"),
        (5, b"II*\x00...", "tiff"),
        (6, b"MM\x00*...", "tiff"),
        (7, b"P6 1 1 255\n\x00\x00\x00", "ppm"),
        (8, b"RIFF\x00\x00\x00\x00WAVEfmt ", "wav"),
        (9, b"RIFF\x00\x00\x00\x00WEBPVP8 ", "webp"),
        (10, b"OggS....", "ogg"),
        (11, b"fLaC....", "flac"),
        (12, b"ID3\x03...", "mp3"),
        (13, b"\x00\x00\x00\x18ftypisom", "mp4"),
        (14, b"\x1f\x8b\x08...", "gzip"),
        (15, b"PK\x03\x04...", "zip"),
        (16, b"%PDF-1.7", "pdf"),
        (17, b"just some text", "unknown"),
        (18, b"RIFF\x00\x00\x00\x00AVI LIST", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p, _ in samples],
        "item_id long, payload binary",
    )
    got = {
        r["item_id"]: r["fmt"]
        for r in df.select(
            "item_id", M.sniff_format(F.col("payload")).alias("fmt")
        ).collect()
    }
    assert got == {i: f for i, _, f in samples}


def test_format_census_is_jvm_side_and_counts(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"BM" + b"\x00" * 10)),
         (2, bytearray(b"BM" + b"\x00" * 20)),
         (3, bytearray(b"%PDF-1.4"))],
        "item_id long, payload binary",
    )
    rows = {r["format"]: r for r in M.format_census(df).collect()}
    assert rows["bmp"]["n_items"] == 2 and rows["bmp"]["n_bytes"] == 34
    assert rows["pdf"]["n_items"] == 1 and rows["pdf"]["n_bytes"] == 8
    plan = M.format_census(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan  # sniffing never leaves the JVM


@pytest.mark.slow
def test_format_census_stream_per_epoch(spark, tmp_path):
    """The streaming triage monitor: two epochs of blob drops arrive as
    files; each epoch's census lands under its DATA label with exact
    counts and byte totals."""
    from osmexpress_spark.streaming import watermark_ops as W

    base = str(tmp_path)
    rows = [
        (1, 1, bytearray(b"BM" + b"\x00" * 8)),
        (1, 2, bytearray(b"%PDF-1.4")),
        (2, 3, bytearray(b"RIFF\x00\x00\x00\x00WAVEfmt ")),
        (2, 4, bytearray(b"garbage")),
        (2, 5, bytearray(b"garbage2")),
    ]
    df = spark.createDataFrame(
        rows, "epoch long, item_id long, payload binary"
    )
    for e in (1, 2):
        df.where(F.col("epoch") == e).coalesce(1).write.mode(
            "append"
        ).parquet(base + "/feed")
    stream = (
        spark.readStream.schema(spark.read.parquet(base + "/feed").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/feed")
    )
    W.format_census_stream(
        stream, base + "/out", base + "/ckpt"
    ).awaitTermination()
    e1 = {
        r["format"]: (r["n_items"], r["n_bytes"])
        for r in spark.read.parquet(base + "/out/epoch=1").collect()
    }
    e2 = {
        r["format"]: (r["n_items"], r["n_bytes"])
        for r in spark.read.parquet(base + "/out/epoch=2").collect()
    }
    assert e1 == {"bmp": (1, 10), "pdf": (1, 8)}
    assert e2 == {"wav": (1, 16), "unknown": (2, 15)}


def test_quota_fill_report_math(spark):
    from osmexpress_spark.operators import sample

    df = spark.createDataFrame(
        [(i, "a") for i in range(3)] + [(10 + i, "b") for i in range(8)],
        "doc_id long, src string",
    )
    rows = {
        r["src"]: r
        for r in sample.quota_fill_report(
            df, "src", "doc_id", {"a": 5, "b": 4, "c": 2}
        ).collect()
    }
    a, b, c = rows["a"], rows["b"], rows["c"]
    # a: wants 5, only 3 exist -> underfilled, achieved 3
    assert (a["requested"], a["available"], a["achieved"]) == (5, 3, 3)
    assert a["underfilled"] and a["fill_ppm"] == 600000
    # b: wants 4 of 8 -> full
    assert (b["requested"], b["available"], b["achieved"]) == (4, 8, 4)
    assert not b["underfilled"] and b["fill_ppm"] == 1000000
    # c: requested but absent -> explicit zero row
    assert (c["requested"], c["available"], c["achieved"]) == (2, 0, 0)
    assert c["underfilled"] and c["fill_ppm"] == 0


@pytest.mark.slow
def test_near_dup_stream_vs_band_store_grows_with_admissions(spark, tmp_path):
    """Two days of image drops through a real readStream: day 1 rejects
    a store near-dup and admits a novel image; day 2 rejects a
    duplicate OF THE DAY-1 SURVIVOR — proving the store grows with
    admissions (the corpus is never re-decoded)."""
    from osmexpress_spark.streaming import watermark_ops as W

    base = str(tmp_path)

    def bands_for(ids):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return M.ahash_bands(
            M.extract_features(
                M.synth_bmp24(docs, "doc_id"), decoder=M.bmp_gray_grid
            ),
            threshold="mid",
        )

    # seed the store with image 10 (base 5)
    M.save_band_store(bands_for([10]), base + "/store")
    # day 1: image 11 (sibling of 10 -> duplicate), image 20 (novel)
    # day 2: image 21 (sibling of 20, which was ADMITTED on day 1).
    # FileStreamSource orders new files by modification time, so the
    # sequential writes below replay in day order.
    for day, ids in ((1, [11, 20]), (2, [21])):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        M.synth_bmp24(docs, "doc_id").withColumn(
            "day", F.lit(day)
        ).coalesce(1).write.mode("append").parquet(base + "/feed")
    stream = (
        spark.readStream.schema(spark.read.parquet(base + "/feed").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/feed")
    )

    def bands_fn(bdf):
        return M.ahash_bands(
            M.extract_features(
                bdf.select("item_id", "payload"),
                decoder=M.bmp_gray_grid,
            ),
            threshold="mid",
        )

    W.near_dup_stream_vs_band_store(
        stream, bands_fn, base + "/store", base + "/out", base + "/ckpt"
    ).awaitTermination()
    survivors = {
        r["item_id"]
        for r in spark.read.parquet(base + "/out").collect()
    }
    # 11 rejected (dup of stored 10); 20 admitted; 21 rejected (dup of
    # admitted 20) — works only if 20's bands reached the store
    assert survivors == {20}
    store_ids = {
        r["item_id"]
        for r in M.load_band_store(spark, base + "/store").collect()
    }
    assert store_ids == {10, 20}


@SET
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7),
                  st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=5,
    ),
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7),
                  st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=5,
    ),
)
@pytest.mark.slow
def test_near_dup_against_store_brute_force_parity(spark, new_h, ref_h):
    """Asymmetric pigeonhole property: every (new, ref) pair within
    hamming <= 3 is found (small band values force heavy collisions)."""
    new = spark.createDataFrame(
        [(100 + i, *h) for i, h in enumerate(new_h)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    ref = spark.createDataFrame(
        [(200 + i, *h) for i, h in enumerate(ref_h)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    got = {
        (r["new_id"], r["ref_id"]): r["hamming"]
        for r in M.near_dup_against_store(new, ref).collect()
    }
    exp = {}
    for i, a in enumerate(new_h):
        for j, b in enumerate(ref_h):
            ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
            if ham <= 3:
                exp[(100 + i, 200 + j)] = ham
    assert got == exp


def test_dhash_bands_matches_model_and_brightness_invariance(spark):
    pixels = [
        [((r * 37 + c * 11) % 256, (r * 5 + c) % 256, (c * 3) % 256)
         for c in range(16)]
        for r in range(16)
    ]
    # brightness-shifted twin: every channel +40 clamped — levels move,
    # most gradients don't
    shifted = [
        [tuple(min(255, v + 40) for v in px) for px in row]
        for row in pixels
    ]
    df = spark.createDataFrame(
        [(1, bytearray(_bmp24(pixels))), (2, bytearray(_bmp24(shifted)))],
        "item_id long, payload binary",
    )
    feats = M.extract_features(df, decoder=M.bmp_gray_grid)
    rows = {r["item_id"]: r for r in M.dhash_bands(feats).collect()}

    def model(pix):
        sums, npix = _grid_model(pix, 8)
        bits = []
        for i in range(64):
            j = (i // 8) * 8 + (i + 1) % 8
            bits.append(1 if sums[i] * npix[j] > sums[j] * npix[i] else 0)
        return [
            sum(bits[b * 16 + k] << k for k in range(16)) for b in range(4)
        ]

    exp1, exp2 = model(pixels), model(shifted)
    assert [rows[1][f"band_{b}"] for b in range(4)] == exp1
    assert [rows[2][f"band_{b}"] for b in range(4)] == exp2
    # the twins stay within the banded-join radius under dHash (clamping
    # flips only a few gradients), while their aHash distance is large
    dh = sum(bin(a ^ b).count("1") for a, b in zip(exp1, exp2))
    a1 = {r["item_id"]: r for r in M.ahash_bands(feats, threshold="mid").collect()}
    ah = sum(
        bin(a1[1][f"band_{b}"] ^ a1[2][f"band_{b}"]).count("1")
        for b in range(4)
    )
    assert dh < ah  # gradients beat levels under brightness shift


# --- per-group KMV (round-7 fourth session) ----------------------------------
@pytest.mark.slow
def test_kmv_by_group_matches_exact_small_and_estimates_large(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rows = [("a", f"x{i % 7}") for i in range(100)] + [
        ("b", f"y{i}") for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "grp string, item string")
    got = {
        r.grp: r
        for r in sketch.kmv_distinct_estimate_by(
            df, "grp", F.col("item"), k=64
        ).collect()
    }
    # group a: 7 distinct < k -> exact branch
    assert got["a"].k_used == 7 and got["a"].est_distinct == 7.0
    # group b: 2000 distinct > k -> estimate branch, within KMV error
    assert got["b"].k_used == 64
    assert abs(got["b"].est_distinct - 2000) / 2000 < 0.35
    # merging the per-group minima reproduces the global sketch
    minima = sketch.kmv_minima_by(df, "grp", F.col("item"), k=64)
    merged = sketch.kmv_merge(
        [minima.where(F.col("grp") == g).select("h") for g in ("a", "b")],
        k=64,
    ).collect()
    glob = sketch.kmv_minima(df, F.col("item"), k=64).collect()
    assert sorted(r.h for r in merged) == sorted(r.h for r in glob)


def test_dedup_span_masks_merge_semantics(spark):
    """Hand-pinned interval merge: overlapping and touching windows
    coalesce, gapped windows stay separate, dup-free docs emit
    nothing."""
    from osmexpress_spark.operators import dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e X Y Z W Q R S"),
        (3, "unique text only here nothing shared at all ok"),
        (4, "p q r a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in dedup.dedup_span_masks(df, "doc_id", "text", k=5).collect()
    )
    # doc1: dup windows at pos 0 (with 2 and 4), 1, 2 (with 4) -> [0,7)
    # doc2: pos 0 -> [0,5); doc4: pos 3,4,5 -> [3,10); doc3: none
    assert got == [(1, 0, 7), (2, 0, 5), (4, 3, 10)]
    # masks never exceed doc length and start >= 0
    for _, s, e in got:
        assert 0 <= s < e


@pytest.mark.slow
def test_bitext_mine_planted_pairs_and_mutuality(spark):
    """Planted translations: each src's near-identical tgt twin must
    mine as a mutual pair with margin > 1 — src 2 has TWO twins (12 at
    +0.01 rad and the exact copy 99), and mutuality must keep exactly
    one of them (the exact copy, which wins both windows); every src
    pairs exactly once."""
    import math

    from osmexpress_spark.operators import similarity

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    src = spark.createDataFrame(
        [(1, unit(0.0)), (2, unit(1.2)), (3, unit(2.4))],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(11, unit(0.01)), (12, unit(1.21)), (13, unit(2.41)),
         (99, unit(1.2))],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.src_id, r.tgt_id): r.margin
        for r in similarity.bitext_mine(
            src, tgt, nn_k=2, margin_threshold=1.0, mutual=True
        ).collect()
    }
    assert set(got) == {(1, 11), (2, 99), (3, 13)}
    for m in got.values():
        assert m > 1.0
    # without mutuality src 2 still pairs only with its best-margin
    # twin; 12 never appears because 99 dominates both rankings
    loose = similarity.bitext_mine(
        src, tgt, nn_k=2, margin_threshold=1.0, mutual=False
    ).collect()
    assert {(r.src_id, r.tgt_id) for r in loose} == set(got)
