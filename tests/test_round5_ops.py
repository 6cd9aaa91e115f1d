"""Round-5 operator tests.

Covers the heap-based Visvalingam rewrite (VERDICT r04 next-round #4):
identical output to the former O(n^2) linear-scan implementation
(re-stated here as the model), and an O(n log n) wall-clock sanity on
a pathological 50k-vertex way that the scan could not finish.
"""

from __future__ import annotations

import random
import time

import pytest

from osmexpress_spark.operators.geometry import visvalingam


def _visvalingam_scan_model(points, min_area2):
    """The pre-round-5 linear-scan implementation, verbatim semantics:
    repeatedly remove the smallest-effective-area interior vertex
    (first-index tie-break) while its doubled area < min_area2."""
    n = len(points)
    if n <= 2:
        return list(range(n))
    alive = list(range(n))

    def area2(i_prev, i, i_next):
        (x0, y0), (x1, y1), (x2, y2) = (
            points[i_prev], points[i], points[i_next]
        )
        return abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))

    while len(alive) > 2:
        best_pos, best_area = None, None
        for pos in range(1, len(alive) - 1):
            a = area2(alive[pos - 1], alive[pos], alive[pos + 1])
            if best_area is None or a < best_area:
                best_pos, best_area = pos, a
        if best_area is None or best_area >= min_area2:
            break
        alive.pop(best_pos)
    return alive


@pytest.mark.parametrize("seed", range(8))
def test_visvalingam_heap_matches_scan_model_random(seed):
    rng = random.Random(seed)
    n = rng.randint(2, 120)
    # small coordinate range on purpose: many exact area ties, so the
    # smallest-index tie-break is genuinely exercised
    pts = [(rng.randint(0, 12), rng.randint(0, 12)) for _ in range(n)]
    for min_area2 in (0, 1, 2, 5, 30, 10**6):
        assert visvalingam(pts, min_area2) == _visvalingam_scan_model(
            pts, min_area2
        ), f"seed={seed} min_area2={min_area2}"


def test_visvalingam_heap_matches_scan_model_collinear_runs():
    # long collinear runs: every interior vertex has area 0 and the
    # removal ORDER (all ties) determines neighbor areas downstream
    pts = [(i, 0) for i in range(50)] + [(49, i) for i in range(1, 40)]
    for min_area2 in (1, 7, 10**9):
        assert visvalingam(pts, min_area2) == _visvalingam_scan_model(
            pts, min_area2
        )


def test_visvalingam_50k_vertices_is_nlogn_fast():
    """A 50k-vertex jittered way. The former scan was O(n^2) —
    ~1.2e9 area evaluations (minutes in CPython); the heap form must
    finish in seconds."""
    rng = random.Random(42)
    x = y = 0
    pts = []
    for _ in range(50_000):
        x += rng.randint(1, 3)
        y += rng.randint(-2, 2)
        pts.append((x, y))
    t0 = time.monotonic()
    keep = visvalingam(pts, 9)
    elapsed = time.monotonic() - t0
    assert elapsed < 20.0, f"50k-vertex simplify took {elapsed:.1f}s"
    assert keep[0] == 0 and keep[-1] == len(pts) - 1
    assert 2 <= len(keep) < len(pts)
    # spot-check against the model on a slice small enough for O(n^2)
    sl = pts[:400]
    assert visvalingam(sl, 9) == _visvalingam_scan_model(sl, 9)


# --- ADVICE r04 regression fixes -------------------------------------------
def test_bmp_coreheader_rejected_not_misread():
    """A BITMAPCOREHEADER (12-byte info header) packs int16 dims at
    offset 18; reading it with BITMAPINFOHEADER offsets yields garbage.
    The decoder must reject on the header-size field, not decode."""
    import struct

    from osmexpress_spark.operators import multimodal

    width, height = 3, 2
    stride = ((width * 3 + 3) // 4) * 4
    body = bytes(stride * height)
    core = struct.pack("<IHHHH", 12, width, height, 1, 24)
    payload = (
        struct.pack("<2sIHHI", b"BM", 14 + 12 + len(body), 0, 0, 14 + 12)
        + core
        + body
    )
    with pytest.raises(NotImplementedError, match="header size"):
        multimodal.image_decoder(payload)


def test_band_join_rejects_prefix_collision(spark):
    from osmexpress_spark.operators.asof import band_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "boom")], "user int, ts string, r_ts string"
    ).selectExpr("user", "cast(ts as timestamp) ts", "r_ts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00")], "user int, ts string"
    ).selectExpr("user", "cast(ts as timestamp) ts")
    with pytest.raises(ValueError, match="collide"):
        band_join(left, right, "user", "ts", "ts", 3600)
    # a non-colliding prefix proceeds
    out = band_join(left, right, "user", "ts", "ts", 3600, prefix="rr_")
    assert out.count() == 1 and "rr_ts" in out.columns


@pytest.mark.slow
def test_incremental_dedup_caps_batch_side_hot_buckets(spark):
    """A mass-duplicate ingest (many identical new docs) drives a hot
    band bucket from the BATCH side; max_bucket_size must cap it just
    like corpus-side hot buckets."""
    from osmexpress_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog")
         for i in range(3)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog")
         for i in range(40)],
        "doc_id long, text string",
    )
    uncapped = dedup.incremental_dedup_pairs(
        corpus, new, "doc_id", "text", n_hashes=8, k=2, bands=4
    )
    assert uncapped.count() == 40 * 3
    capped = dedup.incremental_dedup_pairs(
        corpus, new, "doc_id", "text", n_hashes=8, k=2, bands=4,
        max_bucket_size=10,
    )
    # every band bucket on the batch side holds all 40 identical docs
    # (> 10), so the capped join produces nothing
    assert capped.count() == 0


# --- persisted corpus signatures (VERDICT r04 next-round #7) ---------------
@pytest.mark.slow
def test_incremental_dedup_two_batch_e2e_never_rescans_corpus(
    spark, tmp_path
):
    """Two-day ingest: day 1 builds the signature store; day 2 runs
    against the PERSISTED signatures with the corpus text parquet
    DELETED from disk — the run still succeeding is the proof that the
    daily path never re-shingles (or even opens) corpus text."""
    import shutil

    from pyspark.sql import functions as F

    from osmexpress_spark.operators import dedup

    corpus_path = str(tmp_path / "corpus")
    store = str(tmp_path / "sigstore")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    docs.where(F.col("doc_id") % 5 != 0).write.parquet(corpus_path)

    corpus = spark.read.parquet(corpus_path)
    batch1 = docs.where(F.col("doc_id") % 5 == 0)
    sigs = dedup.ensure_signature_store(
        corpus, store, "doc_id", "text", n_hashes=8, k=2, fingerprint="day1"
    )
    expected = sorted(
        map(tuple, dedup.incremental_dedup_pairs(
            corpus, batch1, "doc_id", "text", 8, 2, 4).collect())
    )
    got1 = sorted(
        map(tuple, dedup.incremental_dedup_pairs(
            None, batch1, "doc_id", "text", 8, 2, 4,
            corpus_signatures=sigs).collect())
    )
    assert got1 == expected and expected  # same pairs, text not needed

    # day 2: corpus text is GONE; only the signature store remains
    shutil.rmtree(corpus_path)
    sigs2 = dedup.load_signature_store(spark, store, "doc_id", 8, 2)
    batch2 = docs.where(F.col("doc_id") % 7 == 0)
    got2 = dedup.incremental_dedup_pairs(
        None, batch2, "doc_id", "text", 8, 2, 4, corpus_signatures=sigs2
    )
    assert got2.count() > 0  # executes with corpus text deleted
    # plan hygiene: the only file inputs are the signature store and
    # the batch's source table — never the (deleted) corpus directory
    inputs = got2.inputFiles()
    assert any("sigstore" in f for f in inputs), inputs
    assert not any(corpus_path in f for f in inputs), inputs

    # parameter-mismatch loads fail loudly instead of mis-banding
    with pytest.raises(ValueError, match="built with"):
        dedup.load_signature_store(spark, store, "doc_id", n_hashes=16, k=2)

    # fingerprint change rebuilds (needs corpus text again)
    corpus2 = batch2.limit(50)
    rebuilt = dedup.ensure_signature_store(
        corpus2, store, "doc_id", "text", n_hashes=8, k=2,
        fingerprint="day3",
    )
    assert rebuilt.count() == 50


# --- integer-log quantile sketch (operators/sketch.py) ---------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _bucket_model(v: int, sub_bits: int = 4) -> int:
    """Python model of sketch.quantile_bucket (bin-length floor-log2 +
    shift): the distributed column expression must match this exactly."""
    if v <= 0:
        return 0
    octv = v.bit_length() - 1
    sh = max(octv - sub_bits, 0)
    return 1 + octv * (1 << sub_bits) + ((v - (1 << octv)) >> sh)


def _bounds_model(bucket: int, sub_bits: int = 4) -> tuple[int, int]:
    if bucket <= 0:
        return (0, 0)
    m = 1 << sub_bits
    octv, sub = (bucket - 1) // m, (bucket - 1) % m
    sh = max(octv - sub_bits, 0)
    lo = (1 << octv) + (sub << sh)
    return (lo, lo + (1 << sh) - 1)


# boundary-heavy values: around every power of two and bucket edge
_TRICKY = sorted(
    {0, 1, 2, 3, 15, 16, 17}
    | {(1 << o) + d for o in range(1, 62) for d in (-1, 0, 1)}
    | {(1 << o) + (s << max(o - 4, 0)) - 1 for o in range(4, 62) for s in (1, 8, 16)}
)


def test_quantile_bucket_matches_model_on_boundaries(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame([(v,) for v in _TRICKY], "v long")
    got = {
        r["v"]: (r["bucket"], r["lo"], r["hi"])
        for r in df.select(
            "v",
            sketch.quantile_bucket(F.col("v")).alias("bucket"),
            *sketch.quantile_bucket_bounds(
                sketch.quantile_bucket(F.col("v"))
            ),
        ).collect()
    }
    for v in _TRICKY:
        b = _bucket_model(v)
        assert got[v] == (b, *_bounds_model(b)), v


@given(st.integers(min_value=0, max_value=(1 << 62) - 1))
@settings(max_examples=500, deadline=None)
def test_quantile_bucket_model_contains_value(v):
    """Every value lands in its bucket's [lo, hi], buckets are
    monotone in v, and the bucket width gives <= 1/16 relative error."""
    b = _bucket_model(v)
    lo, hi = _bounds_model(b)
    assert lo <= v <= hi
    if v >= 1:
        assert _bucket_model(v - 1) <= b
        # width/lo <= 1/16 for octaves past the exact region
        assert (hi - lo) * 16 <= lo or hi == lo


@pytest.mark.slow
def test_quantile_sketch_merge_equals_union(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    vals = [int(x) for x in range(0, 3000, 7)] + [2**40 + 3, 2**40 + 4] * 5
    parts = [vals[0::3], vals[1::3], vals[2::3]]
    frames = [
        spark.createDataFrame([(v,) for v in p], "v long") for p in parts
    ]
    merged = sketch.quantile_sketch_merge(
        [sketch.quantile_sketch_build(f, F.col("v")) for f in frames]
    )
    whole = sketch.quantile_sketch_build(
        spark.createDataFrame([(v,) for v in vals], "v long"), F.col("v")
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_quantile_query_brackets_true_quantile(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rng = random.Random(7)
    vals = sorted(rng.randrange(0, 10**9) for _ in range(5000))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = sketch.quantile_sketch_build(df, F.col("v"))
    qs = [(1, 2), (9, 10), (99, 100)]
    out = {
        (r["q_num"], r["q_den"]): r
        for r in sketch.quantile_sketch_query(sk, qs).collect()
    }
    for num, den in qs:
        rank = (num * len(vals) + den - 1) // den
        true = vals[rank - 1]
        r = out[(num, den)]
        assert r["lo"] <= true <= r["hi"], (num, den, true, r)
        assert r["rank"] == rank


def test_quantile_query_rejects_bad_quantile(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame([(1,)], "v long")
    sk = sketch.quantile_sketch_build(df, F.col("v"))
    with pytest.raises(ValueError):
        sketch.quantile_sketch_query(sk, [])
    with pytest.raises(ValueError):
        sketch.quantile_sketch_query(sk, [(0, 100)])
    with pytest.raises(ValueError):
        sketch.quantile_sketch_query(sk, [(101, 100)])


# --- distributed BPE trainer (operators/bpe.py) ----------------------------

def _bpe_train_model(word_cnts, n_merges, min_count=1, eow="▁"):
    """Pure-Python reference BPE trainer (Sennrich et al. 2016) with
    the module's documented tie-break: max count, then lexicographically
    smallest (a, b). The distributed trainer must learn the identical
    merge table."""
    vocab = {
        tuple(list(w) + ([eow] if eow is not None else [])): c
        for w, c in word_cnts.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        eligible = {p: c for p, c in pairs.items() if c >= min_count}
        if not eligible:
            break
        best = min(eligible, key=lambda p: (-eligible[p], p[0], p[1]))
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


_BPE_CORPUS = [
    "low low low low low",
    "lower lower newest newest newest newest newest newest",
    "widest widest widest wider new newer",
    "lowest newest widest low low",
]


@pytest.mark.slow
def test_bpe_train_matches_reference_model(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame([(t,) for t in _BPE_CORPUS], "text string")
    words = bpe.word_counts(df, F.col("text"))
    got = bpe.bpe_train(words, n_merges=12)
    wc = {}
    for t in _BPE_CORPUS:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _bpe_train_model(wc, 12)
    assert got == want
    assert len(got) == 12
    # the classic Sennrich corpus learns word-final units (merges
    # touching the end-of-word marker)
    assert any(bpe.EOW in a or bpe.EOW in b for a, b in got)


@pytest.mark.slow
def test_bpe_train_random_corpora_match_model(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    rng = random.Random(11)
    for trial in range(3):
        words = [
            "".join(rng.choice("abcde") for _ in range(rng.randrange(1, 7)))
            for _ in range(40)
        ]
        wc = {}
        for w in words:
            wc[w] = wc.get(w, 0) + rng.randrange(1, 9)
        df = spark.createDataFrame(list(wc.items()), "word string, cnt long")
        got = bpe.bpe_train(df, n_merges=10, min_count=2)
        want = _bpe_train_model(wc, 10, min_count=2)
        assert got == want, (trial, got, want)


def test_bpe_min_count_stops_early(spark):
    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame([("ab", 1), ("cd", 1)], "word string, cnt long")
    assert bpe.bpe_train(df, n_merges=5, min_count=2) == []
    with pytest.raises(ValueError):
        bpe.bpe_train(df, n_merges=-1)
    with pytest.raises(ValueError):
        bpe.bpe_train(df, n_merges=1, min_count=0)


@pytest.mark.slow
def test_bpe_encode_agrees_with_segment_replay(spark):
    """The rank-greedy Arrow encoder and the JVM fold replay are the
    same function on every vocabulary word (they are two evaluation
    orders of the same merge table)."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame([(t,) for t in _BPE_CORPUS], "text string")
    words = bpe.word_counts(df, F.col("text"))
    merges = bpe.bpe_train(words, n_merges=8)
    replay = {
        r["word"]: list(r["syms"])
        for r in bpe.bpe_segment_words(words, merges).collect()
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_CORPUS)], "doc_id long, text string"
    )
    enc = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe.bpe_encode(docs, "doc_id", F.col("text"), merges).collect()
    }
    for i, t in enumerate(_BPE_CORPUS):
        want = [s for w in t.split() for s in replay[w]]
        assert enc[i] == want, (i, enc[i], want)


def test_bpe_training_loop_is_jvm_side(spark):
    """No Python evaluation anywhere in the per-merge jobs: the pair
    count over folded symbol arrays must plan as pure JVM operators
    (the fold is F.aggregate, the count is a map-side HashAggregate)."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame([("aab", 3), ("ab", 2)], "word string, cnt long")
    syms = df.select(
        bpe._apply_merge(
            bpe._initial_symbols_col(F.col("word"), bpe.EOW), "a", "b"
        ).alias("syms"),
        "cnt",
    )
    plan = bpe._pair_counts(syms)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


# --- distributed Lloyd k-means training (similarity.py) --------------------

@pytest.mark.slow
def test_kmeans_train_distributed_matches_integer_model(spark):
    """kmeans_train_distributed == a numpy model with the identical
    integer semantics (floor-micro quantization, lowest-cid tie-break,
    floor-divided means, empty clusters keep their centroid)."""
    import numpy as np

    from osmexpress_spark.operators import similarity as S

    rng = random.Random(5)
    n, dim, k, iters = 120, 6, 4, 3
    data = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["cluster"]
        for r in S.kmeans_train_distributed(
            df, dim=dim, k=k, iters=iters
        ).collect()
    }

    M = np.stack(
        [np.asarray(v, dtype=np.float32).astype(np.float64) for _, v in data]
    )
    V = np.floor(M * np.float64(1e6)).astype(np.int64) + 2_000_000
    ids = np.array([i for i, _ in data])
    cents = [(int(ids[i]), V[i].copy()) for i in range(k)]

    def assign(cents):
        D = np.stack(
            [((V - c[None, :]) ** 2).sum(axis=1) for _, c in cents], axis=1
        )
        order = np.array([cid for cid, _ in cents])
        return np.array(
            [order[np.lexsort((order, D[i]))[0]] for i in range(len(V))]
        )

    for _ in range(iters):
        a = assign(cents)
        cents = [
            (cid, V[a == cid].sum(axis=0) // (a == cid).sum())
            if (a == cid).any()
            else (cid, old)
            for cid, old in cents
        ]
    a = assign(cents)
    assert got == {int(i): int(c) for i, c in zip(ids, a)}


def test_kmeans_train_distributed_validation(spark):
    from osmexpress_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        S.kmeans_train_distributed(df, dim=2, k=0)
    with pytest.raises(ValueError):
        S.kmeans_train_distributed(df, dim=2, k=5)
    # iters=0 degenerates to seed assignment and still returns every row
    out = S.kmeans_train_distributed(df, dim=2, k=2, iters=0)
    assert sorted(map(tuple, out.collect())) == [(0, 0), (1, 1)]


def test_kmeans_train_assignment_plan_has_no_join(spark):
    """The assignment pass must be scan-side codegen: centroid
    literals mean NO join/exchange before the update aggregation."""
    from osmexpress_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = S.kmeans_train_distributed(df, dim=2, k=2, iters=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "Python" not in plan


def test_quantile_sketch_by_group_brackets_true_quantiles(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rng = random.Random(3)
    data = [
        (k, rng.randrange(0, 10**6 if k == "a" else 10**3))
        for k in ("a", "b", "c")
        for _ in range(800)
    ]
    df = spark.createDataFrame(data, "k string, v long")
    sk = sketch.quantile_sketch_build_by(df, F.col("k"), F.col("v"))
    out = {
        (r["key"], r["q_num"], r["q_den"]): r
        for r in sketch.quantile_sketch_query_by(
            sk, [(1, 2), (99, 100)]
        ).collect()
    }
    by_key = {}
    for k, v in data:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        vals.sort()
        for num, den in [(1, 2), (99, 100)]:
            rank = (num * len(vals) + den - 1) // den
            true = vals[rank - 1]
            r = out[(k, num, den)]
            assert r["lo"] <= true <= r["hi"], (k, num, den, true, r)
    with pytest.raises(ValueError):
        sketch.quantile_sketch_query_by(sk, [])


@pytest.mark.slow
def test_exact_quantiles_match_sorted_model(spark):
    """exact_quantiles == the rank-th smallest element, on a domain
    wide enough (> 2^53) to force multiple histogram-refinement rounds
    and to break any float-division shortcut."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rng = random.Random(13)
    vals = (
        [rng.randrange(0, 100) for _ in range(400)]
        + [rng.randrange(0, 2**60) for _ in range(400)]
        + [0, 0, 2**60 + 12345]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    qs = [(1, 1000), (1, 2), (9, 10), (999, 1000), (1, 1)]
    out = {
        (r["q_num"], r["q_den"]): (r["rank"], r["value"])
        for r in sketch.exact_quantiles(df, F.col("v"), qs).collect()
    }
    svals = sorted(vals)
    for num, den in qs:
        rank = (num * len(vals) + den - 1) // den
        assert out[(num, den)] == (rank, svals[rank - 1]), (num, den)


def test_exact_quantiles_validation(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError):
        sketch.exact_quantiles(df, F.col("v"), [])
    with pytest.raises(ValueError):
        sketch.exact_quantiles(df, F.col("v"), [(3, 2)])
    empty = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError):
        sketch.exact_quantiles(empty, F.col("v"), [(1, 2)])


@pytest.mark.slow
def test_quantile_sketch_drops_null_measures(spark):
    """Nulls must be dropped at build time: a null bucket row sorts
    first in the cumsum window and would silently shift every rank."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame(
        [(1,), (None,), (100,), (None,), (10000,)], "v long"
    )
    sk = sketch.quantile_sketch_build(df, F.col("v"))
    assert sk.agg(F.sum("cnt")).collect()[0][0] == 3
    assert all(r["bucket"] is not None for r in sk.collect())
    r = sketch.quantile_sketch_query(sk, [(1, 1)]).collect()[0]
    assert r["rank"] == 3 and r["lo"] <= 10000 <= r["hi"]
    out = sketch.exact_quantiles(df, F.col("v"), [(1, 1)]).collect()[0]
    assert (out["rank"], out["value"]) == (3, 10000)
    by = sketch.quantile_sketch_build_by(
        df.withColumn("k", F.lit("g")), F.col("k"), F.col("v")
    )
    assert by.agg(F.sum("cnt")).collect()[0][0] == 3


def test_quantile_sketch_rejects_negative_measures(spark):
    """Negatives must raise, not fold into bucket 0 with fabricated
    [0, 0] bounds (code-review finding: confidently wrong numbers)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame([(5,), (-1,)], "v long")
    with pytest.raises((Py4JJavaError, PySparkException)):
        sketch.quantile_sketch_build(df, F.col("v")).collect()
    with pytest.raises((Py4JJavaError, PySparkException)):
        sketch.exact_quantiles(df, F.col("v"), [(1, 2)])
    ok = spark.createDataFrame([(5,), (0,)], "v long")
    assert sketch.quantile_sketch_build(ok, F.col("v")).count() == 2


def test_bpe_encode_preserves_id_type(spark):
    """The encoder output id column keeps the INPUT type (review
    finding: a hardcoded long schema broke string ids)."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame(
        [("doc-a", "low low"), ("doc-b", "lower")], "name string, text string"
    )
    merges = [("l", "o"), ("lo", "w")]
    out = bpe.bpe_encode(df, "name", F.col("text"), merges)
    assert dict(out.dtypes)["name"] == "string"
    got = {r["name"]: list(r["tokens"]) for r in out.collect()}
    assert got["doc-a"] == ["low", "▁", "low", "▁"]
    assert got["doc-b"] == ["low", "e", "r", "▁"]


@pytest.mark.slow
def test_kmeans_train_returns_centroids_and_combines_map_side(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    out, cents = S.kmeans_train_distributed(
        df, dim=2, k=3, iters=2, return_centroids=True
    )
    assert len(cents) == 3 and all(len(cv) == 2 for _, cv in cents)
    # centroids are genuinely the trained ones: re-assigning with them
    # reproduces the returned assignment (closed-loop consistency)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    import numpy as np

    M = np.stack(
        [
            np.asarray(v, dtype=np.float32).astype(np.float64)
            for _, v in sorted(
                ((r["vec_id"], r["embedding"]) for r in df.collect())
            )
        ]
    )
    V = np.floor(M * 1e6).astype(np.int64) + 2_000_000
    D = np.stack(
        [((V - np.array(cv)[None, :]) ** 2).sum(axis=1) for _, cv in cents],
        axis=1,
    )
    order = np.array([cid for cid, _ in cents])
    for i in range(len(V)):
        want = order[np.lexsort((order, D[i]))[0]]
        assert got[i] == want, i
    # the per-iteration update aggregation must partial-aggregate
    # (map-side combine) before its exchange
    q = df.select(
        "vec_id", F.col("embedding").alias("qv"), F.lit(0).alias("cluster")
    )
    plan = (
        q.select("cluster", F.posexplode("qv").alias("j", "v"))
        .groupBy("cluster", "j")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


@pytest.mark.slow
def test_bpe_train_empty_and_single_char_vocab(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import bpe

    empty = spark.createDataFrame([], "word string, cnt long")
    assert bpe.bpe_train(empty, n_merges=3) == []
    # single-char words still pair with the EOW marker
    single = spark.createDataFrame([("a", 5)], "word string, cnt long")
    assert bpe.bpe_train(single, n_merges=2) == [("a", bpe.EOW)]
    # without a marker there is nothing to merge
    assert bpe.bpe_train(single, n_merges=2, eow=None) == []
    # empty corpus -> empty vocabulary
    docs = spark.createDataFrame([("",)], "text string")
    assert bpe.word_counts(docs, F.col("text")).count() == 0


@pytest.mark.slow
def test_exact_quantiles_by_group_matches_sorted_model(spark):
    """Joint per-group selection == the per-group rank-th smallest,
    on groups with wildly different scales (one > 2^53 to force the
    multi-round joint refinement)."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rng = random.Random(23)
    data = (
        [("small", rng.randrange(0, 50)) for _ in range(500)]
        + [("mid", rng.randrange(0, 10**6)) for _ in range(700)]
        + [("huge", rng.randrange(0, 2**60)) for _ in range(600)]
    )
    df = spark.createDataFrame(data, "k string, v long")
    qs = [(1, 2), (99, 100)]
    out = {
        (r["key"], r["q_num"], r["q_den"]): (r["rank"], r["value"])
        for r in sketch.exact_quantiles_by(
            df, F.col("k"), F.col("v"), qs
        ).collect()
    }
    by_key = {}
    for k, v in data:
        by_key.setdefault(k, []).append(v)
    assert len(out) == len(by_key) * len(qs)
    for k, vals in by_key.items():
        vals.sort()
        for num, den in qs:
            rank = (num * len(vals) + den - 1) // den
            assert out[(k, num, den)] == (rank, vals[rank - 1]), (k, num, den)


def test_exact_quantiles_by_group_validation(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError):
        sketch.exact_quantiles_by(df, F.col("k"), F.col("v"), [])
    with pytest.raises(ValueError):
        sketch.exact_quantiles_by(df, F.col("k"), F.col("v"), [(0, 1)])


@pytest.mark.slow
def test_exact_frequent_items_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(300)]
    # Zipf-ish: low ids much more frequent
    items = [vocab[min(int(rng.expovariate(0.03)), 299)] for _ in range(8000)]
    df = spark.createDataFrame([(x,) for x in items], "tok string")
    got = sorted(
        map(
            tuple,
            sketch.exact_frequent_items(df, F.col("tok"), min_count=60).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.groupBy(F.col("tok").alias("item"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= 60)
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    with pytest.raises(ValueError):
        sketch.exact_frequent_items(df, F.col("tok"), min_count=0)


@pytest.mark.slow
def test_exact_frequent_items_prunes_before_the_shuffle(spark):
    """The CMS filter must sit scan-side (before the exact count's
    Exchange) — that IS the operator's 100 TB value."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame(
        [("a",)] * 50 + [(f"rare{i}",) for i in range(200)], "tok string"
    )
    out = sketch.exact_frequent_items(df, F.col("tok"), min_count=40)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pre_exchange = plan.split("Exchange")[-1]  # bottom-most section
    assert "Filter" in pre_exchange, plan
    assert sorted(map(tuple, out.collect())) == [("a", 50)]


@pytest.mark.slow
def test_exact_quantiles_by_drops_null_keys_and_caps_groups(spark):
    """Null keys drop cleanly (review finding: the broadcast bracket
    join can never match null — previously a silent vanish or a
    misleading error on wide brackets), and the group cap fires BEFORE
    the sketch collect."""
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), (None, 2**40), (None, 7)],
        "k string, v long",
    )
    out = sketch.exact_quantiles_by(df, F.col("k"), F.col("v"), [(1, 2)])
    assert [(r["key"], r["value"]) for r in out.collect()] == [("a", 10)]

    import osmexpress_spark.operators.sketch as sk_mod

    many = spark.createDataFrame(
        [(str(i), i) for i in range(50)], "k string, v long"
    )
    old = sk_mod._XQ_MAX_GROUPS
    sk_mod._XQ_MAX_GROUPS = 10
    try:
        with pytest.raises(ValueError, match="exceeds the 10"):
            sketch.exact_quantiles_by(many, F.col("k"), F.col("v"), [(1, 2)])
    finally:
        sk_mod._XQ_MAX_GROUPS = old


@pytest.mark.slow
def test_exact_frequent_items_drops_null_items(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame(
        [("a",)] * 5 + [(None,)] * 3, "tok string"
    )
    got = sketch.exact_frequent_items(df, F.col("tok"), min_count=4)
    assert sorted(map(tuple, got.collect())) == [("a", 5)]


def test_pending_promotion_mechanics():
    """A staged query is promoted by dropping pending=True, so it must
    already be gated (has an oracle), must sort to the head of the
    evidence-age window on promotion (no green evidence yet) and must
    not shadow a live query."""
    import __spark_entry__ as e
    from osmexpress_spark.registry import live, pending

    staged = pending()
    assert staged
    assert not [n for n, q in staged.items() if q.oracle is None]
    promoted = {**live(), **staged}
    assert len(promoted) == len(live()) + len(staged)
    assert not set(staged) & set(e._latest_green_round())


@pytest.mark.slow
def test_exact_quantiles_degenerate_distributions(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    # constant column: every quantile IS the constant
    const = spark.createDataFrame([(7,)] * 100, "v long")
    out = {
        (r["q_num"], r["q_den"]): r["value"]
        for r in sketch.exact_quantiles(
            const, F.col("v"), [(1, 100), (1, 2), (1, 1)]
        ).collect()
    }
    assert set(out.values()) == {7}
    # all zeros
    zeros = spark.createDataFrame([(0,)] * 10, "v long")
    assert (
        sketch.exact_quantiles(zeros, F.col("v"), [(1, 2)]).collect()[0]["value"]
        == 0
    )
    # single row
    one = spark.createDataFrame([(2**55,)], "v long")
    assert (
        sketch.exact_quantiles(one, F.col("v"), [(1, 1)]).collect()[0]["value"]
        == 2**55
    )


@pytest.mark.slow
def test_exact_quantiles_by_degenerate_groups(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import sketch

    df = spark.createDataFrame(
        [("c", 9)] * 50 + [("z", 0)] * 5 + [("one", 2**50)],
        "k string, v long",
    )
    out = {
        (r["key"], r["q_num"], r["q_den"]): (r["rank"], r["value"])
        for r in sketch.exact_quantiles_by(
            df, F.col("k"), F.col("v"), [(1, 2), (1, 1)]
        ).collect()
    }
    assert out[("c", 1, 2)] == (25, 9) and out[("c", 1, 1)] == (50, 9)
    assert out[("z", 1, 2)] == (3, 0)
    assert out[("one", 1, 1)] == (1, 2**50)
