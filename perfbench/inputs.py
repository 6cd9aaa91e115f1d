"""Seeded inputs of the benchmark workloads.

Everything here is pure Python and depends only on the seed: the same
seed gives byte-identical inputs and another seed gives other inputs
(`test_inputs.py`). The program under test receives only these
generated rows, regions and id sequences.

Sizes are fixed by the run budget (see README.md): every run starts a
JVM, builds its inputs and measures a few Spark jobs, so the snapshot is
5k nodes, not the 200k of a production probe. At this size every Spark
operation is job- and driver-bound, which is the regime the probe found
at 50k and 200k nodes as well.
"""

from __future__ import annotations

import hashlib
import itertools
import random

from osmexpress_spark import testing

OSM_NODES = 5_000
CHANGE_BATCHES = 12
CHANGE_PER_BATCH = 40
CORPUS_DOCS = 600
NEAR_DUP_SHARE = 0.2
ZIPF_S = 1.1

# (name, half-width in degrees); None is the world class. An extract-mix
# iteration runs one region of each class.
SIZE_CLASSES = (("city", 0.03), ("metro", 0.3), ("country", 6.0), ("world", None))
# the generator's hotspots, minus the one on the antimeridian
CENTERS = testing.HOTSPOTS[:3]

# A node lookup joins two tables and costs about twice a way lookup; a
# fixed per-iteration mix keeps the median on node lookups in every run.
LOOKUP_TYPES = ("node", "way", "node") * 2
OSMX_GETS_PER_ITER = 400
OSMX_BBOXES_PER_ITER = 2
OSMX_GET_KINDS = ("location", "node", "way", "relation", "node_ways")

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window big join table row index page "
    "tree node way relation map tag cell region store layer merge commit "
    "diff read write file block cache plan stage task shuffle broadcast "
    "driver worker python arrow parquet lmdb"
).split()
_LANGS = ("en", "de", "fr", "zh")
_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def _rng(kind: str, seed: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and
    # independent of PYTHONHASHSEED
    return random.Random(f"perfbench-{kind}-{seed}")


def osm_rows(seed: int) -> dict[str, list]:
    return testing.generate(n_nodes=OSM_NODES, seed=seed)


def change_batches(rows: dict[str, list], seed: int) -> list[list[tuple]]:
    return testing.generate_changes(
        rows, n_batches=CHANGE_BATCHES, per_batch=CHANGE_PER_BATCH,
        seed=_rng("changes", seed).randrange(1 << 30),
    )


def regions(seed: int, n: int) -> list[tuple[str, str]]:
    """`n` (size class, bbox text "minLat,minLon,maxLat,maxLon"), cycling
    the size classes in SIZE_CLASSES order."""
    rng = _rng("regions", seed)
    out = []
    for i in range(n):
        cls, half = SIZE_CLASSES[i % len(SIZE_CLASSES)]
        if half is None:
            lat, lon = rng.uniform(60.0, 85.0), rng.uniform(150.0, 180.0)
            box = (-lat, -lon, lat, lon)
        else:
            lon0, lat0 = rng.choice(CENTERS)
            h = half * rng.uniform(0.7, 1.3)
            lon_c = lon0 + rng.gauss(0.0, half / 4)
            lat_c = lat0 + rng.gauss(0.0, half / 4)
            box = (max(-90.0, lat_c - h), max(-180.0, lon_c - h),
                   min(90.0, lat_c + h), min(180.0, lon_c + h))
        out.append((cls, ",".join(f"{v:.6f}" for v in box)))
    return out


def _zipf(rng: random.Random, population: list, k: int) -> list:
    """`k` draws, rank r chosen with weight 1/r^ZIPF_S over a seeded
    permutation of the population (hot keys differ per seed)."""
    order = list(population)
    rng.shuffle(order)
    cw = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(order))))
    return rng.choices(order, cum_weights=cw, k=k)


def lookup_plan(rows: dict[str, list], seed: int, n_iter: int) -> list[list[tuple[str, int]]]:
    """Zipf-skewed `Dataset.lookup` gets, LOOKUP_TYPES per iteration:
    (element type, id)."""
    rng = _rng("lookups", seed)
    pools = {"node": [r[0] for r in rows["locations"]], "way": [r[0] for r in rows["ways"]]}
    hot = {t: iter(_zipf(rng, v, n_iter * len(LOOKUP_TYPES))) for t, v in pools.items()}
    return [[(t, next(hot[t])) for t in LOOKUP_TYPES] for _ in range(n_iter)]


def osmx_plan(rows: dict[str, list], seed: int, n: int) -> list[tuple[str, int]]:
    """Zipf-skewed `OsmxFile` gets: (get kind, id)."""
    rng = _rng("osmx", seed)
    node_ids = [r[0] for r in rows["locations"]]
    pools = {"location": node_ids, "node": node_ids, "node_ways": node_ids,
             "way": [r[0] for r in rows["ways"]],
             "relation": [r[0] for r in rows["relations"]]}
    hot = {k: _zipf(rng, v, n) for k, v in pools.items()}
    kinds = rng.choices(OSMX_GET_KINDS, weights=(3, 2, 2, 2, 1), k=n)
    return [(k, hot[k][i]) for i, k in enumerate(kinds)]


def osmx_bboxes(seed: int, n: int) -> list[tuple[int, int, int, int]]:
    """City-sized scaled-int bboxes (lon_lo, lat_lo, lon_hi, lat_hi) for
    `OsmxFile.bbox_node_ids`."""
    rng = _rng("osmx-bbox", seed)
    out = []
    for _ in range(n):
        lon0, lat0 = rng.choice(CENTERS)
        lon_c, lat_c = lon0 + rng.gauss(0.0, 0.2), lat0 + rng.gauss(0.0, 0.2)
        h = rng.uniform(0.01, 0.04)
        out.append(tuple(int(round(v * 1e7)) for v in
                         (lon_c - h, lat_c - h, lon_c + h, lat_c + h)))
    return out


def corpus(seed: int) -> list[tuple]:
    """`CORPUS_DOCS` rows of the documents schema (doc_id, text, lang,
    source, n_chars). A share of the docs are near-duplicates of an
    earlier doc with 1-3 seeded word edits, in the same (lang, source)
    block; the seed then permutes the row order."""
    rng = _rng("corpus", seed)
    docs: list[tuple[str, str, str]] = []
    for _ in range(CORPUS_DOCS):
        if docs and rng.random() < NEAR_DUP_SHARE:
            text, lang, source = rng.choice(docs)
            words = text.split(" ")
            for _ in range(rng.randint(1, 3)):
                pos = rng.randrange(len(words))
                edit = rng.random()
                if edit < 0.4:
                    words[pos] = rng.choice(_VOCAB)
                elif edit < 0.7 or len(words) < 10:
                    words.insert(pos, rng.choice(_VOCAB))
                else:
                    del words[pos]
            docs.append((" ".join(words), lang, source))
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 60))]
            docs.append((" ".join(words), rng.choice(_LANGS), rng.choice(_SOURCES)))
    order = list(range(CORPUS_DOCS))
    rng.shuffle(order)
    return [(i, docs[j][0], docs[j][1], docs[j][2], len(docs[j][0]))
            for i, j in enumerate(order)]


def digest(seed: int) -> str:
    """sha256 over every input the workloads generate for `seed`."""
    rows = osm_rows(seed)
    parts = (
        rows,
        change_batches(rows, seed),
        regions(seed, 16),
        lookup_plan(rows, seed, 16),
        osmx_plan(rows, seed, 256),
        osmx_bboxes(seed, 8),
        corpus(seed),
    )
    return hashlib.sha256(repr(parts).encode()).hexdigest()
