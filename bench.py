#!/usr/bin/env python
"""Per-query sweep: every registry query declared ``bench=True`` plus
a few pipeline lines, at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].  The gated,
repeated benchmark is perfbench/run.py (BENCHMARK.json); this is the
one-rep-per-line sweep.

Prints two JSON lines: the full record, then a compact summary
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, ...}
that fits the 2000-char tail it is parsed from (see summary_line).

Each query is materialized through the noop sink (full compute, all
columns, no driver collection cost) after a warmup action that absorbs
session/JIT startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmexpress_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Queries whose entries lead every summary line, whatever their time:
# summary entries are grow-only, so a name once reported by the final
# line must never fall out of it.
ALWAYS_REPORT = (
    "osm_osmx_roundtrip", "q_prefix_filter_pairs", "osm_pbf_sink",
    "q_augmented_diff_analog", "q_image_near_dup", "q_bm25_store",
    "q_frequent_tokens", "osm_extract_bbox", "q_ngram_jaccard",
    "osm_update_batches",
)
# The final JSON line must fit the 2000-char stdout tail it is parsed
# from; the margin covers the newline and any trailing output.
SUMMARY_BUDGET = 1900


def summary_line(fields: dict, timings: dict[str, float]) -> str:
    """`fields` as one compact JSON line with its "queries" entry
    packed from `timings`: ALWAYS_REPORT names first (those missing
    from `timings` are skipped), then slowest first, for as long as the
    line fits SUMMARY_BUDGET chars."""
    order = [n for n in ALWAYS_REPORT if n in timings] + [
        k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])
        if k not in ALWAYS_REPORT
    ]

    def line(qs: dict[str, float]) -> str:
        return json.dumps({**fields, "queries": qs}, separators=(",", ":"))

    packed: dict[str, float] = {}
    for name in order:
        trial = {**packed, name: round(timings[name], 2)}
        if len(line(trial)) > SUMMARY_BUDGET:
            break
        packed = trial
    return line(packed)


def _loadavg() -> list[float]:
    """Host 1/5/15-minute load averages ([] where unsupported)."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (AttributeError, OSError):
        return []


def main() -> None:
    load_start = _loadavg()
    from osmexpress_spark import queries_data as QD
    from osmexpress_spark import queries_osm as QO
    from osmexpress_spark.registry import live

    registry = live()

    spark = get_spark(
        app_name="osmx-bench",
        cpus=CPUS,
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: session/codegen startup + fixture materialization
    for name in ("q_projection", "osm_stats"):
        registry[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    # The two warmup queries above never start a Python worker, never
    # shuffle and never broadcast, so the first timed query to do each
    # would absorb one-time session infrastructure (Python-worker pool
    # spin-up: fork + pandas/pyarrow/numpy imports; first-shuffle,
    # aggregate and broadcast codegen; ~4.8 s and ~2-3 s measured on
    # 32 cores).
    # Warm those runtime paths on SYNTHETIC range data: no fixture
    # table is touched, no query result or intermediate is cached —
    # every timed query still computes from its parquet inputs.
    def _warm_workers(batches):
        import hashlib  # noqa: F401
        import numpy  # noqa: F401  (seam decoders import these lazily)
        for pdf in batches:
            yield pdf

    slots = spark.sparkContext.defaultParallelism
    spark.range(slots * 4).repartition(slots).mapInPandas(
        _warm_workers, "id long"
    ).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    _rng = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    _agg = _rng.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c"))
    _agg.join(F.broadcast(_agg.select("k", "s")), "k").write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}

    # osm_osmx_roundtrip times the .osmx READ path; the marker-cached
    # LMDB artifact it reads is built here, untimed like the fixture
    # above, and the build gets its own line (~0 s when the artifact
    # exists) so a cold environment shows up there, not in the read.
    t0 = time.monotonic()
    QD._osmx_fixture_path()
    timings["osm_osmx_build"] = round(time.monotonic() - t0, 3)
    for name, query in registry.items():
        if not query.bench:
            continue
        # time build + execute: DataFrame construction is part of the
        # query cost (some operators run planning jobs, e.g. the
        # closure's driver probe), so excluding it would reward moving
        # work into the untimed phase.
        t0 = time.monotonic()
        df = query(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t0, 3)

    # the 100 TB form of the profile contract: HLL++ approx distinct
    # replaces the exact multi-DISTINCT (whose Catalyst Expand
    # multiplies every row (k+1)x before the first aggregate) with one
    # plain map-side-combinable aggregate. Benched beside the exact
    # q_profile_documents line so the scale path has its own number;
    # it can't be a registry query because HLL estimates differ
    # between engines.
    from osmexpress_spark.operators import profile as profile_mod
    from osmexpress_spark.queries_data import t as _t

    t0 = time.monotonic()
    profile_mod.profile(
        _t(spark, SF_DIR, "documents"), approx_distinct=True
    ).write.format("noop").mode("overwrite").save()
    timings["q_profile_documents_approx"] = round(time.monotonic() - t0, 3)

    # The production trigger path for the two slowest streaming gates.
    # The declared q_stream_drift / q_stream_rollup lines keep their
    # per-file trigger (that cadence IS the gate semantics); these
    # lines run the SAME pipelines
    # through streaming.watermark_ops.file_stream with the backlog
    # drained in one availableNow batch — the daily-drop production
    # shape.  Output equality with the gate cadence is pinned by
    # tests/test_watermark_ops.py.
    t0 = time.monotonic()
    QD._stream_drift_impl(
        spark, SF_DIR, max_files_per_trigger=None
    ).write.format("noop").mode("overwrite").save()
    timings["q_stream_drift_prod"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    QD._stream_rollup_impl(
        spark, SF_DIR, max_files_per_trigger=None
    ).write.format("noop").mode("overwrite").save()
    timings["q_stream_rollup_prod"] = round(time.monotonic() - t0, 3)

    # --- pipeline throughput anchors (BASELINE.md: expand wall time,
    # single-file extract export, minutely update batch latency) -------
    import shutil
    import tempfile

    from osmexpress_spark import testing
    from osmexpress_spark.api import Dataset
    from osmexpress_spark.sources import sink as sink_mod
    from osmexpress_spark.spatial import Region
    from osmexpress_spark.store import DEFAULT_SORT, SnapshotStore
    from osmexpress_spark.streaming import replication

    tmp = tempfile.mkdtemp(prefix="osmx_bench_")
    try:
        fx_rows = testing.generate(n_nodes=QO.FIXTURE_NODES, seed=42)
        fx = Dataset(
            spark,
            testing.ensure_fixture_dataset(
                spark, QO.FIXTURE_DIR, n_nodes=QO.FIXTURE_NODES, seed=42
            ),
        )
        # cache_ids: the export consumes the extract 4x (header bbox +
        # three passes); without it each pass re-runs the id-set DAG
        world = fx.extract(Region("-90,-180,90,180", "bbox"), cache_ids=True)

        t0 = time.monotonic()
        pbf_path = os.path.join(tmp, "world.osm.pbf")
        sink_mod.write_pbf(world, pbf_path)
        timings["osm_pbf_sink"] = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        Dataset.expand(spark, pbf_path, os.path.join(tmp, "expanded"))
        timings["osm_expand"] = round(time.monotonic() - t0, 3)

        store = SnapshotStore.create(
            spark,
            os.path.join(tmp, "store"),
            testing.to_dataframes(spark, fx_rows),
            metadata={"seqnum": 0},
            sort_by=DEFAULT_SORT,
        )
        batches = testing.generate_changes(fx_rows, n_batches=2, per_batch=40)
        changes = spark.createDataFrame(
            [row for b in batches for row in b],
            testing.schemas.CHANGES_SCHEMA,
        )
        t0 = time.monotonic()
        applied = replication.catch_up(store, changes)
        timings["osm_update_batches"] = round(time.monotonic() - t0, 3)
        assert applied == [1, 2]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    # Full record first (humans, PERF.md), then a SHORT summary line
    # LAST: the final JSON line is parsed from a bounded 2000-char tail
    # of stdout, which the full per-query map outgrows.  The full map
    # also lands in bench_detail.json beside this script.  Host
    # 1/5/15-min loadavg at both ends of the run travels with the
    # numbers so contention is visible in the record.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
    }
    print(json.dumps(detail))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout already carries the map
    print(summary_line({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "detail": "bench_detail.json",
        "sf": sf_val,
        "loadavg_start": load_start,
        "loadavg_end": detail["loadavg_end"],
    }, timings))
    spark.stop()


if __name__ == "__main__":
    main()
