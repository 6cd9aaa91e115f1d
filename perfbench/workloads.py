"""The benchmark workloads: one closed-loop client each, in one process.

Each workload builds its inputs from the seed (set-up), warms the JVM
and the Python worker pool on synthetic data of the same shape, then
issues operations back to back for the run's seconds. Outputs are kept
and checked against `reference.py` after the timed loop.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor

import inputs
import reference

from osmexpress_spark import schemas, testing
from osmexpress_spark.api import Dataset
from osmexpress_spark.operators import edges as edges_mod
from osmexpress_spark.spatial import Region
from osmexpress_spark.store import DEFAULT_SORT, SnapshotStore

# The store compacts a table once its layer count would pass max_layers
# (16 by default). The replication workload lowers it so that one run
# crosses full layer/compaction cycles within its time budget.
MAX_LAYERS = 1
# the augmented diff runs on this batch only: it is the most expensive
# operation, and on this batch it reads through one delta layer
DIFF_BATCH = 1
WARM_SEED = 1_000_003  # seed of the synthetic warm-up data
FAILED = object()


class BenchStore(SnapshotStore):
    def merge_commit(self, merges, **kwargs):
        kwargs.setdefault("max_layers", MAX_LAYERS)
        return super().merge_commit(merges, **kwargs)


def tail(xs: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it, or None below 11 samples."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    return s[len(s) - 11], int(100 * (len(s) - 10) / len(s))


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """One benchmark run: timings, failures, setup phases and per-layer
    values of a single workload."""

    def __init__(self, workload, seed, seconds, spark, work, tracer, t_start):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.spark, self.work, self.tracer = spark, work, tracer
        self.t_start = t_start
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.windows: list[tuple[str, float, float]] = []
        self.n_ops: Counter = Counter()
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.loop_start = self.loop_end = None
        self.headline = self.read = None  # op kinds behind op_p50_s and read_p50_ms
        self.iterations = 0
        self.overhead_probe = None  # traced mode: one untimed op to repeat
        self.grouped = False  # a timed op set a job group that is still on

    # --- job groups and phases ---------------------------------------------
    def group(self, op_id: str, phase: str) -> None:
        if self.tracer.enabled:
            name = f"{self.workload}#{op_id}#{phase}"
            self.spark.sparkContext.setJobGroup(name, name)
            self.grouped = op_id != "idle"

    def setup_step(self, name: str, fn):
        self.group("setup", name)
        w0, t0 = time.time(), time.perf_counter()
        with self.tracer.span("setup." + name):
            out = fn()
        self.layer[f"setup.{name}_s"] = self.layer.get(f"setup.{name}_s", 0.0) + (
            time.perf_counter() - t0)
        self.windows.append(("setup", w0, time.time()))
        return out

    def setup_steps(self, *steps):
        """Run (name, fn) set-up steps side by side, each in its own
        thread (Spark runs their jobs concurrently); returns their
        results in order."""
        with ThreadPoolExecutor(max_workers=len(steps)) as pool:
            futures = [pool.submit(self.setup_step, name, fn) for name, fn in steps]
            return [f.result() for f in futures]

    # --- timed loop ---------------------------------------------------------
    def start_loop(self, headline: str, read: str | None = None) -> None:
        self.headline, self.read = headline, read
        self.loop_start = time.perf_counter()
        self.layer["setup.total_s"] = self.loop_start - self.t_start

    def more(self) -> bool:
        return time.perf_counter() - self.loop_start < self.seconds

    def op(self, kind: str, fn, record: bool = True):
        """Run one operation `fn(op_id)`; a raised exception counts as a
        failed operation and the loop goes on."""
        self.n_ops[kind] += 1
        op_id = f"{kind}-{self.n_ops[kind]}"
        self.attempted += 1
        self.tracer.op_id = op_id
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                out = fn(op_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            out = FAILED
        dt = time.perf_counter() - t0
        self.tracer.op_id = None
        if self.tracer.enabled:
            self.windows.append((op_id, w0, time.time()))
            if self.grouped:
                self.group("idle", "-")  # later jobs are no operation's
        if out is not FAILED and record:
            self.samples[kind].append(dt)
        self.loop_end = time.perf_counter()
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    # --- results ------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        heads = self.samples[self.headline]
        elapsed = self.loop_end - self.loop_start
        return {
            "setup_s": self.layer["setup.total_s"],
            "op_p50_s": _med(heads),
            "ops_per_min": 60.0 * len(heads) / elapsed,
            "read_p50_ms": 1e3 * _med(self.samples[self.read]) if self.read else 0.0,
        }

    def op_summary(self) -> dict:
        out = {}
        for kind, xs in sorted(self.samples.items()):
            t = tail(xs)
            out[kind] = {"n": len(xs), "p50_s": statistics.median(xs),
                         "tail_s": t[0] if t else None, "tail_pct": t[1] if t else None}
            if len(xs) <= 20:
                out[kind]["samples_s"] = xs
        return out


def warm_python(spark) -> None:
    """Start the Python worker pool on every core (Arrow seam)."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4000, numPartitions=n).mapInPandas(
        lambda it: (b for b in it), "id long").count()


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# extract-mix
# ---------------------------------------------------------------------------

def _export_ids(res):
    """The ordered id union `osm_extract_bbox` exports."""
    from pyspark.sql import functions as F

    return (
        res.node_ids.select(F.lit(1).alias("type_rank"), "id")
        .union(res.way_ids.select(F.lit(2), "id"))
        .union(res.relation_ids.select(F.lit(3), "id"))
        .orderBy("type_rank", "id")
    )


def _extract_op(run, ds, bbox):
    def fn(op_id):
        run.group(op_id, "build")
        res = ds.extract(Region(bbox, "bbox"), cache_ids=True)
        out = _export_ids(res)
        run.group(op_id, "exec")
        with run.tracer.span("extract.exec"):
            rows = [(r[0], r[1]) for r in out.collect()]
        return res.covering, rows
    return fn


def _lookup_op(run, ds, etype, eid):
    def fn(op_id):
        run.group(op_id, "build")
        df = ds.lookup(etype, eid)
        run.group(op_id, "exec")
        with run.tracer.span("lookup.exec"):
            return df.collect()
    return fn


def write_reference_osmx(rows: dict[str, list], path: str) -> None:
    """The snapshot as the `.osmx` file a user migrating from OSMExpress
    holds (ten LMDB sub-databases, S2 level-16 `cell_node` keys), written
    straight from the generated rows with the program's page writer and
    message codec. `write_osmx` would build the same file through nine
    sorted Spark streams, which does not fit the run budget."""
    import calendar

    import numpy as np

    from osmexpress_spark.sources import capnp_codec as C
    from osmexpress_spark.sources import lmdb_kv as K
    from osmexpress_spark.sources import osmx as X
    from osmexpress_spark.spatial import s2cell

    def meta(m):
        return {"version": m[0], "timestamp": calendar.timegm(m[1].timetuple()),
                "changeset": m[2], "uid": m[3], "user": m[4]}

    def by_id(table):
        return sorted(rows[table], key=lambda r: r[0])

    def dups(index):
        return [(k, sorted(v)) for k, v in sorted(index.items())]

    locs = by_id("locations")
    cells = s2cell.cell_ids_np(np.array([r[1] for r in locs], dtype=np.int64),
                               np.array([r[2] for r in locs], dtype=np.int64), 16)
    cell_node, node_way = defaultdict(list), defaultdict(set)
    node_rel, way_rel = defaultdict(set), defaultdict(set)
    for cell, r in zip(cells.tolist(), locs):
        cell_node[cell].append(r[0])
    for wid, refs, *_ in rows["ways"]:
        for n in refs:
            node_way[n].add(wid)
    for rid, members, *_ in rows["relations"]:
        for ref, mtype, _ in members:
            if mtype in ("node", "way"):
                (node_rel if mtype == "node" else way_rel)[ref].add(rid)
    K.write_env(path, {
        "metadata": (0, [(b"cell_scheme", b"s2_16")]),
        "locations": (X.TABLE_FLAGS, [(r[0], X._pack_location(r[1], r[2], r[3]))
                                      for r in locs]),
        "nodes": (X.TABLE_FLAGS, [(r[0], C.encode_node(r[2], meta(r[3])))
                                  for r in by_id("nodes")]),
        "ways": (X.TABLE_FLAGS, [(r[0], C.encode_way(r[1], r[3], meta(r[4])))
                                 for r in by_id("ways")]),
        "relations": (X.TABLE_FLAGS, [(r[0], C.encode_relation(r[1], r[3], meta(r[4])))
                                      for r in by_id("relations")]),
        "cell_node": (X.INDEX_FLAGS, dups(cell_node)),
        "node_way": (X.INDEX_FLAGS, dups(node_way)),
        "node_relation": (X.INDEX_FLAGS, dups(node_rel)),
        "way_relation": (X.INDEX_FLAGS, dups(way_rel)),
    }, presorted=True)


def _warm_tables(spark):
    """Synthetic snapshot tables, in memory: warm-up input only."""
    tables = testing.to_dataframes(spark, testing.generate(n_nodes=400, seed=WARM_SEED))
    tables.update(edges_mod.derive_all(tables["ways"], tables["relations"]))
    return tables


def extract_mix(run: Run) -> None:
    from osmexpress_spark.operators.extract import extract
    from osmexpress_spark.sources.osmx import OsmxFile

    spark, seed, work = run.spark, run.seed, run.work
    rows = run.setup_step("generate", lambda: inputs.osm_rows(seed))
    model = reference.OsmModel(rows)
    osmx_path = os.path.join(work, "snapshot.osmx")
    dest = os.path.join(work, "snapshot")
    run.setup_step("osmx_write", lambda: write_reference_osmx(rows, osmx_path))

    def warm():
        warm_python(spark)
        _, bbox = inputs.regions(WARM_SEED, 1)[0]
        _export_ids(extract(_warm_tables(spark), Region(bbox, "bbox"), cache_ids=True)).collect()

    # the parquet snapshot is the migration of the .osmx artifact; the
    # warm-up runs beside it on synthetic tables
    run.setup_steps(("write", lambda: Dataset.expand(spark, osmx_path, dest)),
                    ("warmup", warm))
    ds = Dataset(spark, dest)
    # ids 0 and 2 are no element's: the lookup plans run, no row comes back
    run.setup_step("warmup", lambda: (ds.lookup("node", 0).collect(),
                                      ds.lookup("way", 2).collect()))
    if run.tracer.enabled:
        scan = spark.read.format("osmx").load(osmx_path)
        run.layer["lmdb_kv.partitions"] = scan.rdd.getNumPartitions()
        run.layer["osmx.scan_rows"] = run.setup_step("osmx_scan", scan.count)
        run.layer["osmx.scan_s"] = run.layer["setup.osmx_scan_s"]

    n_cls = len(inputs.SIZE_CLASSES)
    regions = inputs.regions(seed, 16 * n_cls)
    lookups = inputs.lookup_plan(rows, seed, 16)
    gets = inputs.osmx_plan(rows, seed, 16 * inputs.OSMX_GETS_PER_ITER)
    boxes = inputs.osmx_bboxes(seed, 16 * inputs.OSMX_BBOXES_PER_ITER)
    results = []
    with OsmxFile(osmx_path) as f:
        getters = {"location": f.location, "node": f.node, "way": f.way,
                   "relation": f.relation, "node_ways": f.node_ways}
        run.start_loop("extract", read="lookup_node")
        it = 0
        # an iteration: one extract per size class, the Spark point gets,
        # then the .osmx gets and bbox queries
        while run.more() and it < len(lookups):
            for _, bbox in regions[it * n_cls:(it + 1) * n_cls]:
                results.append(("extract", bbox,
                                run.op("extract", _extract_op(run, ds, bbox))))
            for etype, eid in lookups[it]:
                results.append(("lookup", (etype, eid), run.op(
                    f"lookup_{etype}", _lookup_op(run, ds, etype, eid))))
            k = inputs.OSMX_GETS_PER_ITER
            for kind, eid in gets[it * k:(it + 1) * k]:
                get = getters[kind]
                results.append(("osmx_get", (kind, eid),
                                run.op("osmx_get", lambda _op, g=get, i=eid: g(i))))
            k = inputs.OSMX_BBOXES_PER_ITER
            for box in boxes[it * k:(it + 1) * k]:
                results.append(("osmx_bbox", box, run.op(
                    "osmx_bbox", lambda _op, b=box: f.bbox_node_ids(*b))))
            it += 1
        run.iterations = it

    # --- checks (outside the timed loop) ------------------------------------
    precision, ids_out = [], []
    for kind, arg, out in results:
        if out is FAILED:
            continue
        if kind == "extract":
            covering, got = out
            seeds = model.covered(covering)
            inside = model.inside(arg)
            run.check(inside <= seeds, f"covering misses nodes of {arg}")
            run.check(got == model.extract(seeds), f"extract {arg}")
            precision.append(len(inside) / len(seeds) if seeds else 1.0)
            ids_out.append(len(got))
        elif kind == "lookup":
            run.check(model.lookup_ok(*arg, out), f"lookup {arg}")
        elif kind == "osmx_get":
            run.check(model.osmx_ok(*arg, out), f"osmx get {arg}")
        else:
            run.check(model.bbox_ok(arg, out), f"osmx bbox {arg}")
    run.layer["spatial.covering_precision"] = _med(precision)
    run.layer["extract.ids_out"] = _med(ids_out)

    if run.tracer.enabled:
        run.overhead_probe = lambda: run.op(
            "probe", _lookup_op(run, ds, *lookups[0][0]), record=False)


# ---------------------------------------------------------------------------
# replicate-minutely
# ---------------------------------------------------------------------------

def replicate_minutely(run: Run) -> None:
    from pyspark.sql import functions as F

    from osmexpress_spark.operators.diff import augmented_diff
    from osmexpress_spark.streaming import replication

    spark, seed, work = run.spark, run.seed, run.work
    rows = run.setup_step("generate", lambda: inputs.osm_rows(seed))
    batches = inputs.change_batches(rows, seed)
    root = os.path.join(work, "store")

    def create(path, rows_):
        dfs = testing.to_dataframes(spark, rows_)
        dfs.update(edges_mod.derive_all(dfs["ways"], dfs["relations"]))
        return BenchStore.create(spark, path, dfs, metadata={"seqnum": 0},
                                 sort_by=DEFAULT_SORT)

    def warm_diff():
        warm_python(spark)
        wrows = testing.generate(n_nodes=400, seed=WARM_SEED)
        wchg = spark.createDataFrame(
            testing.generate_changes(wrows, n_batches=1, per_batch=10, seed=WARM_SEED)[0],
            schemas.CHANGES_SCHEMA)
        augmented_diff(_warm_tables(spark), wchg).select("type", "id").collect()

    store, _ = run.setup_steps(("write", lambda: create(root, rows)), ("warmup", warm_diff))
    # one untimed cycle of synthetic batches warms the layer commit, the
    # read through a layer and the compacting commit on the real store;
    # the timed batches apply on top of it
    warm_batches = testing.generate_changes(rows, n_batches=MAX_LAYERS + 1, per_batch=10,
                                            seed=WARM_SEED)

    def warm_cycle():
        for i, wb in enumerate(warm_batches):
            replication.apply_batch(store, spark.createDataFrame(wb, schemas.CHANGES_SCHEMA),
                                    i + 1)
            ids = sorted({r[3] for r in wb if r[2] == "node"})[:2]  # a timed read's shape
            store.read_table("locations").where(F.col("id").isin(ids)).collect()
    run.setup_step("warmup", warm_cycle)
    batches = warm_batches + batches
    first = len(warm_batches)

    def commit_op(chg, seq):
        def fn(op_id):
            run.group(op_id, "commit")
            return replication.apply_batch(store, chg, seq)
        return fn

    def diff_op(chg):
        def fn(op_id):
            run.group(op_id, "build")
            df = augmented_diff(store.read_all(), chg)
            run.group(op_id, "exec")
            with run.tracer.span("diff.exec"):
                return df.select("type", "id").collect()
        return fn

    def ryw_op(table, ids):
        def fn(op_id):
            run.group(op_id, "exec")
            return store.read_table(table).where(F.col("id").isin(ids)).collect()
        return fn

    checks = []  # (batch index, what, got)
    layers_max, compactions, commit_kind = 0, 0, []
    bytes_before = du(root)
    run.start_loop("commit", read="ryw_layer")
    b = first
    # whole layer/compaction cycles only, so every run has the same mix
    # of layer commits and compacting commits
    while b < len(batches) and (run.more() or b % (MAX_LAYERS + 1)):
        batch = batches[b]
        chg = spark.createDataFrame(batch, schemas.CHANGES_SCHEMA)
        if b == first + DIFF_BATCH:
            got = run.op("augdiff", diff_op(chg))
            if got is not FAILED:
                run.layer["diff.rows_out"] = len(got)
                checks.append((b, "augdiff", {(r["type"], r["id"]) for r in got}))
        run.op("commit", commit_op(chg, b + 1))
        entry = store._manifest()["tables"]["locations"]
        n_layers = len(entry.get("layers", [])) if isinstance(entry, dict) else 0
        compacted = isinstance(entry, dict) and n_layers == 0
        compactions += compacted
        commit_kind.append(compacted)
        layers_max = max(layers_max, n_layers)
        # read-your-writes: five reads through the fresh delta layer, or
        # one read of the freshly compacted base
        node_ids = sorted({r[3] for r in batch if r[2] == "node"})[:10]
        groups = [node_ids] if compacted else [node_ids[i::5] for i in range(5)]
        for ids in groups:
            got = run.op("ryw_base" if compacted else "ryw_layer",
                         ryw_op("locations", ids))
            if got is not FAILED:
                checks.append((b, "locations", (ids, got)))
        b += 1
    run.iterations = b - first

    # --- checks (outside the timed loop) ------------------------------------
    model = reference.StoreModel(rows)
    applied = -1
    for bi, what, got in checks:
        while applied < bi:
            applied += 1
            model.apply(batches[applied])
        if what == "augdiff":
            run.check({(r[2], r[3]) for r in batches[bi]} <= got,
                      "augmented diff misses changed elements")
        else:
            ids, rows_ = got
            want = {r for r in model.tables()[what] if r[0] in ids}
            run.check(reference.store_rows(what, rows_) == want,
                      f"read-your-writes {what} after batch {bi + 1}")
    while applied < b - 1:
        applied += 1
        model.apply(batches[applied])
    run.attempted += 1  # the fold check below is one more checked operation
    folded = store.read_all()
    expect = model.tables()
    with ThreadPoolExecutor(max_workers=len(folded)) as pool:
        collected = dict(zip(folded, pool.map(lambda df: df.collect(), folded.values())))
    for name, rows_ in collected.items():
        got = reference.store_rows(name, rows_)
        run.check(got == expect[name], f"folded store table {name}: "
                  f"{sorted(got - expect[name])[:3]} / {sorted(expect[name] - got)[:3]}")
    run.check(compactions >= 1, "run crossed no compaction")

    commits = run.samples["commit"]
    run.layer["store.compactions"] = compactions
    run.layer["store.layers_max"] = layers_max
    spans = run.tracer.durations("store.merge_commit")
    if len(spans) == len(commit_kind):
        run.layer["store.merge_commit_s"] = _med(
            [d for d, c in zip(spans, commit_kind) if not c])
        run.layer["store.compaction_s"] = _med(
            [d for d, c in zip(spans, commit_kind) if c])
    written = du(root) - bytes_before
    run.layer["store.bytes_written"] = written
    run.detail["commits"] = {"n": len(commits), "compacting": compactions}

    if run.tracer.enabled:
        # bytes a never-compacting store writes: the layer files alone
        layer_bytes = sum(du(os.path.join(root, "data", t, d))
                          for t in os.listdir(os.path.join(root, "data"))
                          for d in os.listdir(os.path.join(root, "data", t))
                          if d.endswith("_layer"))
        run.layer["store.write_amp"] = written / layer_bytes if layer_bytes else 0.0
        fresh = os.path.join(work, "fresh")
        SnapshotStore(spark, fresh).commit(folded, sort_by=DEFAULT_SORT)
        run.layer["store.space_amp"] = du(os.path.join(root, "data")) / du(
            os.path.join(fresh, "data"))
        probe_ids = sorted(model.loc)[:3]
        run.overhead_probe = lambda: run.op(
            "probe", ryw_op("locations", probe_ids), record=False)


# ---------------------------------------------------------------------------
# corpus-dedup
# ---------------------------------------------------------------------------

# one chain pass, in order: LSH pairs, their clusters, blocked n-gram
# Jaccard, exact prefix-filter join, image near-dup clusters
CHAIN = ("q_minhash_lsh_pairs", "q_dup_clusters", "q_ngram_jaccard",
         "q_prefix_filter_pairs", "q_image_dup_clusters")


def _write_corpus(path: str, docs: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*docs))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()), "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64())})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def corpus_dedup(run: Run) -> None:
    import duckdb

    from osmexpress_spark import queries_data

    spark, seed, work = run.spark, run.seed, run.work
    docs = run.setup_step("generate", lambda: inputs.corpus(seed))
    cdir = os.path.join(work, "corpus")
    run.setup_step("write", lambda: _write_corpus(cdir, docs))

    def warm():
        warm_python(spark)
        wdir = os.path.join(work, "warm")
        _write_corpus(wdir, inputs.corpus(WARM_SEED)[:80])
        for q in CHAIN:
            queries_data.SPARK_QUERIES[q](spark, wdir).collect()
    run.setup_step("warmup", warm)

    def query_op(q):
        def fn(op_id):
            run.group(op_id, "exec")
            return queries_data.SPARK_QUERIES[q](spark, cdir).collect()
        return fn

    outputs = defaultdict(list)
    run.start_loop("pass")
    while run.more():
        t0, ok = time.perf_counter(), True
        for q in CHAIN:
            got = run.op(q, query_op(q))
            ok &= got is not FAILED
            if got is not FAILED:
                outputs[q].append(got)
        if ok:
            run.samples["pass"].append(time.perf_counter() - t0)
        run.iterations += 1

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(cdir, 'documents.parquet')}')")
        for q in CHAIN:
            want = sorted(con.execute(queries_data.ORACLE_SQL[q]).fetchall())
            for got in outputs[q]:
                run.check(sorted(tuple(r) for r in got) == want, f"{q} vs oracle")
            if q == "q_minhash_lsh_pairs":
                run.layer["dedup.pairs_out"] = len(want)
    finally:
        con.close()
    for q, name in (("q_minhash_lsh_pairs", "dedup.lsh_s"), ("q_dup_clusters", "dedup.clusters_s"),
                    ("q_ngram_jaccard", "dedup.jaccard_s"),
                    ("q_prefix_filter_pairs", "dedup.prefix_filter_s"),
                    ("q_image_dup_clusters", "multimodal.image_near_dup_s")):
        run.layer[name] = _med(run.samples[q])
    if run.tracer.enabled:
        run.overhead_probe = lambda: run.op(
            "probe", query_op("q_minhash_lsh_pairs"), record=False)


WORKLOADS = {
    "extract-mix": extract_mix,
    "replicate-minutely": replicate_minutely,
    "corpus-dedup": corpus_dedup,
}
