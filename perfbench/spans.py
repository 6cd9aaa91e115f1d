"""Traced mode: span recorders around the program's public functions,
and the reduction of Spark's event log per job group.

Spans are recorded from the benchmark's side only. `Tracer.install`
replaces each listed public function (and every alias of it that a
program module imported by name) with a wrapper that records a span
(name, start, end, parent, op id). Spans stay in memory until
`Tracer.dump` writes them at the end of a run.

Spark work is attributed to operations by job group: each operation
runs under `setJobGroup("<workload>#<op>#<phase>")`. Jobs submitted from
threads the program starts itself (the store's and expand's write pools)
carry no group and are attributed to the operation whose wall-clock
interval holds their submission time.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute path, span name, counts taken from the result)
TARGETS = (
    ("osmexpress_spark.spatial.covering", "covering", "spatial.cover",
     lambda r: {"spatial.ranges": len(r)}),
    ("osmexpress_spark.operators.extract", "extract", "extract.build", None),
    ("osmexpress_spark.operators.closure", "transitive_closure", "closure", None),
    ("osmexpress_spark.api", "Dataset.lookup", "lookup.build", None),
    ("osmexpress_spark.store", "SnapshotStore.merge_commit", "store.merge_commit", None),
    ("osmexpress_spark.store", "SnapshotStore.read_all", "store.read_all", None),
    ("osmexpress_spark.store", "SnapshotStore.read_table", "store.read_all", None),
    ("osmexpress_spark.operators.update", "merge_specs_for", "update.merge_specs", None),
    ("osmexpress_spark.streaming.replication", "apply_batch", "replication.apply_batch", None),
    ("osmexpress_spark.operators.diff", "augmented_diff", "diff.build", None),
    ("osmexpress_spark.sources.lmdb_kv", "LmdbReader.get", "lmdb_kv.get", None),
    ("osmexpress_spark.sources.lmdb_kv", "LmdbReader.get_dups", "lmdb_kv.get", None),
    ("osmexpress_spark.sources.capnp_codec", "decode_node", "capnp_codec.decode", None),
    ("osmexpress_spark.sources.capnp_codec", "decode_way", "capnp_codec.decode", None),
    ("osmexpress_spark.sources.capnp_codec", "decode_relation", "capnp_codec.decode", None),
    ("osmexpress_spark.operators.expand", "expand", "expand.write", None),
    ("osmexpress_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", None),
    ("osmexpress_spark.operators.dedup", "jaccard_pairs", "dedup.jaccard_pairs", None),
    ("osmexpress_spark.operators.dedup", "prefix_filter_pairs", "dedup.prefix_filter_pairs", None),
    ("osmexpress_spark.operators.dedup", "dup_clusters", "dedup.dup_clusters", None),
    ("osmexpress_spark.operators.multimodal", "near_dup_by_bands",
     "multimodal.near_dup_by_bands", None),
)


class Tracer:
    """In-memory span recorder. Disabled, `span` and the installed
    wrappers cost one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.op_id: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "op": self.op_id, "start": time.perf_counter(), "wall": time.time()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(value)

    def install(self) -> None:
        for mod_name, path, name, counter in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            wrapper = self._wrap(orig, name, counter)
            setattr(owner, attr, wrapper)
            if not outer:  # rebind aliases imported with `from x import f`
                for mname, mod in list(sys.modules.items()):
                    if mname.startswith("osmexpress_spark") and mod is not None:
                        for k, v in list(vars(mod).items()):
                            if v is orig:
                                setattr(mod, k, wrapper)


    def _wrap(self, fn, name, counter):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if counter is not None:
                for k, v in counter(out).items():
                    tracer.count(k, v)
            return out

        return wrapper

    def durations(self, name: str) -> list[float]:
        """Durations of the `name` spans recorded inside timed operations
        (not set-up, warm-up or the overhead probe)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s and s["op"]
                and not s["op"].startswith("probe")]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], ())):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                if "end" in s:
                    f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# --- event log ------------------------------------------------------------

_JOIN_RE = {"broadcast": re.compile(r"\bBroadcastHashJoin\b"),
            "smj": re.compile(r"\bSortMergeJoin\b")}


def _final_plan(desc: str) -> str:
    """The executed tree of a plan description: AQE's final plan when
    present, without the initial plan and the per-node details."""
    if "== Final Plan ==" in desc:
        desc = desc.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return desc.split("\n\n", 1)[0]


def read_event_log(log_dir: str) -> list[dict]:
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def reduce_event_log(events: list[dict], op_windows: list[tuple[str, float, float]]):
    """Per-operation Spark totals. `op_windows` lists (op id, wall start,
    wall end) of the run's operations; a job group names its op as the
    second `#` field. Returns {op id: {metric: value}}."""
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    plans: dict[int, str] = {}
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def op_at(ms: float) -> str | None:
        t = ms / 1000.0
        for op, lo, hi in op_windows:
            if lo <= t <= hi:
                return op
        return None

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            op = group.split("#")[1] if group and group.count("#") >= 2 else op_at(
                ev.get("Submission Time", 0))
            if op is None:
                continue
            per_op[op]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_op[int(eid)] = op
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                per_op[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if op is None or not m:
                continue
            acc = per_op[op]
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    for eid, desc in plans.items():
        op = exec_op.get(eid)
        if op is None:
            continue
        tree = _final_plan(desc)
        per_op[op]["broadcast_joins"] += len(_JOIN_RE["broadcast"].findall(tree))
        per_op[op]["smj_joins"] += len(_JOIN_RE["smj"].findall(tree))
    return per_op
