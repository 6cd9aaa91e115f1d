"""bench.py and query-registry hygiene.

Bench lines and families are fields of the query declarations
(``registry.defq``), so renaming or dropping a query takes its bench
line and family with it.  These guards keep every family benched,
keep the summary line parseable, and keep a second registry from
growing back beside ``osmexpress_spark/registry.py``.
"""

from __future__ import annotations

import ast
import json
import os
import re

import bench
from osmexpress_spark.registry import live, pending

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_family_keeps_a_bench_line():
    # each SURVEY §2.9 family keeps >= 1 benched line
    queries = live().values()
    families = {q.family for q in queries if q.family}
    benched = {q.family for q in queries if q.bench}
    assert families <= benched, (
        f"families with no bench line: {sorted(families - benched)}"
    )


def test_family_map_covers_headline_registry_queries():
    # every bench line names its family, so a promoted query must be
    # classified before it is benched
    unclassified = [n for n, q in live().items() if q.bench and not q.family]
    assert not unclassified, f"bench lines missing a family: {unclassified}"


def test_scaling_subset_is_registered():
    import scaling

    # staged queries join the scaling sweep before promotion
    reg = {**live(), **pending()}
    missing = [n for n in scaling.SUBSET if n not in reg]
    assert not missing, f"scaling.py SUBSET names not in registry: {missing}"
    # all scaling lines read sf-scaled tables (no fixed-size OSM fixture
    # lines, which an sf sweep cannot exercise)
    assert not [n for n in scaling.SUBSET if n.startswith("osm_")]


def test_summary_line_fits_budget_and_skips_missing_names():
    """The packed summary stays within its budget when the full map
    does not fit, an ALWAYS_REPORT name missing from the timings is
    skipped rather than crashing the run's last step, and the present
    ones lead the line however fast they ran (grow-only entries)."""
    timings = {f"q_line_{i:03d}": float(i) for i in range(300)}
    timings["osm_extract_bbox"] = 0.01
    assert set(bench.ALWAYS_REPORT) - set(timings)  # some are missing
    fields = {"metric": "m", "value": 1.0, "queries": {}, "n_queries": 301}
    assert len(json.dumps({**fields, "queries": timings})) > bench.SUMMARY_BUDGET

    line = bench.summary_line(fields, timings)
    assert len(line) <= bench.SUMMARY_BUDGET
    parsed = json.loads(line)
    assert list(parsed) == list(fields)
    names = list(parsed["queries"])
    assert names[0] == "osm_extract_bbox"
    assert names[1:] == [f"q_line_{i:03d}" for i in range(299, 299 - len(names) + 1, -1)]
    assert 1 < len(names) < len(timings)


def _gated_sources():
    for top in ("osmexpress_spark", "bench.py", "scaling.py", "tools"):
        path = os.path.join(REPO, top)
        if path.endswith(".py"):
            yield path
            continue
        for dirpath, _, files in os.walk(path):
            yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


def test_one_query_registry():
    """registry.py holds the only defq and the only registry dict."""
    home = os.path.join("osmexpress_spark", "registry.py")
    stray_dict = re.compile(
        r"^\s*(SPARK_QUERIES\s*(:\s*dict|=\s*\{)|PENDING_\w+\s*[:=])", re.M
    )
    defqs, strays = [], []
    for path in _gated_sources():
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            text = f.read()
        defqs += [rel for _ in re.finditer(r"^\s*def defq\b", text, re.M)]
        if rel != home:
            strays += [f"{rel}: {m.group(0).strip()}"
                       for m in stray_dict.finditer(text)]
    assert defqs == [home]
    assert not strays, strays


def _calls_by_function(tree):
    """(top-level function name or None, Call node) for every call."""
    for node in tree.body:
        name = node.name if isinstance(node, ast.FunctionDef) else None
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call):
                yield name, sub


def test_one_python_seam_rule():
    """multimodal.synth_payloads is the only synth seam and
    lineage.fan_out holds the only partition-count probe."""
    seams, probes, strays = [], [], []
    for path in _gated_sources():
        rel = os.path.relpath(path, REPO)
        if not rel.startswith("osmexpress_spark"):
            continue
        with open(path) as f:
            text = f.read()
        if "narrow_scan" in text:
            strays.append(rel)
        for fn, call in _calls_by_function(ast.parse(text)):
            attr = getattr(call.func, "attr", None)
            if attr == "getNumPartitions":
                probes.append((rel, fn))
            elif attr == "mapInPandas" and any(
                isinstance(a, ast.Name) and a.id == "SYNTH_SCHEMA"
                for a in call.args
            ):
                seams.append((rel, fn))
    assert seams == [
        (os.path.join("osmexpress_spark", "operators", "multimodal.py"),
         "synth_payloads")
    ]
    assert probes == [
        (os.path.join("osmexpress_spark", "lineage.py"), "fan_out")
    ]
    assert not strays, strays
