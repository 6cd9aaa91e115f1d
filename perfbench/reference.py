"""Independent references for the correctness checks.

None of this runs the code under test: extracts are checked against a
pure-Python closure model over the generated rows, gets and lookups
against the generated rows themselves, and the folded store against a
Python last-wins application of every change batch. The one planning
input the extract model takes from the program, the covering, is checked
on its own: it must select every node that lies inside the bbox.
"""

from __future__ import annotations

import bisect
import calendar
from collections import defaultdict

def _in_bbox(bbox: str, lon: int, lat: int) -> bool:
    """Half-open bbox containment on degrees, as the program's Region
    defines it for bboxes."""
    min_lat, min_lon, max_lat, max_lon = (float(x) for x in bbox.split(","))
    la, lo = lat / 1e7, lon / 1e7
    return min_lat <= la < max_lat and min_lon <= lo < max_lon


class OsmModel:
    """The generated snapshot as Python dicts."""

    def __init__(self, rows: dict[str, list]):
        self.loc = {r[0]: (r[1], r[2], r[3]) for r in rows["locations"]}
        self.cells = sorted((r[4], r[0]) for r in rows["locations"])
        self.cell_keys = [c for c, _ in self.cells]
        self.nodes = {r[0]: (r[1], r[3]) for r in rows["nodes"]}  # tags, meta
        self.ways = {r[0]: (r[1], r[2], r[4]) for r in rows["ways"]}  # refs, tags, meta
        self.rels = {r[0]: (r[1], r[2], r[4]) for r in rows["relations"]}
        self.node_ways: dict[int, set[int]] = defaultdict(set)
        for wid, (refs, _, _) in self.ways.items():
            for n in refs:
                self.node_ways[n].add(wid)
        self.node_rels: dict[int, set[int]] = defaultdict(set)
        self.way_rels: dict[int, set[int]] = defaultdict(set)
        self.rel_parents: dict[int, set[int]] = defaultdict(set)
        for rid, (members, _, _) in self.rels.items():
            for ref, mtype, _ in members:
                {"node": self.node_rels, "way": self.way_rels,
                 "relation": self.rel_parents}[mtype][ref].add(rid)

    # --- extract ------------------------------------------------------------
    def covered(self, ranges) -> set[int]:
        """Nodes whose cell lies in one of the half-open [lo, hi) ranges."""
        out = set()
        for lo, hi in ranges:
            i = bisect.bisect_left(self.cell_keys, lo)
            j = bisect.bisect_left(self.cell_keys, hi)
            out.update(nid for _, nid in self.cells[i:j])
        return out

    def extract(self, seeds: set[int]) -> list[tuple[int, int]]:
        """Extract semantics (reference src/extract.cpp:149-274): seed
        nodes -> their ways -> relations of both -> parent-relation
        closure -> existing member ways of multipolygons -> every node
        of the selected ways. Ordered (type rank, id)."""
        ways = set()
        for n in seeds:
            ways |= self.node_ways.get(n, set())
        rels = set()
        for n in seeds:
            rels |= self.node_rels.get(n, set())
        for w in ways:
            rels |= self.way_rels.get(w, set())
        stack = list(rels)
        while stack:
            for parent in self.rel_parents.get(stack.pop(), ()):
                if parent not in rels:
                    rels.add(parent)
                    stack.append(parent)
        for rid in rels:
            row = self.rels.get(rid)
            if row and row[1].get("type") == "multipolygon":
                ways |= {ref for ref, mtype, _ in row[0]
                         if mtype == "way" and ref in self.ways}
        nodes = set(seeds)
        for w in ways:
            nodes.update(self.ways[w][0])
        return ([(1, i) for i in sorted(nodes)] + [(2, i) for i in sorted(ways)]
                + [(3, i) for i in sorted(rels)])

    def inside(self, bbox: str) -> set[int]:
        return {i for i, (lon, lat, _) in self.loc.items() if _in_bbox(bbox, lon, lat)}

    # --- Dataset.lookup -----------------------------------------------------
    def lookup_ok(self, etype: str, eid: int, rows: list) -> bool:
        if len(rows) != 1 or rows[0]["id"] != eid:
            return False
        r = rows[0]
        if etype == "node":
            lon, lat, ver = self.loc[eid]
            tags = self.nodes[eid][0] if eid in self.nodes else None
            return (r["lon"], r["lat"], r["version"]) == (lon, lat, ver) and (
                r["tags"] == tags)
        if etype == "way":
            refs, tags, meta = self.ways[eid]
            return list(r["nodes"]) == refs and r["tags"] == tags and (
                r["metadata"]["version"] == meta[0])
        members, tags, meta = self.rels[eid]
        return [tuple(m) for m in r["members"]] == list(members) and (
            r["tags"] == tags and r["metadata"]["version"] == meta[0])

    # --- OsmxFile gets ------------------------------------------------------
    @staticmethod
    def _kv(tags: dict) -> list[str]:
        out: list[str] = []
        for k, v in tags.items():
            out.extend((k, v))
        return out

    @staticmethod
    def _meta_ok(got, meta) -> bool:
        version, ts, changeset, uid, user = meta
        return got is not None and (
            got["version"], got["changeset"], got["uid"], got["user"],
            got["timestamp"]) == (version, changeset, uid, user,
                                  calendar.timegm(ts.timetuple()))

    def osmx_ok(self, kind: str, eid: int, got) -> bool:
        if kind == "location":
            return tuple(got) == self.loc[eid]
        if kind == "node_ways":
            return list(got) == sorted(self.node_ways.get(eid, ()))
        if kind == "node":
            if eid not in self.nodes:
                return got is None
            tags, meta = self.nodes[eid]
            return got[0] == self._kv(tags) and self._meta_ok(got[1], meta)
        if kind == "way":
            refs, tags, meta = self.ways[eid]
            return (list(got[0]) == refs and got[1] == self._kv(tags)
                    and self._meta_ok(got[2], meta))
        members, tags, meta = self.rels[eid]
        return ([tuple(m) for m in got[0]] == list(members)
                and got[1] == self._kv(tags) and self._meta_ok(got[2], meta))

    def bbox_ok(self, box: tuple[int, int, int, int], got: list[int]) -> bool:
        """`bbox_node_ids` over-selects by construction: it must hold
        every node inside the box and nothing that is not a node."""
        lon_lo, lat_lo, lon_hi, lat_hi = box
        inside = {i for i, (lon, lat, _) in self.loc.items()
                  if lon_lo <= lon <= lon_hi and lat_lo <= lat <= lat_hi}
        got_set = set(got)
        return inside <= got_set and got_set <= self.loc.keys()


class StoreModel:
    """Python last-wins application of change batches to the snapshot:
    the state `SnapshotStore` must fold to (operators/update.py
    semantics, written out independently)."""

    def __init__(self, rows: dict[str, list]):
        self.loc = {r[0]: (r[1], r[2], r[3]) for r in rows["locations"]}
        self.nodes = {r[0]: r[1] for r in rows["nodes"]}
        self.ways = {r[0]: (list(r[1]), r[2]) for r in rows["ways"]}
        self.rels = {r[0]: (list(r[1]), r[2]) for r in rows["relations"]}

    def apply(self, batch: list[tuple]) -> None:
        winners: dict[tuple[str, int], tuple] = {}
        for row in batch:
            seq, _action, etype, eid = row[0], row[1], row[2], row[3]
            key = (etype, eid)
            rank = (row[10][0] if row[10] else -1, seq)
            prev = winners.get(key)
            if prev is None or rank >= prev[0]:
                winners[key] = (rank, row)
        for (etype, eid), (_, row) in winners.items():
            _, _, _, _, visible, lon, lat, nodes, members, tags, meta = row
            version = meta[0] if meta and meta[0] is not None else 1
            if etype == "node":
                self.loc.pop(eid, None)
                self.nodes.pop(eid, None)
                if visible:
                    self.loc[eid] = (lon, lat, version)
                    if tags:
                        self.nodes[eid] = tags
            elif etype == "way":
                self.ways.pop(eid, None)
                if visible:
                    self.ways[eid] = (list(nodes or []), tags or {})
            else:
                self.rels.pop(eid, None)
                if visible:
                    self.rels[eid] = ([tuple(m) for m in members or []], tags or {})

    def tables(self) -> dict[str, set]:
        """Every store table as a set of hashable rows."""
        def frozen(tags):
            return tuple(sorted((tags or {}).items()))

        out = {
            "locations": {(i, *v) for i, v in self.loc.items()},
            "nodes": {(i, frozen(t)) for i, t in self.nodes.items()},
            "ways": {(i, tuple(r), frozen(t)) for i, (r, t) in self.ways.items()},
            "relations": {(i, tuple(m), frozen(t)) for i, (m, t) in self.rels.items()},
            "node_way": {(n, w) for w, (refs, _) in self.ways.items() for n in refs},
        }
        for name, mtype in (("node_relation", "node"), ("way_relation", "way"),
                            ("relation_relation", "relation")):
            out[name] = {(ref, rid) for rid, (ms, _) in self.rels.items()
                         for ref, t, _ in ms if t == mtype}
        return out


EDGE_COLUMNS = {"node_way": ("node_id", "way_id"), "node_relation": ("node_id", "relation_id"),
                "way_relation": ("way_id", "relation_id"),
                "relation_relation": ("child_id", "relation_id")}


def store_rows(name: str, rows: list) -> set:
    """Collected store rows in `StoreModel.tables` form (by column name:
    compaction may reorder a table's columns)."""
    def frozen(tags):
        return tuple(sorted((tags or {}).items()))

    if name == "locations":
        return {(r["id"], r["lon"], r["lat"], r["version"]) for r in rows}
    if name == "nodes":
        return {(r["id"], frozen(r["tags"])) for r in rows}
    if name == "ways":
        return {(r["id"], tuple(r["nodes"]), frozen(r["tags"])) for r in rows}
    if name == "relations":
        return {(r["id"], tuple(tuple(m) for m in r["members"]), frozen(r["tags"]))
                for r in rows}
    a, b = EDGE_COLUMNS[name]
    return {(r[a], r[b]) for r in rows}
