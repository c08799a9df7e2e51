"""Spans and counters for the traced run, recorded from the benchmark's
side of each layer boundary.

``Tracer.install`` wraps public entry points of the program for the
duration of the traced run (and ``uninstall`` puts the originals back):

- ``sparql.parser.parse_sparql``            -> span ``parser``
- ``Engine.sparql``                         -> span ``planner`` (+ jobs, py4j calls)
- ``Dictionary.lookup_terms``               -> span ``dictionary.lookup``
- ``Engine.update``                         -> span ``update`` (+ plan node counts)
- ``DataFrame.collect`` outside the above   -> span ``exec.action`` (+ jobs,
  stages and a walk of the executed plan)

Spans are kept in memory as (name, start, end, parent, request id) and
written out by ``dump``. Nothing here changes what the program computes.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

# spans under which a collect is part of building or writing, not the
# request's result action
_INNER = ("planner", "update", "vacuum", "ingest.load", "ingest.save",
          "compact.save", "dictionary.lookup")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.request_id: int | None = None
        self.request_span: int | None = None
        self.py4j_calls = 0
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        self._local = threading.local()
        self._undo: list = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open_names(self) -> list[str]:
        return [s["name"] for s in self._stack()]

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self.request_span
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "request": self.request_id, "start": time.perf_counter(),
               **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    @contextmanager
    def request(self, rid: int, kind: str):
        """Root span of one client request; server-side spans (another
        thread) take it as their parent."""
        self.request_id = rid
        with self.span("request", kind=kind) as rec:
            self.request_span = rec["id"]
            try:
                yield rec
            finally:
                self.request_span = None
                self.request_id = None

    @contextmanager
    def job_group(self, rec: dict):
        """Tag the Spark jobs run inside the block; record how many jobs
        and executed stages they took."""
        gid = f"perfbench-{next(self._groups)}"
        old = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", old)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    stages += bool(st and st.numCompletedTasks)
            rec["jobs"], rec["stages"] = len(jobs), stages

    # -- wrappers --------------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from rdfproject_msc_spark.dictionary import Dictionary
        from rdfproject_msc_spark.engine import Engine
        from rdfproject_msc_spark.sparql import parser

        tr = self
        client = self.sc._gateway._gateway_client

        def counting(orig):
            def send_command(*a, **k):
                tr.py4j_calls += 1
                return orig(*a, **k)
            return send_command

        self._patch(client, "send_command", counting)

        def parse(orig):
            def parse_sparql(*a, **k):
                with tr.span("parser"):
                    return orig(*a, **k)
            return parse_sparql

        self._patch(parser, "parse_sparql", parse)

        def sparql(orig):
            def wrapped(engine, *a, **k):
                with tr.span("planner") as rec, tr.job_group(rec):
                    calls = tr.py4j_calls
                    try:
                        return orig(engine, *a, **k)
                    finally:
                        rec["py4j_calls"] = tr.py4j_calls - calls
            return wrapped

        self._patch(Engine, "sparql", sparql)

        def lookup(orig):
            def wrapped(d, terms, *a, **k):
                with tr.span("dictionary.lookup", terms=len(terms)):
                    return orig(d, terms, *a, **k)
            return wrapped

        self._patch(Dictionary, "lookup_terms", lookup)

        def update(orig):
            def wrapped(engine, *a, **k):
                with tr.span("update") as rec, tr.job_group(rec):
                    out = orig(engine, *a, **k)
                rec["store_plan_nodes"] = plan_nodes(engine.store.df)
                rec["dict_plan_nodes"] = plan_nodes(engine.dictionary.df)
                return out
            return wrapped

        self._patch(Engine, "update", update)

        df_cls = type(self.spark.range(1))

        def collect(orig):
            def wrapped(df, *a, **k):
                if any(n in _INNER for n in tr.open_names()):
                    return orig(df, *a, **k)
                with tr.span("exec.action") as rec, tr.job_group(rec):
                    rows = orig(df, *a, **k)
                rec["rows_returned"] = len(rows)
                rec.update(plan_stats(df))
                return rows
            return wrapped

        self._patch(df_cls, "collect", collect)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- output ----------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + uncovered(
                s, children.get(s["id"], []))
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "self_time_s": self.self_times(),
                       "spans": spans}, f, indent=1)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def uncovered(span: dict, kids: list[dict]) -> float:
    """The part of ``span``'s duration that none of ``kids`` covers."""
    covered, last = 0.0, span["start"]
    for c in sorted(kids, key=lambda c: c["start"]):
        lo, hi = max(c["start"], last), min(c["end"], span["end"])
        if hi > lo:
            covered, last = covered + hi - lo, hi
    return span["end"] - span["start"] - covered


def plan_nodes(df) -> int:
    """Logical-plan node count of a DataFrame: its lineage depth grows
    with every copy-on-write update that is not compacted."""
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_stats(df) -> dict:
    """Walk the executed plan with the descent rules of
    tools/plan_walk.py (into AQE final plans and query stages, not into
    cached relations or reused exchanges) and count exchanges, join
    strategies, shuffle bytes written and rows read by scans."""
    acc = {"exchanges": 0, "bhj": 0, "smj": 0, "shuffle_bytes": 0,
           "rows_scanned": 0}

    def walk(node):
        name = node.getClass().getSimpleName().replace("Exec", "")
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        if name == "ReusedExchange":
            return None
        if name in ("ShuffleExchange", "BroadcastExchange"):
            acc["exchanges"] += 1
        if name == "ShuffleExchange":
            acc["shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
        if name == "BroadcastHashJoin":
            acc["bhj"] += 1
        if name == "SortMergeJoin":
            acc["smj"] += 1
        if name in ("FileSourceScan", "InMemoryTableScan", "LocalTableScan",
                    "RDDScan", "ExistingRDDScan"):
            acc["rows_scanned"] += _metric(node, "numOutputRows")
            if name == "InMemoryTableScan":
                return None
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())
        sq = node.subqueries().iterator()
        while sq.hasNext():
            walk(sq.next())
        return None

    walk(df._jdf.queryExecution().executedPlan())
    return acc


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default
