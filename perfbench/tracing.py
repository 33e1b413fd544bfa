"""Benchmark-side tracing for the traced run.

Spans are recorded around calls into the program's public functions by
wrapping them from the benchmark process (module attributes and class
methods are replaced for the lifetime of the traced phase; the program
files are untouched).  Each span runs its Spark jobs in its own job
group, so the plain-JSON event log attributes every job, task run
time, shuffle byte, spill and fetch wait to the innermost span.

Spans stay in memory with parent links; :meth:`Tracer.dump` writes
them (with self time) when the benchmark ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.phase: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._paused = 0
        self._sc = None
        self._restore: list[tuple] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    # ---- spans ----

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; unless ``group`` names the caller's own job
        group, the span's Spark jobs run in a job group of its own."""
        if not self.enabled or self._paused:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent,
            "name": name,
            "group": group or f"span{sid}.{name}",
            "t0": time.perf_counter(),
            "t1": None,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self._sc
        if sc is not None and group is None:
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and group is None:
                if self._stack:
                    top = self.spans[self._stack[-1]]
                    sc.setJobGroup(top["group"], top["name"])
                else:
                    sc.setJobGroup("bench", "benchmark")

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # ---- wrapping the program's public functions ----

    def _wrap(self, owner, attr: str, span_name) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span;
        ``span_name`` is a string or a function of the call's args."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, property):
            fget = orig.fget

            @functools.wraps(fget)
            def getter(obj):
                with self.span(span_name):
                    return fget(obj)

            setattr(owner, attr, property(getter))
        else:

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                name = span_name(*args, **kwargs) if callable(span_name) else span_name
                with self.span(name):
                    return orig(*args, **kwargs)

            setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from py_sema_spark import model, pipeline, shacl, store, syncfs
        from py_sema_spark.queries import bgp, templated, update
        from py_sema_spark.subyt import engine, sinks

        stage_layer = {
            "01_extract": "extract",
            "02_clean_skolemize": "clean",
            "03_mention_link": "link",
            "04_canonicalize": "canon",
            "05_materialize": "materialize",
        }
        w = self._wrap
        w(pipeline.Pipeline, "run", "pipeline.run")
        w(
            pipeline.Pipeline,
            "stage",
            lambda self_, name, *a, **k: f"{stage_layer.get(name, 'pipeline')}.stage",
        )
        w(bgp, "sparql_query", "bgp.compile")
        w(templated.SparqlBuilder, "build_from_string", "templated.render")
        w(shacl, "validate", "shacl.validate")
        w(update, "apply_update", "update.apply")
        ps = store.ParquetTripleStore
        w(ps, "insert_for_key", "store.insert")
        w(ps, "drop_graph_for_key", "store.drop")
        w(ps, "select", "store.select")
        w(ps, "update", "store.update")
        w(ps, "keys", "store.keys")
        w(ps, "verify_max_age_of_key", "store.verify_age")
        gr = model.GraphRegistry
        w(gr, "touch", "registry.touch")
        w(gr, "lastmod_ts", "registry.lookup")
        w(gr, "named_graphs", "registry.lookup")
        w(gr, "drop", "registry.drop")
        w(syncfs, "load_graph_file", "syncfs.parse")
        w(syncfs, "perform_sync", "syncfs.sync")
        w(engine.SparkSubyt, "process", "subyt.render")
        w(sinks.PatternedSink, "write", "subyt.render")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ---- analysis ----

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        return kids

    def finish(self) -> None:
        """Fill each span's duration and self time (its duration minus
        the time its direct children cover)."""
        kids = self.children()
        for s in self.spans:
            s["dur_s"] = s["t1"] - s["t0"]
        for s in self.spans:
            s["self_s"] = s["dur_s"] - sum(self.spans[c]["dur_s"] for c in kids.get(s["id"], ()))

    def subtree(self, sid: int) -> list[int]:
        kids, out, todo = self.children(), [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x, ()))
        return out

    def dump(self, path: str) -> None:
        keep = ("id", "parent", "name", "group", "dur_s", "self_s", "jobs", "phase")
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in keep if k in s}) + "\n")


def read_event_logs(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, failed tasks, executor run time, shuffle
    write and spill bytes, fetch wait, input records and the run-time
    skew (max/mean) of its largest stage."""
    groups: dict[str, dict] = {}
    stage_group: dict[tuple, str] = {}
    stage_tasks: dict[tuple, list[float]] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if path.endswith(".inprogress"):
            continue
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    agg = groups.setdefault(g, _empty())
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(app, sid)] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((app, ev["Stage ID"]), "none")
                    agg = groups.setdefault(g, _empty())
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    if info.get("Failed") or info.get("Killed"):
                        agg["failed_tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    agg["run_ms"] += run
                    stage_tasks.setdefault((app, ev["Stage ID"]), []).append(run)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    agg["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    agg["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    agg["input_records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    for key, runs in stage_tasks.items():
        g = groups.get(stage_group.get(key, "none"))
        if g is None or not runs:
            continue
        total = sum(runs)
        if total > g["_top_stage_ms"]:
            g["_top_stage_ms"] = total
            mean = total / len(runs)
            g["skew"] = max(runs) / mean if mean > 0 else 1.0
    return groups


def _empty() -> dict:
    return {
        "jobs": 0,
        "failed_tasks": 0,
        "run_ms": 0,
        "shuffle_write_b": 0,
        "fetch_wait_ms": 0,
        "spill_b": 0,
        "input_records": 0,
        "skew": 0.0,
        "_top_stage_ms": -1,
    }


class LayerStats:
    """Joins spans with the event-log groups: inclusive (span plus its
    descendants) Spark counters per span.  ``named`` only returns spans
    of the given phase (the measured operations, not set-up)."""

    def __init__(self, tracer: Tracer, groups: dict[str, dict], phase: str):
        self.t = tracer
        self.g = groups
        self.phase = phase

    def named(self, name: str) -> list[dict]:
        return [s for s in self.t.spans if s["name"] == name and s["phase"] == self.phase]

    def parent_name(self, span: dict) -> str:
        p = span["parent"]
        return "" if p is None else self.t.spans[p]["name"]

    def incl(self, span: dict, key: str) -> float:
        return sum(
            self.g.get(self.t.spans[i]["group"], {}).get(key, 0) for i in self.t.subtree(span["id"])
        )

    def own(self, span: dict, key: str) -> float:
        return self.g.get(span["group"], {}).get(key, 0)
