"""Spans around the engine's layers, measured from outside the package.

The traced run patches the public entry points of each layer (see
:data:`FUNCTION_LAYERS` and :data:`METHOD_LAYERS`) with wrappers that
record a span — name, layer, start, end, parent span, workload, pass —
and tag every Spark job the call launches with its own job group
(``SparkContext.setJobGroup``). After each pass the tracer reads job,
stage and task counts per group from ``statusTracker()``; after the
run it joins executor CPU, shuffle and spill bytes per group from
Spark's event log. Nothing under ``dvmax_spark/`` is edited: a
function is replaced on every ``dvmax_spark`` module that binds it,
and a method on its class.

Spans are kept in memory and written with the run's report.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time

from perfbench.metrics import self_time

# (module, function) -> layer. Each function is replaced wherever a
# dvmax_spark module binds it, so ``from x import f`` call sites are
# traced too.
FUNCTION_LAYERS = {
    ("dvmax_spark.catalog", "load_table"): "catalog",
    ("dvmax_spark.catalog", "load_tables"): "catalog",
    ("dvmax_spark.catalog", "register_views"): "catalog",
    ("dvmax_spark.ext.dedup", "connected_components_twophase"): "ext.dedup.cc",
    ("dvmax_spark.ext.dedup", "dedup_clusters"): "ext.dedup.cc",
    ("dvmax_spark.ext.dedup", "incremental_components"): "ext.dedup.cc",
    ("dvmax_spark.fsops", "swap_dir"): "fsops",
    ("dvmax_spark.fsops", "recover_swap"): "fsops",
}

# (module, class, method) -> layer.
METHOD_LAYERS = {
    ("dvmax_spark.ext.dedup", "NearDupGraph", "ensure"): "ext.dedup.artifact",
    ("dvmax_spark.ext.dedup", "ComponentLabelStore", "ensure"): "ext.dedup.artifact",
    ("dvmax_spark.store", "FeatureStore", "upsert"): "store",
    ("dvmax_spark.store", "FeatureStore", "read"): "store",
}


class Tracer:
    """In-memory span recorder with one Spark job group per span."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.pass_id = "setup"
        self.sc = None
        # spans are recorded only while active: inside set-up and timed
        # operations, never during the untimed output checks
        self.active = False

    # ------------------------------------------------------------ spans
    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        s = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "workload": self.workload,
            "pass": self.pass_id,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    def wrap(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args)
                return out

        return wrapper

    # --------------------------------------------------------- patching
    def install(self) -> None:
        """Replace every traced entry point (call after the engine's
        modules, including the registry's query modules, are imported)."""
        import importlib

        for (modname, fname), layer in FUNCTION_LAYERS.items():
            orig = getattr(importlib.import_module(modname), fname)
            wrapper = self.wrap(orig, fname, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("dvmax_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)
        for (modname, cls, meth), layer in METHOD_LAYERS.items():
            klass = getattr(importlib.import_module(modname), cls)
            after = _record_rebuild if meth == "ensure" else None
            setattr(klass, meth, self.wrap(getattr(klass, meth), f"{cls}.{meth}", layer, after))

    # ----------------------------------------------------------- counts
    def collect_counts(self, spark) -> None:
        """Read job/stage/task counts of this pass's spans from the
        status tracker, once Spark's listener bus has caught up."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for s in self.spans:
            if s["pass"] != self.pass_id or "jobs" in s:
                continue
            jobs = list(tracker.getJobIdsForGroup(s["group"]))
            s["jobs"] = len(jobs)
            if s["layer"] == "action":
                stages = tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for sid in info.stageIds if info else ():
                        st = tracker.getStageInfo(sid)
                        if st is not None and st.numCompletedTasks > 0:
                            stages += 1
                            tasks += st.numCompletedTasks
                s["stages"], s["tasks"] = stages, tasks

    def join_event_log(self, log_dir: str) -> None:
        """Add executor CPU, shuffle-write and spill bytes per span
        (own job group only) from the event logs under ``log_dir``."""
        stage_group: dict[tuple[str, int], str] = {}
        per_group: dict[str, list[float]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
            if not os.path.isfile(path):
                continue
            app = os.path.basename(path)
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            for sid in ev.get("Stage IDs", ()):
                                stage_group.setdefault((app, sid), group)
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get((app, ev.get("Stage ID")))
                        tm = ev.get("Task Metrics")
                        if group is None or not tm:
                            continue
                        acc = per_group.setdefault(group, [0.0, 0.0, 0.0])
                        acc[0] += tm.get("Executor CPU Time", 0) / 1e9
                        acc[1] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        acc[2] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0
                        )
        for s in self.spans:
            cpu, shuffle, spill = per_group.get(s["group"], (0.0, 0.0, 0.0))
            s["executor_cpu_s"], s["shuffle_write_bytes"], s["spill_bytes"] = cpu, shuffle, spill


def _record_rebuild(span: dict, args: tuple) -> None:
    span["rebuilt"] = bool(getattr(args[0], "last_ensure_built", False))


# ------------------------------------------------------------ metrics
def _tree(spans: list[dict]):
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    return by_id, children


def _inclusive(s: dict, children: dict, key: str) -> float:
    return s.get(key, 0) + sum(_inclusive(c, children, key) for c in children.get(s["id"], ()))


def _outermost(spans: list[dict], by_id: dict, layer: str, name: str | None = None) -> list[dict]:
    """Spans of ``layer`` (and ``name``) with no ancestor of that layer."""
    out = []
    for s in spans:
        if s["layer"] != layer or (name is not None and s["name"] != name):
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["layer"] != layer:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one pass's spans."""
    by_id, children = _tree(spans)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def incl(ss, key):
        return sum(_inclusive(s, children, key) for s in ss)

    catalog = _outermost(spans, by_id, "catalog")
    build = _outermost(spans, by_id, "queries")
    action = _outermost(spans, by_id, "action")
    cc = _outermost(spans, by_id, "ext.dedup.cc")
    art = _outermost(spans, by_id, "ext.dedup.artifact")
    upsert = _outermost(spans, by_id, "store", "FeatureStore.upsert")
    read = _outermost(spans, by_id, "store", "FeatureStore.read")
    fsops = _outermost(spans, by_id, "fsops")
    return {
        "catalog.calls": len(catalog),
        "catalog.s": dur(catalog),
        "catalog.jobs": incl(catalog, "jobs"),
        "queries.build_s": dur(build),
        "queries.build_self_s": sum(
            self_time(s["start"], s["end"], [(c["start"], c["end"]) for c in children.get(s["id"], ())])
            for s in build
        ),
        "queries.build_jobs": incl(build, "jobs"),
        "action.s": dur(action),
        "action.jobs": incl(action, "jobs"),
        "action.stages": incl(action, "stages"),
        "action.tasks": incl(action, "tasks"),
        "action.executor_cpu_s": incl(action, "executor_cpu_s"),
        "action.shuffle_write_bytes": incl(action, "shuffle_write_bytes"),
        "action.spill_bytes": incl(action, "spill_bytes"),
        "ext.dedup.cc_calls": len(cc),
        "ext.dedup.cc_s": dur(cc),
        "ext.dedup.cc_jobs": incl(cc, "jobs"),
        "ext.dedup.artifact_s": dur(art),
        "ext.dedup.artifact_jobs": incl(art, "jobs"),
        "ext.dedup.artifact_rebuild_ratio": (
            sum(1 for s in art if s.get("rebuilt")) / len(art) if art else 0.0
        ),
        "store.upsert_s": dur(upsert),
        "store.upsert_jobs": incl(upsert, "jobs"),
        "store.read_s": dur(read),
        "fsops.swaps": sum(1 for s in fsops if s["name"] == "swap_dir"),
        "fsops.swap_s": dur(fsops),
    }


def median_metrics(rows: list[dict]) -> dict[str, float]:
    """Key-wise median over passes."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
