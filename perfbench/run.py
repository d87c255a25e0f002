"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (perfbench/workloads.py): ``dedup_graph``, ``store_upsert``.
A run launches, sets the workload up cold several times, runs three
warm-up passes over its fixed operation list, then runs warm passes for
``S`` seconds. It checks every operation's output outside the timed
region and prints, as its last stdout line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``cpu_s``, ``peak_rss_mb``); with ``--trace 1`` the run
records spans around every layer and the metrics are the per-layer
ones. The line before it is an ungated report: load sentinel, core
count, sample counts, failed-operation share, write and space
amplification. The full report, spans included, is written under
``perfbench/results/``. See perfbench/README.md for the design.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# import from the repository root, not this script's directory, so that
# ``tests`` names the repository's tests package
sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, REPO)]

from perfbench.harness import Harness, nproc, pass_figures  # noqa: E402
from perfbench.tracing import layer_metrics, median_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RESULTS_DIR = os.path.join(HERE, "results")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    try:
        h.isolate()
        wl = WORKLOADS[args.workload](args.seed)
        if h.tracer is not None:
            h.tracer.install()
        setup = h.setup(wl)
        t_setup = time.perf_counter()
        passes = h.measure(wl)
        t_measure = time.perf_counter()
        probe_s = h.probe()
        peak = h.peak_rss_mb()
        h.shutdown()
        if h.tracer is not None:
            h.tracer.join_event_log(h.event_dir)
        setup["phases_s"] = {
            "setup": t_setup - T_START,
            "warmup": sum(p["wall"] for p in h.warmups),
            "measure": t_measure - t_setup,
            "checks": h.check_s,
            "probe_and_shutdown": time.perf_counter() - t_measure,
        }
        return assemble(args, h, setup, passes, probe_s, peak)
    finally:
        h.shutdown()
        h.cleanup()


def assemble(args, h, setup, passes, probe_s, peak) -> tuple[dict, dict]:
    figs = pass_figures(passes)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "sentinel_probe_s": probe_s,
        "launch_s": setup["launch_s"],
        "setup_walls": setup["setup_walls"],
        "session_start_s": setup["session_start_s"],
        "phases_s": setup["phases_s"],
        "warmup_passes": h.warmups,
        "passes": passes,
        "pass_timing": figs["pass_timing"],
        "op_timing": h.op_summary(),
        "attempted": h.attempted,
        "failed": h.failed,
        "failed_op_share": h.failed / h.attempted,
        "failures": h.failures,
        "rss_split": h.rss_split,
    }
    for k in ("store.write_amp", "store.space_amp"):
        if k in passes[0]:
            report[k.split(".", 1)[1]] = statistics.median(p[k] for p in passes)
    if h.tracer is None:
        metrics = {
            "setup_s": (statistics.median(setup["setup_walls"]), "s"),
            "pass_s": (figs["pass_s"], "s"),
            "cpu_s": (figs["cpu_s"], "s"),
            "peak_rss_mb": (peak, "MB"),
        }
    else:
        metrics = layer_metrics_of(h, setup, passes)
        report["spans"] = h.tracer.spans
    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


# unit of each per-layer metric
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.calls": "count", "catalog.s": "s", "catalog.jobs": "count",
    "queries.build_s": "s", "queries.build_self_s": "s", "queries.build_jobs": "count",
    "action.s": "s", "action.jobs": "count", "action.stages": "count", "action.tasks": "count",
    "action.executor_cpu_s": "s", "action.shuffle_write_bytes": "bytes", "action.spill_bytes": "bytes",
    "ext.dedup.cc_calls": "count", "ext.dedup.cc_s": "s", "ext.dedup.cc_jobs": "count",
    "ext.dedup.artifact_s": "s", "ext.dedup.artifact_jobs": "count",
    "ext.dedup.artifact_rebuild_ratio": "ratio", "ext.dedup.artifact_setup_s": "s",
    "store.upsert_s": "s", "store.upsert_jobs": "count", "store.read_s": "s",
    "store.bytes_written": "bytes", "store.files_written": "count",
    "store.write_amp": "ratio", "store.space_amp": "ratio",
    "fsops.swaps": "count", "fsops.swap_s": "s",
    "jvm.gc_s": "s", "jvm.heap_used_mb": "MB",
    "trace.pass_s": "s",
}


def layer_metrics_of(h, setup, passes) -> dict:
    spans = h.tracer.spans
    per_pass = []
    for p in passes:
        row = layer_metrics([s for s in spans if s["pass"] == p["pass"]])
        for k in ("store.bytes_written", "store.files_written", "store.write_amp", "store.space_amp"):
            row[k] = p.get(k, 0)
        row["jvm.gc_s"] = p["jvm.gc_s"]
        row["jvm.heap_used_mb"] = p["jvm.heap_used_mb"]
        row["trace.pass_s"] = p["wall"]
        per_pass.append(row)
    out = median_metrics(per_pass)
    out["session.start_s"] = setup["session_start_s"][0]
    out["ext.dedup.artifact_setup_s"] = statistics.median(
        layer_metrics([s for s in spans if s["pass"] == f"setup{r}"])["ext.dedup.artifact_s"]
        for r in range(1, len(setup["setup_walls"]) + 1)
    )
    return {k: (out[k], LAYER_UNITS[k]) for k in LAYER_UNITS}


def main(argv=None) -> int:
    args = parse_args(argv)
    report, result = run(args)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    path = os.path.join(
        RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    summary = {k: v for k, v in report.items() if k not in ("spans", "passes")}
    print(json.dumps({"report": summary, "report_path": os.path.relpath(path, REPO)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
