"""py_sema_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``kg_build`` and ``serve``
(see perfbench/README.md).  Human-readable metric lines go to stdout
first; the last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run is traced and the metrics are the per-layer ones plus the tracing
overhead: traced minus the median untraced result of earlier runs of the
workload in this checkout, or of an untraced phase the run makes first
when there is none.

Every run pins ``PYTHONPATH`` to the checkout, ``SPARK_GRAFT_CPUS`` to
the CPUs this process may use, the driver heap, and Spark's local/temp/warehouse
directories to ``.perfbench_work/`` inside the checkout.  Exits non-zero
without a result line when an output check fails or the program is
missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "p50_ms": "ms",
    "p90_ms": "ms",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "extract.wall_s": "s", "extract.task_run_s": "s", "extract.task_skew": "ratio",
    "extract.pages_in": "count", "extract.yield_ratio": "ratio",
    "clean.wall_s": "s", "clean.shuffle_write_mb": "MB", "clean.spill_mb": "MB",
    "clean.dedup_ratio": "ratio",
    "link.wall_s": "s", "link.task_run_s": "s", "link.shuffle_write_mb": "MB",
    "link.mentions_out": "count",
    "canon.wall_s": "s", "canon.jobs": "count", "canon.clusters": "count",
    "canon.rows_rewritten": "count",
    "materialize.wall_s": "s", "materialize.shuffle_write_mb": "MB",
    "materialize.fetch_wait_s": "s", "materialize.partition_skew": "ratio",
    "pipeline.self_s": "s", "pipeline.jobs": "count", "pipeline.checkpoint_mb": "MB",
    "bgp.compile_ms": "ms", "bgp.exec_ms": "ms", "bgp.jobs_per_query": "count",
    "bgp.scan_rows_per_result": "ratio",
    "templated.render_ms": "ms",
    "shacl.validate_ms": "ms", "shacl.jobs": "count", "shacl.violations": "count",
    "store.insert_ms": "ms", "store.insert_jobs": "count", "store.drop_ms": "ms",
    "store.select_ms": "ms", "store.update_ms": "ms", "store.jobs_per_changed_file": "count",
    "registry.touch_ms": "ms", "registry.touch_jobs": "count", "registry.lookup_ms": "ms",
    "registry.lookups_per_sync": "count",
    "syncfs.parse_ms": "ms", "syncfs.files_changed": "count", "syncfs.files_skipped": "count",
    "syncfs.self_ms": "ms",
    "subyt.render_ms": "ms", "subyt.records": "count",
    "update.apply_ms": "ms",
    "spark.task_failures": "count",
}
LAYER_UNITS.update({f"overhead.{k}": u for k, u in E2E.items()})


def pin_environment() -> None:
    """Identical settings on every commit: the checkout on PYTHONPATH
    (driver AND Python workers), all cores, a fixed driver heap, and
    every scratch directory inside the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    for d in ("spark_local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": ROOT,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark_local"),
            "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # spark-submit's launcher JVM: no perf-data file in /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "py_sema_spark", "__init__.py"))


class Ctx:
    def __init__(self, seed: int, seconds: float):
        self.seed = seed
        self.seconds = seconds
        self.work = WORK
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")


def workload_class(name: str):
    if name == "kg_build":
        from perfbench.kg_build import KgBuild

        return KgBuild
    if name == "serve":
        from perfbench.serve import Serve

        return Serve
    raise SystemExit(f"unknown workload {name!r}")


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it and every process it
    spawned (Spark's Python daemon and workers)."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    spawned = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_phase(wl_cls, ctx: Ctx, traced: bool) -> dict:
    from perfbench.harness import Client, RssMonitor, median, start_session
    from perfbench.tracing import LayerStats, Tracer, read_event_logs

    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    wl = wl_cls(ctx)
    wl.prepare()
    event_dir = os.path.join(ctx.run_dir, "eventlog") if traced else None
    tracer = Tracer(enabled=traced)
    if traced:
        tracer.install()
    rss = RssMonitor().start()
    spark, setups, starts = None, [], []
    tracer.phase = "setup"
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(ctx.work, event_dir)
        tracer.bind(spark)
        starts.append(time.perf_counter() - t0)
        spark.sparkContext.setJobGroup("bench.load", "load inputs")
        wl.load(spark)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark.sparkContext.setJobGroup("bench.warmup", "warm-up")
    wl.warmup(spark)
    warm = time.perf_counter() - t0
    tracer.phase = "measure"
    client = Client(tracer)
    end = time.perf_counter() + ctx.seconds
    wl.measure(spark, client, lambda: time.perf_counter() >= end)
    spark.stop()
    peak_mb = rss.stop()
    # name -> (value, sample count)
    e2e = {"setup_s": (median(setups) + warm, SETUP_REPS), "peak_rss_mb": (peak_mb, 1)}
    e2e.update(wl.end_to_end(client))
    out = {
        "e2e": e2e,
        "named": wl.named(client),
        "client": client,
        "setup_reps": setups,
        "warmup_s": warm,
    }
    if traced:
        tracer.uninstall()
        tracer.finish()
        stats = LayerStats(tracer, read_event_logs(event_dir), "measure")
        layers = {k: 0.0 for k in LAYER_UNITS if not k.startswith("overhead.")}
        layers["session.start_s"] = median(starts)
        layers.update(wl.layers(stats))
        layers["spark.task_failures"] = float(
            sum(g["failed_tasks"] for g in stats.g.values())
        )
        for s in tracer.spans:
            s["jobs"] = stats.own(s, "jobs")
        tracer.dump(os.path.join(ctx.work, f"spans_{wl.name}_{ctx.seed}.jsonl"))
        out["layers"] = layers
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the workload's cached program state")
    args = ap.parse_args(argv)

    if not program_present():
        print(f"py_sema_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    pin_environment()
    wl_cls = workload_class(args.workload)
    ctx = Ctx(args.seed, args.seconds)
    if args.prepare:
        wl_cls.build_cache(ctx)
        stop_jvm()
        return 0
    if hasattr(wl_cls, "build_cache"):
        # program state shared by every seed (built once per checkout by
        # the program under test) is made in a child process, so no
        # measured phase ever starts with a warm JVM
        if not wl_cls.cache_ready(ctx):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seed", str(args.seed), "--prepare"],
                check=True,
            )

    from perfbench.harness import median

    # untraced results of earlier runs in this checkout: the traced run's
    # baseline for the tracing overhead; without one it measures its own
    # untraced phase first (in its own JVM, so both start equally cold)
    results_log = os.path.join(WORK, f"untraced_{args.workload}.jsonl")
    baseline = None
    if args.trace and os.path.exists(results_log):
        with open(results_log) as fh:
            earlier = [json.loads(line) for line in fh]
        baseline = {k: median([e[k] for e in earlier]) for k in E2E}
    phases = []
    if baseline is None:
        phases.append(run_phase(wl_cls, ctx, False))
        stop_jvm()
    if args.trace:
        phases.append(run_phase(wl_cls, ctx, True))
        stop_jvm()
    shutil.rmtree(ctx.run_dir, ignore_errors=True)

    clients = [p["client"] for p in phases]
    attempted = sum(c.attempted for c in clients)
    failed = sum(c.failed for c in clients)
    problems = [m for c in clients for m in c.check_failures]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']}")
    labels = ["traced"] if baseline is not None else ["untraced", "traced"]
    for label, p in zip(labels, phases):
        c = p["client"]
        print(f"# [{label}] setup reps (s): "
              + ", ".join(f"{x:.3f}" for x in p["setup_reps"])
              + f"; warm-up {p['warmup_s']:.3f} s")
        for name, unit in E2E.items():
            value, n = p["e2e"][name]
            print(f"{label:>8}  {name:<24} {value:>14.4f} {unit:<10} n={n}")
        for name, value, unit, n in p["named"]:
            print(f"{label:>8}  {name:<24} {value:>14.4f} {unit:<10} n={n}")
        for kind, ms in sorted(c.samples.items()):
            print(f"# [{label}] op {kind:<10} n={len(ms):<3} median={median(ms):10.1f} ms "
                  f"min={min(ms):10.1f} max={max(ms):10.1f}")
        ops = ", ".join(f"{k}={len(v)}" for k, v in sorted(c.samples.items()))
        print(f"{label:>8}  {'fail_ratio':<24} {c.failed / max(1, c.attempted):>14.4f} "
              f"{'failed/op':<10} n={c.attempted} ({ops})")
    if problems:
        for m in problems:
            print(f"CHECK FAILED: {m}", file=sys.stderr)
        return 1
    if baseline is None:
        baseline = {k: phases[0]["e2e"][k][0] for k in E2E}
    if args.trace:
        traced = phases[-1]
        metrics = dict(traced["layers"])
        for k in E2E:
            metrics[f"overhead.{k}"] = traced["e2e"][k][0] - baseline[k]
        for k in LAYER_UNITS:
            print(f"   layer  {k.split('.')[0]:<10} {k:<30} {metrics[k]:>14.4f} "
                  f"{LAYER_UNITS[k]}")
        result = {k: {"value": metrics[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
    else:
        with open(results_log, "a") as fh:
            fh.write(json.dumps(baseline) + "\n")
        result = {k: {"value": baseline[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
