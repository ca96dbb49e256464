"""Benchmark of the quant_feature_pipeline_spark engine.

    python3 perfbench/run.py --workload flagship_train --seed 1 --seconds 12 --trace 0

Runs one workload (see perfbench/README.md) on ``local[nproc]`` in this
process, from the checkout that holds this directory. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the traced pass and
prints the per-layer metrics. The metric names and units come from
BENCHMARK.json. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "quant_feature_pipeline_spark"
SETUP_REPEATS = 3
# the package default (16g) exceeds the memory of a 15 GB machine
DRIVER_MEMORY = "1g"
JVM_EXIT_GRACE_S = 0.5
T_START = time.perf_counter()

COMPUTE_LAYERS = ("partition", "resample", "window", "recurrence", "asof", "features", "rank")
SPARK_METRICS = ("task_s", "offcpu_s", "shuffle_mb", "spill_mb", "tasks", "failed_tasks")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the checkout's package."""
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher too): temp files in work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData") if o
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    sys.path.insert(0, str(ROOT))


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def _layer_metrics(tr, events: dict, wl, untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics named ``<layer>.<metric>`` from the spans and the
    event log; a layer the workload never runs reports 0."""
    setup, lazy, staged = (tr.self_times(p) for p in ("setup", "lazy", "staged"))
    rows = tr.rows("staged")

    def ev(group: str, key: str) -> float:
        return float(events.get(group, {}).get(key, 0.0))

    def span(name: str, pass_name: str = "staged"):
        return [s for s in tr.spans if s["pass"] == pass_name and s["name"].endswith(name)]

    m: dict[str, float] = {
        "session.wall_s": setup.get("session", 0.0),
        "sources.wall_s": setup.get("sources", 0.0),
        "sources.rows_out": float(tr.rows("setup").get("sources", 0)),
        "plans.build_s": lazy.get("plans", 0.0),
        "trace.residual_s": tr.root_time("staged") - untraced_wall,
    }
    for k in ("task_s", "shuffle_mb", "tasks"):
        m[f"sources.{k}"] = ev("setup:sources", k)
    for k in ("exchanges", "jobs", "stages"):
        m[f"plans.{k}"] = ev("e2e", k)
    for layer in COMPUTE_LAYERS:
        m[f"{layer}.wall_s"] = staged.get(layer, 0.0)
        m[f"{layer}.build_s"] = lazy.get(layer, 0.0)
        m[f"{layer}.rows_out"] = float(rows.get(layer, 0))
        for k in SPARK_METRICS:
            m[f"{layer}.{k}"] = ev(f"staged:{layer}", k)
    for layer in ("recurrence", "rank"):
        for k in ("py_in_mb", "py_out_mb"):
            m[f"{layer}.{k}"] = ev(f"staged:{layer}", k)
    # train-mode self time is plan build + the global-stats jobs
    m["stats.wall_s"] = staged["stats"] - lazy.get("plans", 0.0) if "stats" in staged else 0.0
    for k in SPARK_METRICS:
        m[f"stats.{k}"] = ev("staged:stats", k)
    m["checkpoint.wall_s"] = staged.get("checkpoint", 0.0)
    for k in SPARK_METRICS:
        m[f"checkpoint.{k}"] = ev("staged:checkpoint", k)
    for key, name in (("resume_s", ".resume_plan"), ("merge_s", ".merge_increment"),
                      ("write_s", ".write")):
        m[f"checkpoint.{key}"] = sum(s["end"] - s["start"] for s in span(name))
    published = sum(s["rows"] for s in span(".merge_increment"))
    pipeline_rows = sum(s["rows"] for s in span(".feature_table"))
    new = getattr(wl, "new_rows", 0)
    m["checkpoint.rows_out"] = float(published)
    m["checkpoint.rewrite_amp"] = published / new if published and new else 0.0
    m["checkpoint.recompute_amp"] = pipeline_rows / new if published and new else 0.0
    return m


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker have ended."""
    from procmem import process_tree
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    _, workers = process_tree()
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=JVM_EXIT_GRACE_S)
    except subprocess.TimeoutExpired:
        # a JVM exit waits up to 10 s for C2 compiler threads busy with
        # Spark's generated code; the session is stopped, nothing is left
        # to flush, and the run deletes its scratch files itself
        proc.kill()
        proc.wait(timeout=60)
    deadline = time.perf_counter() + 60
    while any(os.path.exists(f"/proc/{p}") for p in workers):
        if time.perf_counter() > deadline:
            raise RuntimeError(f"Python workers still running: {workers}")
        time.sleep(0.05)


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _print_table(title: str, metrics: dict, units: dict) -> None:
    print(f"== {title}")
    for name, value in metrics.items():
        # metrics outside BENCHMARK.json (checkpoint.*) take their unit
        # from the name's suffix
        unit = units.get(name) or {"s": "s", "mb": "MB", "amp": "ratio"}.get(
            name.rsplit("_", 1)[-1], "count")
        print(f"  {name:<28} {value:>14.4f} {unit}")


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"no {PKG} package beside {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = HERE / "_work"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        return _run(args, spec, work)
    finally:
        for p in work.iterdir():  # keep only a traced run's span file
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            elif not p.name.startswith("spans-"):
                p.unlink()


def _run(args, spec: dict, work: Path) -> int:
    from procmem import PeakRss
    from tracing import Tracer, read_event_log

    from quant_feature_pipeline_spark import session
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    tr = Tracer()
    if trace:
        tr.install()
        tr.mode = "lazy"
    mem = PeakRss().start()
    oracle = WORKLOADS[args.workload].start_oracle(str(work), args.seed)

    # set up SETUP_REPEATS times, each in a new session (the first one
    # also launches the JVM), and keep the last; the event log, when
    # tracing, covers only the last session
    spark, setups = None, []
    cold, warm, failed, attempted = None, [], 0, 0
    try:
        for i in range(SETUP_REPEATS):
            last = i == SETUP_REPEATS - 1
            tr.pass_name = "setup" if last else f"setup{i}"
            if spark is not None:
                tr.sc = None
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(cpus=cpus, extra_conf=_spark_conf(work, trace and last))
            tr.sc = spark.sparkContext
            wl = WORKLOADS[args.workload](spark, str(work), args.seed, tr)
            wl.make_input()
            setups.append(time.perf_counter() - t0)
        once_s = wl.extra_setup()
        setup_s = statistics.median(setups) + once_s
        tr.mode = "off"
        _log(f"setup {setup_s:.2f}s (sessions + inputs {setups}, once {once_s:.2f}s)")

        def rep():
            nonlocal failed, attempted
            attempted += 1
            try:
                t = wl.rep()
            except Exception:  # a failed rep is counted, the run goes on
                failed += 1
                traceback.print_exc()
                return None
            _log(f"rep {attempted} wall {t['wall']:.2f}s cpu {t['cpu']:.2f}s")
            return t

        def warm_rep() -> None:
            t = rep()
            if t is not None:
                warm.append(t)

        # the first call in the fresh session, unless set-up made it
        cold = wl.cold or rep()
        if trace:
            tr.tag = "e2e"  # untraced rep: its wall is the residual's base
            warm_rep()
            tr.tag = None
            tr.pass_name, tr.mode = "lazy", "lazy"
            spark.catalog.clearCache()
            wl.lazy_call()
            tr.pass_name, tr.mode = "staged", "staged"
            spark.catalog.clearCache()
            attempted += 1
            try:
                wl.rep()
            except CheckFailed:
                failed += 1
                traceback.print_exc()
            tr.mode = "off"
        else:
            # warm reps until --seconds have passed; at least wl.MIN_REPS
            t_end = time.perf_counter() + args.seconds
            n = 0
            while n < wl.MIN_REPS or time.perf_counter() < t_end:
                warm_rep()
                n += 1
        if oracle is not None:
            oracle.wait()  # ended before the last memory sample
        peak_mb = mem.stop()
        _log(f"reps done; peak RSS MB (driver, JVM, ..., workers) {mem.parts_mb}")

        correct = failed == 0
        try:
            wl.final_check(oracle)
        except Exception:  # the independent result disagrees: every rep's output is wrong
            traceback.print_exc()
            correct, failed = False, attempted
        _log("final check done")
    finally:
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
            oracle.wait()
        if spark is not None:
            _stop(spark)
            _log("session stopped")

    if cold is None or not warm:
        print("too few successful reps to report", file=sys.stderr)
        return 1
    wall = statistics.median(r["wall"] for r in warm)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": wl.input_rows / wall,
        "cold_wall_s": cold["wall"],
        "cpu_s": statistics.median(r["cpu"] for r in warm),
        "cold_cpu_s": cold["cpu"],
        "peak_rss_mb": peak_mb,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    _print_table(
        f"{args.workload} seed={args.seed} local[{cpus}] "
        f"warm reps={len(warm)} error_rate={failed / attempted:.4f}",
        e2e, units,
    )
    if trace:
        tr.dump(str(work / f"spans-{args.workload}-{args.seed}.json"))
        layers = _layer_metrics(tr, read_event_log(str(work / "eventlog")), wl, wall)
        shown = {k: v for k, v in layers.items() if v}
        absent = sorted({k.split(".")[0] for k in layers} - {k.split(".")[0] for k in shown})
        _print_table(f"{args.workload} layers; absent: {', '.join(absent) or 'none'}",
                     shown, units)
        chosen = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
