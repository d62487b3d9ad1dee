"""Benchmark of the news ETL engine.

    python3 perfbench/run.py --workload news_etl --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (closed loop, one client, each in
a fresh process):

  news_etl        clean -> enrich -> load through ``cli.main`` on a seeded
                  synthetic corpus, fake model at zero latency
  llm_enrich      only the CLI enrich stage, on clean output with wire
                  copies, fake model with per-call latency and failures
  operator_suite  fixed registry queries from ``__spark_entry__.queries()``
                  on generated tables that are the same for every seed,
                  one query or more from each operator family
  all             the three above, one after another, with a table of every
                  metric

BENCHMARK.json lists news_etl and operator_suite (``GATED``).  llm_enrich
runs the same layers as news_etl (enrich, llm, writers) with model latency
and wire copies; it is left out there so that the two listed workloads
can each afford warm-up and enough measured passes within the benchmark's
total time budget.

Each run starts one worker process (``perfbench/worker.py``) at
``local[<cores>]`` with a 2g driver, from the repository root.
``setup_s`` is its set-up time: process start to the first finished Spark
job.  The worker makes its inputs from ``--seed``, runs a checked first
pass and a fixed number of warm-up passes, then a fixed number of measured
passes that take about ``--seconds`` on a 4-vCPU VM, checks the outputs
and reports medians.  With ``--trace 1`` the measured passes alternate
untraced and traced and the per-layer metrics come from the traced ones;
``trace.overhead_s`` is the difference of the two medians.  The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import suite  # noqa: E402

PKG = "project_market_pulse_etl_pipeline_with_llm_integration_spark"
WORKLOADS = ("news_etl", "llm_enrich", "operator_suite")
GATED = ("news_etl", "operator_suite")  # the workloads BENCHMARK.json lists
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # a benchmark run must end within 180 s
DRIVER_MEM = "2g"

END_TO_END = {"wall_s": "s", "setup_s": "s"}


def per_layer_names() -> list[str]:
    names = [
        "clean.construct_s", "clean.construct_jobs", "clean.write_s", "clean.rows_in",
        "clean.rows_kept", "clean.shuffle_write_bytes", "clean.executor_cpu_s", "clean.gc_s",
        "enrich.wall_s", "enrich.tasks", "enrich.executor_run_s", "enrich.executor_cpu_s",
        "enrich.python_bytes_sent", "enrich.error_api_rows",
        "llm.calls", "llm.busy_s", "llm.raised", "llm.malformed", "llm.repeat_calls",
        "writers.files", "writers.bytes", "catalog.load_s", "catalog.partitions",
    ]
    for g, qs in suite.GROUPS.items():
        names.append(f"{g}_s")
        names += [f"{g}.{m}" for m in (
            "construct_s", "construct_jobs", "exec_s", "exec_jobs", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_write_bytes", "python_bytes")]
        for q in qs:
            names += [f"q.{q}.construct_s", f"q.{q}.exec_s"]
    names += ["cpu.pass_s", "rss.total_peak_mb", "rss.jvm_peak_mb", "rss.workers_peak_mb",
              "llm_calls_per_row", "failed_share", "trace.untraced_wall_s",
              "trace.traced_wall_s", "trace.overhead_s"]
    return names


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_sent"):
        return "B"
    if name == "llm_calls_per_row":
        return "calls/row"
    if name == "failed_share":
        return "share"
    return "count"


def child_env() -> dict[str, str]:
    """Pinned run settings: cores, local dirs, driver memory, temp dir."""
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in ("DISABLE_LLM", "SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                            "pyspark-shell",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    return env


def spawn(args, deadline: float) -> dict:
    """Run the worker process to completion (its whole process group is
    stopped and waited for) and return its JSON line."""
    log_path = os.path.join(WORK, f"{args.workload}.log")
    cmd = [sys.executable, os.path.join("perfbench", "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", WORK, "--t0", repr(time.time())]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(), stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            out = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if out is None:
        raise RuntimeError(f"worker ran past the deadline; see {log_path}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    return json.loads(lines[-1])


def _stop_group(pgid: int) -> None:
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_workload(args, deadline: float) -> dict:
    main = spawn(args, deadline)
    walls = main["walls"]
    e2e = {"wall_s": statistics.median(walls), "setup_s": main["setup_s"]}
    layers = dict.fromkeys(per_layer_names(), 0.0)
    layers.update({k: v for k, v in main["layers"].items() if k in layers})
    layers.update({k: v for k, v in main["extra"].items() if k in layers})
    layers["failed_share"] = main["failed"] / max(main["attempted"], 1)
    layers["cpu.pass_s"] = statistics.median(main["cpus"])
    for key in ("total", "jvm", "workers"):
        layers[f"rss.{key}_peak_mb"] = main["rss"][key]
    if main["traced_walls"]:
        layers["trace.untraced_wall_s"] = e2e["wall_s"]
        layers["trace.traced_wall_s"] = statistics.median(main["traced_walls"])
        layers["trace.overhead_s"] = layers["trace.traced_wall_s"] - e2e["wall_s"]
    return {
        "e2e": e2e, "layers": layers, "passes": len(walls), "extra": main["extra"],
        "attempted": main["attempted"], "failed": main["failed"], "problems": main["problems"],
    }


def report(workload: str, r: dict, trace: bool) -> None:
    """Human-readable lines, before the JSON line."""
    print(f"# {workload}: {r['passes']} timed passes, {r['attempted']} operations, "
          f"{r['failed']} failed (failed_share {r['layers']['failed_share']:.4f})")
    shown = dict(r["e2e"])
    shown["peak_rss_mb"] = r["layers"]["rss.total_peak_mb"]
    shown.update(r["extra"])
    for k, v in shown.items():
        print(f"#   {k:24s} {v:12.4f} {unit(k)}")
    if trace:
        for k, v in r["layers"].items():
            print(f"#   {k:40s} {v:16.4f} {unit(k)}")
    for p in r["problems"]:
        print(f"#   FAILED: {p}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)
    # A SIGTERM unwinds through spawn()'s finally, which stops the worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (os.path.isdir(os.path.join(ROOT, PKG)) and
            os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: run from the repository root ({PKG}/ not found)", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    try:
        for name in names:
            args.workload = name
            results[name] = run_workload(args, time.time() + DEADLINE_S)
            report(name, results[name], bool(args.trace))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    metrics = {}
    for name, r in results.items():
        chosen = r["layers"] if args.trace else r["e2e"]
        prefix = f"{name}." if len(results) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": unit(k)} for k, v in chosen.items()})
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
