"""The repository benchmark: one command, one workload, every answer checked.

    python3 perfbench/run.py --workload interactive|lifecycle --seed N \\
        --seconds S --trace 0|1

Run it from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics and the tracing overhead
instead. A ``perfbench:`` summary line (every end-to-end metric with its unit,
the workload's properties and the first failures) precedes the last line,
which is the result as one JSON object. Scratch and index directories live
under ``.perfbench/`` in the working directory and are removed at exit; the
seed's corpus is cached there and reused.
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
sys.path.insert(0, HERE)

# BENCHMARK.json's end-to-end metrics, then the ones printed only in the summary
E2E_UNITS = {
    "setup_s": "s",
    "query_mean_s": "s",
    "positional_mean_s": "s",
    "batch_qps": "queries/s",
    "write_turns_per_s": "turns/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
SUMMARY_UNITS = {**E2E_UNITS, "query_p50_s": "s", "query_tail_s": "s",
                 "positional_p50_s": "s", "failed_op_ratio": "ratio"}


def _per_layer_units() -> dict[str, str]:
    from workloads import BUILD_PHASES, INTERACTIVE_OPS, VOLUME_OPS

    u = {"session.start_s": "s"}
    u.update({f"build.{ph}_s": "s" for ph in BUILD_PHASES})
    u.update({f"build.{k}": "count" for k in ("jobs", "stages", "tasks")})
    u.update({"deletes.commit_s": "s", "merge.compact_s": "s", "merge.bytes_rewritten": "bytes",
              "catalog.open_s": "s", "catalog.live_segments": "count"})
    u.update({f"catalog.bytes.{t}": "bytes" for t in ("postings", "dictionary", "doc_dim", "other")})
    for op in INTERACTIVE_OPS:
        u.update({f"query.plan_s.{op}": "s", f"query.exec_s.{op}": "s"})
        u.update({f"query.{k}.{op}": "count" for k in ("jobs", "stages", "tasks")})
    u["spark.failed_tasks"] = "count"
    for op in VOLUME_OPS:
        u.update({f"query.blocks.{op}": "count", f"query.block_bytes.{op}": "bytes"})
    u.update({f"cpu.{k}_s": "s" for k in ("py_workers", "jvm", "driver")})
    u.update({f"rss.{k}_mb": "MB" for k in ("py_workers", "jvm", "driver")})
    u.update({"jvm.gc_s": "s", "jvm.heap_peak_mb": "MB"})
    u.update({"overhead.query_mean_s": "s", "overhead.positional_mean_s": "s",
              "overhead.batch_qps": "queries/s"})
    return u


RUN_LIMIT_S = 170
DRIVER_MEM = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "lifecycle"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if a.seed < 0:
        ap.error("--seed must not be negative")
    return a


def _reexec_env(root: str) -> dict | None:
    """Environment for a steady run, or None when this process already has it.

    A fixed hash seed must be in place before the interpreter starts, so the
    benchmark re-executes itself once with it. Spark scratch, JVM temp files
    and the package zip all go under ``root``; the console progress bar is off.
    """
    if os.environ.get("PERFBENCH_ROOT") == root:
        return None
    tmp = os.path.join(root, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update(
        PERFBENCH_ROOT=root,
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
            f'--driver-java-options "{java_opts}" pyspark-shell'
        ),
    )
    return env


def _stop_spark(run) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from probes import process_tree

    spark = getattr(run, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    descendants = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    # stop() leaves the JVM running until the interpreter exits; ending it
    # here needs the gateway, which PySpark keeps on the class
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in descendants if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _terminate(sig, _frame):
    raise SystemExit(128 + sig)  # unwinds through the clean-up below


def main(argv=None) -> int:
    a = _args(sys.argv[1:] if argv is None else argv)
    cwd = os.getcwd()
    if not os.path.isfile(os.path.join(cwd, "cuvs_lucene_spark", "__init__.py")):
        print("perfbench: run from the repository root (cuvs_lucene_spark/ not found)",
              file=sys.stderr)
        return 2
    base = os.path.join(cwd, ".perfbench")
    root = os.path.join(base, f"run-{os.getpid()}")
    env = _reexec_env(root)
    if env is not None:
        os.makedirs(env["TMPDIR"], exist_ok=True)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)

    sys.path.insert(0, cwd)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(RUN_LIMIT_S)
    from workloads import WORKLOADS, Run

    run = Run(os.path.join(root, "work"), os.path.join(base, "corpus"),
              a.seed, a.seconds, bool(a.trace))
    try:
        e2e, layers = WORKLOADS[a.workload](run)
        failures = run.check()
    finally:
        signal.alarm(0)
        _stop_spark(run)
        shutil.rmtree(root, ignore_errors=True)
    attempted = run.attempted()
    e2e["failed_op_ratio"] = len(failures) / attempted
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {k: {"value": e2e.get(k), "unit": u} for k, u in SUMMARY_UNITS.items()},
        "query_tail_pct": e2e.get("query_tail_pct"),
        "query_samples": e2e["query_samples"],
        "op_p50_s": e2e["op_p50_s"],
        "workload_properties": run.props,
        "failures": failures[:5],
    }
    print("perfbench: " + json.dumps(summary), flush=True)
    if a.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in _per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
