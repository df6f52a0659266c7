#!/usr/bin/env python3
"""Layered benchmark of the etl_loading_scripts_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics_headline --seed 1 \\
        --seconds 10 --trace 0

One process, one SparkSession on ``local[<cpus>]``, one closed-loop
client. A run sets up once — JVM launch and session start, seeded input
generation, fixture planting — and reports that time as ``setup_s``;
then it times the first pass in the fresh session (``cold_pass_s``, and
the CPU time of the process tree in it, ``cold_pass_cpu_s``).
Passes continue until ``--seconds`` have elapsed since the first one
started; these warm passes are only logged on stderr. Correctness is
checked outside every timed window; a wrong result makes ``correct``
false and the exit code 1.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics of the first pass and writes every span to
``perfbench/_traces/``. The last line of stdout is the JSON result.
Everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

from pbench.workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "cold_pass_cpu_s": "s", "jvm_heap_mb": "MiB"}


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: Path) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work``; return the session confs that must be set at launch."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM the run starts, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the engine (UDFs) and must find it too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _stop(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        base_dir: Path | None = None) -> dict:
    conf = _prepare_env(work)

    import numpy as np

    from etl_loading_scripts_spark.queries import REGISTRY  # noqa: F401  registers all
    from etl_loading_scripts_spark.session import get_spark
    from pbench.counters import SparkCounters, health, tree_cpu_s
    from pbench.inputs import write_inputs
    from pbench.trace import Tracer
    from pbench.workloads import Ctx, per_layer_names

    sf_dir = str(work / "inputs")
    tracer = Tracer(trace)
    if trace:
        tracer.wrap_load_table()
    failures: list[str] = []
    spark = ctx = wl = None
    setup_s = session_s = None
    ops = 0
    passes: list[float] = []
    cold_cpu = None
    layer: list[dict] = []
    ledger: list[dict] = []
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        write_inputs(sf_dir, seed, base_dir)
        if trace:
            tracer.attach(SparkCounters(spark))
        ctx = Ctx(spark, sf_dir, str(work), np.random.default_rng(seed), tracer, failures)
        wl = WORKLOADS[workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        _log(f"setup {setup_s:.3f} s (session start {session_s:.3f} s)")

        deadline = time.perf_counter() + seconds
        while not failures:
            tracer.start_pass(len(passes))
            c0 = tree_cpu_s() if not passes else None
            t0 = time.perf_counter()
            ops += wl.run_pass(ctx)
            passes.append(time.perf_counter() - t0)
            if c0 is not None:
                cold_cpu = tree_cpu_s() - c0
            layer.append({**tracer.metrics, "trace.pass_s": passes[-1],
                          "trace.overhead_s": tracer.overhead_s})
            wl.check_pass(ctx)
            # the reported heap is the last pass's, after repeated GCs;
            # one GC after intermediate passes keeps them cheap
            last = time.perf_counter() >= deadline
            ledger.append({"pass": len(passes) - 1, "wall_s": passes[-1],
                           **health(spark, rounds=5 if last else 1)})
            if last:
                break
    except Exception:  # noqa: BLE001 - a failing op is a benchmark result
        failures.append("op raised:\n" + traceback.format_exc())
    finally:
        if spark is not None:
            _stop(spark)

    for rec in ledger:
        heap = "-" if rec["heap_mb"] is None else f"{rec['heap_mb']:.1f} MiB"
        _log(f"health pass {rec['pass']}: wall {rec['wall_s']:.3f} s, persistent_rdds "
             f"{rec['persistent_rdds']}, heap_after_gc {heap}")
    if len(ledger) > 1:
        growth = (ledger[-1]["persistent_rdds"] - ledger[0]["persistent_rdds"]) / (len(ledger) - 1)
        _log(f"health: persistent RDDs grow {growth:.2f} per pass")
    for f in failures:
        _log(f"FAILED: {f}")

    failed = len(failures)
    attempted = max(ops, 1)
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(failed, attempted), "metrics": {}}
    if not passes:
        return result
    if len(passes) > 1:
        q1, med, q3 = _quartiles(passes[1:])
        _log(f"warm passes: median {med:.4f} s, q1 {q1:.4f}, q3 {q3:.4f}, n {len(passes) - 1}")
    if trace:
        spans_path = HERE / "_traces" / f"{workload}-seed{seed}.json"
        spans_path.parent.mkdir(exist_ok=True)
        spans_path.write_text(json.dumps({"spans": tracer.spans, "passes": layer,
                                          "health": ledger}))
        _log(f"spans: {spans_path}")
        metrics = {}
        extra = getattr(wl, "extra_layer", None)
        names = per_layer_names() + (extra() if extra else [])
        for name, unit in names:
            if name == "session.start_s":
                value = session_s
            elif name == "health.persistent_rdds":
                value = ledger[-1]["persistent_rdds"]
            else:
                value = layer[0].get(name, 0)
            metrics[name] = {"value": value, "unit": unit}
        over = metrics["trace.overhead_s"]["value"]
        _log(f"tracing overhead {over:.3f} s "
             f"({100 * over / passes[0]:.1f}% of the traced first pass)")
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": passes[0],
            "cold_pass_cpu_s": cold_cpu,
            "jvm_heap_mb": ledger[-1]["heap_mb"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        print(f"# {workload} seed {seed}: failed_ops_frac "
              f"{failed / attempted:.4f} ({failed}/{attempted} ops)")
        for k, m in metrics.items():
            print(f"# {workload} {k} {m['value']:.4f} {m['unit']}")
    result["metrics"] = metrics
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--base-dir", type=Path, default=None,
                    help="directory of base parquet tables to seed the inputs from "
                         "(default: perfbench/basedata/sf0.01); for scale experiments")
    args = ap.parse_args(argv)

    if not (ROOT / "etl_loading_scripts_spark" / "__init__.py").is_file():
        print(f"error: engine package etl_loading_scripts_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                     args.base_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
