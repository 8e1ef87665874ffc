"""Benchmark of the octocode_spark maintenance engine.

    python3 perfbench/run.py --workload {upsert,queries}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. One process per run: it starts Spark
local[nproc] with a 2 GiB heap, generates the workload's inputs from the
seed, builds its starting state from them several times (the median of the
program's time for that is ``setup_s``), runs a fixed amount of work sized
from ``--seconds``, checks every output, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer metrics, taken from spans around
each call into the program (a span log is left in ``.perfbench_out/``).

Everything it writes lives under ``.perfbench_work/`` in the checkout and is
removed before it exits; the JVM and its Python workers are stopped and
waited for.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["upsert", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and every process it started:
    the JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _start_spark(work: str, app: str):
    from octocode_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        app=app,
        cpus=len(os.sched_getaffinity(0)),
        driver_memory=HEAP,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import octocode_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import octocode_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python temp files (here) and Spark's workers (which import the
    # program) both follow the environment the JVM inherits
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    t_start = time.perf_counter()
    try:
        spark = _start_spark(work, f"perfbench-{args.workload}")
        t_jvm = time.perf_counter() - t_start
        run_id = f"{args.workload}-s{args.seed}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
        wl = WORKLOADS[args.workload](ctx)
        setups = []
        for rep in range(wl.SETUP_REPS):
            setups.append(wl.setup(rep))  # each set-up times its own program calls
        t_prep = time.perf_counter()
        wl.prepare()
        t_run = time.perf_counter()
        wl.run()
        run_s = time.perf_counter() - t_run
        print(f"perfbench: {args.workload} spark start {t_jvm:.1f} s, setups "
              f"{', '.join(f'{x:.2f}' for x in setups)} s, prepare {t_run - t_prep:.1f} s, "
              f"run {run_s:.1f} s: {len(ctx.op_ms)} ops, {len(ctx.read_ms)} reads", file=sys.stderr)
        print(f"perfbench: op ms {[round(x) for x in ctx.op_ms[:12]]}, read ms "
              f"{[round(x) for x in ctx.read_ms[:24]]}", file=sys.stderr)
        values = {
            "setup_s": statistics.median(setups),
            "op_p50_ms": statistics.median(ctx.op_ms),
        }
        if args.trace:
            values = {
                **{m["name"]: 0.0 for m in spec["per_layer"]},
                **wl.layers(),
                "process.peak_rss_mb": _peak_rss_mb(),
                "trace.op_p50_ms": values["op_p50_ms"],
                "trace.read_p50_ms": statistics.median(ctx.read_ms),
                "trace.overhead_pct": 100 * tracer.overhead_s / run_s,
            }
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{run_id}.json"))
    except Exception:  # noqa: BLE001 - report, clean up, fail the run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(f"perfbench: total {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    for what in ctx.failures:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
