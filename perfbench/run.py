"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.py`` in this process on
``local[<cores of this process>]`` and prints, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run.  The line before it is a ``# info`` JSON with
the commit, seed, cores, versions and the generator's properties.

Everything the run writes (inputs, warehouses, Spark scratch, the span
dump) lives under ``.perfbench_runs/`` next to this directory; the
bulky parts are deleted when the run ends, the span dump is kept.
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

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3
HEAP = "2g"  # the Spark driver's heap; see main
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
)


def _commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _tree_peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process and every
    live descendant: the Spark JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: Path):
    from corhist_spark.session import get_spark
    from perfbench.stats import summarize
    from perfbench.trace import Tracer, report
    from perfbench.workloads import WORKLOADS

    import pyspark

    cores = len(os.sched_getaffinity(0))
    tr = Tracer(run_dir.name, enabled=trace)
    t0 = time.perf_counter()
    with tr.span("session", "get_spark"):
        spark = get_spark(
            f"perfbench-{workload}", cores=cores,
            # a fixed-size heap (initial = maximum, see main) so peak RSS
            # does not depend on when the collector chooses to grow it
            extra_conf={"spark.local.dir": str(run_dir / "local"),
                        "spark.driver.defaultJavaOptions": f"-Xms{HEAP}",
                        "spark.ui.showConsoleProgress": "false"},
        )
        tr.sc = spark.sparkContext
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        # start the Python workers and let the JVM see its first jobs
        sc.parallelize(range(cores * 8), cores).map(lambda x: x + 1).sum()
        w = WORKLOADS[workload]()
        tr.enabled = False
        setup_s = []
        for k in range(SETUP_REPS):
            t = time.perf_counter()
            ctx = w.setup(spark, seed, str(run_dir / f"setup-{k}"))
            setup_s.append(time.perf_counter() - t)
        t_warm = time.perf_counter()
        # warm-up ops (negative indices) compile the op's plans
        for j in range(1, w.warm_ops + 1):
            w.op(ctx, -j, tr)
        warm_s = time.perf_counter() - t_warm

        results, start = [], time.perf_counter()
        # a traced run needs a traced op and a warm untraced one; a batch
        # program runs no more ops than that, so its untraced run always
        # times exactly one cold op, however fast the op gets
        min_ops = max(w.min_ops, 3 if trace else 1)
        while (len(results) < min_ops or len(results) % w.cycle
               or (not w.batch and time.perf_counter() - start < seconds)):
            i = len(results)
            tr.enabled, tr.op = trace and i % 2 == 1, i
            r = w.op(ctx, i, tr)
            r["traced"] = tr.enabled
            results.append(r)
        tr.enabled, tr.op = False, None

        loop_s = time.perf_counter() - start
        t_check = time.perf_counter()
        failed = w.check(ctx, results)
        rss = _tree_peak_rss_mb()
        info = {
            "workload": workload, "seed": seed, "commit": _commit(), "cores": cores,
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "generator": ctx["inp"].data["properties"],
            "session_s": session_s, "setup_reps_s": setup_s, "warm_s": warm_s,
            "loop_s": loop_s, "check_s": time.perf_counter() - t_check,
        }
    except Exception:
        # the Java side of a Py4J error can be read only while the JVM runs
        traceback.print_exc()
        raise
    finally:
        _stop_spark(spark)

    plain = [r for r in results if not r["traced"]]
    if trace:
        metrics = report(tr, results, failed)
        tr.dump(str(run_dir / "spans.jsonl"))
    else:
        # refreshes are reported in commit_ms only
        timed = [r for r in plain if r["kind"] != "refresh"]
        writes = [r["write_ms"] for r in plain if "write_ms" in r]
        lat = summarize([r["ms"] for r in timed])
        info.update(op_ms=lat, commit_ms=summarize(writes))
        values = {
            "setup_s": session_s + statistics.median(setup_s),
            "throughput_per_s": sum(r["units"] for r in timed) / (sum(r["ms"] for r in timed) / 1e3),
            "op_p50_ms": lat["median"],
            "peak_rss_mb": rss,
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    result = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "mine_eval", "game_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "corhist_spark" / "__init__.py").is_file():
        print(f"no corhist_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        (run_dir / d).mkdir(parents=True)
    # a neutral working directory; the Python workers find the package
    # through PYTHONPATH, and every scratch file stays in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'}"
    # a fixed 2 GB driver heap, whatever the caller's environment says:
    # under the package's 8 GB default the heap keeps growing and an
    # extract run peaked at 6.8 GB resident for a 3.5k-edit input; under
    # 1 GB a traced extract run ran out of heap serializing a task
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.chdir(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        info, result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        for entry in run_dir.iterdir():
            if entry.is_dir():
                shutil.rmtree(entry, ignore_errors=True)
    print("# info " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
