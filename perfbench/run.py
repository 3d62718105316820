#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload kbc_inmem --seed 1 --seconds 1 --trace 0

Run from the repository root. One run starts one Spark session on
``local[<nproc>]`` with a pinned driver heap, generates the workload's
inputs from ``--seed``, runs the workload's job, checks every job's
outputs, and prints one line per metric followed by a JSON result line:

* ``--trace 0``: jobs run untraced, one after another, until ``--seconds``
  have passed (at least one job). Reports the end-to-end metrics.
* ``--trace 1``: one untraced job to warm the JVM, one traced job composed
  of the same public calls with a span per call (``tracing.py``), then one
  more untraced job. Reports the per-layer metrics and the tracing
  overhead (traced minus untraced wall time of the two warm jobs). The
  spans are written to ``.perfbench/spans-<workload>-<seed>.json``.

Workloads: ``kbc_inmem`` (``kbc.py``) and ``web_graph`` (``webgraph.py``).
Everything the run writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "3g"
SETUP_REPS = 3
PAGE = os.sysconf("SC_PAGE_SIZE")


def pin_env() -> dict[str, str]:
    """Environment for the session and its Python workers; returned so the
    run can record it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # a JVM that cannot start or crashes writes its hs_err log under
        # .perfbench/, not into the working directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
        f"-XX:ErrorFile={os.path.join(WORK, 'hs_err_pid%p.log')}",
    }
    os.environ.update(pinned)
    sys.path[:0] = [ROOT, HERE]
    return pinned


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, state) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            table[int(name)] = (int(fields[1]), fields[0])
    return table


def descendants(pid: int) -> list[int]:
    table = _proc_table()
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (pp, st) in table.items() if pp == p and st != "Z"]
        out += kids
        frontier += kids
    return out


def tree_rss_mb() -> float:
    """RSS of every process this one started (the JVM and its Python
    workers), in MB."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE / (1 << 20)


class RssSampler(threading.Thread):
    """Samples the process tree's RSS from outside the JVM."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_rss_mb())

    def stop(self) -> None:
        self._done.set()
        self.join()


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = descendants(os.getpid())
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        table = _proc_table()
        alive = [p for p in kids if p in table and table[p][1] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run_job(wl, fn, spark, inputs, *extra):
    """(outputs or None, seconds, problems, quality)."""
    t = time.perf_counter()
    try:
        out = fn(spark, inputs, *extra)
        secs = time.perf_counter() - t
        problems, quality = wl.check(out, inputs)
    except Exception:
        return None, time.perf_counter() - t, \
            [traceback.format_exc(limit=3)], 0.0
    return out, secs, problems, quality


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kbc_inmem", "web_graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    pinned = pin_env()
    import pyspark
    from tecs_hardware_kbc_spark.session import get_spark

    import kbc
    import webgraph
    from tracing import Counters, Tracer

    wl = {"kbc_inmem": kbc, "web_graph": webgraph}[args.workload]
    sampler = RssSampler()
    sampler.start()

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        gen_s, sizes = [], []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            inputs, counts = wl.make_inputs(spark, args.seed)
            gen_s.append(time.perf_counter() - t)
            sizes.append(counts)
        setup_s = session_s + statistics.median(gen_s)
        env = {
            **pinned,
            "master": spark.sparkContext.master,
            "nproc": len(os.sched_getaffinity(0)),
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System
            .getProperty("java.version"),
            "python": sys.version.split()[0],
            "input_rows": sizes[0],
        }
        counters = Counters(spark)

        problems, laps, digests = [], [], []
        if len({tuple(c) for c in sizes}) != 1:
            problems.append(f"input sizes differ between set-ups: {sizes}")

        def lap(fn, *extra):
            c0 = counters.read()
            out, secs, probs, quality = run_job(wl, fn, spark, inputs,
                                                *extra)
            if out is not None:
                digests.append(wl.digest(out))
                if digests[-1] != digests[0]:
                    probs.append(
                        f"output digest {digests[-1]} != {digests[0]}")
            shuffle = counters.read()["shuffle_mb"] - c0["shuffle_mb"]
            laps.append({"job_s": secs, "shuffle_mb": shuffle,
                         "quality": quality, "problems": probs})
            problems.extend(probs)
            return secs

        if args.trace:
            cold_s = lap(wl.job)
            tr = Tracer(spark)
            traced_s = lap(wl.traced_job, tr)
            untraced_s = lap(wl.job)
            tr.dump(os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.json"))
            names = kbc.LAYERS + webgraph.LAYERS
            layers = tr.layer_metrics(names, kbc.RATIOS)
            metrics = {k: (v, _layer_unit(k)) for k, v in layers.items()}
            self_sum = sum(layers[f"{n}.self_s"] for n in names)
            metrics.update({
                "trace.self_s_sum": (self_sum, "s"),
                "trace.job_s": (traced_s, "s"),
                "trace.cold_job_s": (cold_s, "s"),
                "trace.untraced_job_s": (untraced_s, "s"),
                "trace.overhead_s": (traced_s - untraced_s, "s"),
            })
        else:
            sampler.peak = 0.0
            start = time.perf_counter()
            while True:
                lap(wl.job)
                if time.perf_counter() - start >= args.seconds:
                    break
            ok = [x for x in laps if not x["problems"]]
            metrics = {
                "job_s": (statistics.median(x["job_s"] for x in laps), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (sampler.peak, "MB"),
                "shuffle_mb": (
                    statistics.median(x["shuffle_mb"] for x in laps), "MB"),
                "ok_frac": (len(ok) / len(laps), "ratio"),
                "quality_min": (min(x["quality"] for x in laps), "ratio"),
            }
    finally:
        shutdown(spark)
        sampler.stop()

    failed = sum(1 for x in laps if x["problems"])
    result = {
        "correct": not problems,
        "attempted": len(laps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(
            WORK, f"result-{args.workload}-{args.seed}-{args.trace}.json"),
            "w") as f:
        json.dump({**result, "env": env, "session_s": session_s,
                   "gen_s": gen_s, "laps": laps, "digests": digests}, f,
                  indent=1)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    for k in ("master", "nproc", "spark", "java", "python",
              "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH",
              "input_rows"):
        print(f"# env {k} = {env[k]}")
    print(f"# laps {[round(x['job_s'], 3) for x in laps]} "
          f"digest {digests[0] if digests else None}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print("# check " + ("PASS" if not problems else "FAIL: "
                        + " | ".join(problems)))
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    return {"self_s": "s", "rows": "count", "shuffle_mb": "MB",
            "jobs": "count", "gc_s": "s"}.get(suffix, "ratio")


if __name__ == "__main__":
    sys.exit(main())
