"""Crawl/parse benchmark of wos_crawler_spark.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The script generates its inputs from
``--seed``, starts a Spark session sized from the machine, sets up and
warms up the workload, then runs it back to back (one client, closed
loop) for at least ``--seconds`` and at least once, checking the
output of every run. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also replays the workload layer by layer under spans, folds
Spark's event log into them and reports the per-layer metrics.

Workloads and what each stresses are described in perfbench/NOTES.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_deep", "parse_exports")
#: table set-ups (tables and join-side layout from the generated
#: inputs) per run; setup_s adds their median to session start, input
#: generation and warm-up
SETUP_REPS = 3


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


class MemSampler:
    """Peak memory of a process tree (the Spark JVM, its Python daemon
    and workers), sampled from /proc every 250 ms. Each process counts
    its proportional set size, so pages the forked Python workers
    share with their daemon are counted once."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        return out

    def _pss_kb(self) -> int:
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.peak_kb = max(self.peak_kb, self._pss_kb())

    def __enter__(self) -> "MemSampler":
        self.peak_kb = self._pss_kb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "wos_crawler_spark", "plans", "crawl.py")):
        print(f"error: no wos_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temporary file of this process, Spark and its Python workers
    # stays under the work directory
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)

    from perfbench import session, workloads
    from tools.bench_scaling import _cpu_probe

    # fixed single-thread CPU work, recorded next to every result so
    # numbers from a slower or busier machine show
    probe_s = _cpu_probe()
    t0 = time.perf_counter()
    spark, info = session.start(work, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.make(args.workload, spark, info, args.seed, work)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        builds = []
        # the traced run reports no setup_s, so it sets up once
        for _ in range(1 if args.trace else SETUP_REPS):
            wl.release()
            t0 = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + statistics.median(builds) + warm_s
        wl.prepare_oracle()

        runs = []
        if args.trace:
            metrics, attempted, failed = wl.traced()
        else:
            failed = 0
            with MemSampler(_jvm_pid()) as mem:
                t_end = time.perf_counter() + args.seconds
                while not runs or time.perf_counter() < t_end:
                    r = wl.run()
                    runs.append(r)
                    if r.error:
                        failed += 1
                        print(f"# run {len(runs)} failed: {r.error}", flush=True)
            attempted = len(runs)
            # a run's own warm-up part (crawl_deep's first wave) is set-up
            setup_s += runs[0].warm_s
            metrics = wl.end_to_end(runs, setup_s, mem.peak_kb / 1024)
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }
        notes = {
            "workload": args.workload, "seed": args.seed, **info,
            "cpu_probe_s": round(probe_s, 4), "session_s": round(session_s, 3),
            "gen_s": round(gen_s, 3), "build_s": [round(b, 3) for b in builds],
            "warm_s": round(warm_s, 3),
            "run_s": [round(r.wall_s, 3) for r in runs],
            "failed_share": result["failed"] / result["attempted"],
        }
    finally:
        session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print("# " + json.dumps(notes), flush=True)
    for k, v in result["metrics"].items():
        print(f"# {k:28s} {v['value']:>14.4f} {v['unit']}")
    print(f"# {'failed_share':28s} {notes['failed_share']:>14.4f} share")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
