"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything the run writes goes under ``.perfbench_work``
(emptied at the start of each run) and, for traced runs, the span file
under ``.perfbench_traces``; see README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The package default heap (16g) exceeds a 15 GiB machine; 2g holds
# these inputs. Left to grow, the heap's resident size followed the
# garbage collector's sizing decisions, which varied with host load
# (peak RSS 1.0-2.3 GiB on identical runs), so it is fixed at this size
# and touched at start-up: peak RSS then moves with off-heap and
# Python-worker memory.
DRIVER_MEM = "2g"
SETUPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Settings the program must see before the JVM starts: Python
    workers import the package from the repository root, Spark uses
    every core this process may run on, and scratch files stay in the
    work directory."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    sys.path[:0] = [ROOT, HERE]


def session_conf(work: str, trace: bool) -> dict[str, str]:
    from spans import event_log_conf

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # native-library extraction and JVM perf files stay out of /tmp;
        # the heap is fixed at DRIVER_MEM and touched up front (see
        # DRIVER_MEM)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


class RssSampler(threading.Thread):
    """Peak summed resident memory of the driver JVM and the Python
    workers it forks. Descendants are found through
    ``/proc/<pid>/task/<tid>/children`` so one sample reads a handful of
    files, not the whole process table. Only Python descendants count:
    the short-lived helpers the JVM spawns share its address space until
    they exec, and counting one would add the whole JVM a second time."""

    def __init__(self, pid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(_children(pid))
            try:
                if pid != self.pid:
                    with open(f"/proc/{pid}/comm") as f:
                        if not f.read().startswith("python"):
                            continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            pass
    return out


def set_up(workload, conf: dict, spark=None):
    """One set-up: a session from the package's factory, ready once a
    first job over the workload's inputs has finished."""
    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    from etl_evm_chain_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    workload.probe(spark)
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until it and its
    Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.time() + 30
    while time.time() < deadline and _descendants(me):
        time.sleep(0.2)
    for pid in _descendants(me):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_evm_chain_spark", "__init__.py")):
        print(f"package etl_evm_chain_spark not found under {ROOT}", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)

    import numpy as np

    from spans import Tracer
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    phases = {"start": time.perf_counter()}
    wl.generate(np.random.default_rng(args.seed), os.path.join(work, "inputs"))

    phases["generate"] = time.perf_counter()
    # the JVM inherits the working directory; keep its droppings in work
    os.chdir(work)
    conf = session_conf(work, bool(args.trace))
    spark = sampler = None
    try:
        spark, first = set_up(wl, conf)
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        setups = [first]
        for _ in range(SETUPS - 1):
            spark, s = set_up(wl, conf, spark)
            setups.append(s)
        phases["set_up"] = time.perf_counter()

        sessions = []
        t_end = time.perf_counter() + args.seconds
        while not sessions or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            sessions.append(wl.run(spark, Tracer(None)))
            untraced = time.perf_counter() - t0
        phases["sessions"] = time.perf_counter()
        checked = wl.check(spark, sessions[-1])
        phases["check"] = time.perf_counter()
        if args.trace:
            tracer = Tracer(spark)
            t0 = time.perf_counter()
            wl.run(spark, tracer)
            traced = time.perf_counter() - t0
            phases["trace"] = time.perf_counter()
    finally:
        peak_mb = sampler.stop() if sampler else 0.0
        stop_spark()
        os.chdir(cwd)
    phases["stop"] = time.perf_counter()

    steps = [s for session in sessions for s in session]
    ok_steps = [s.seconds for s in steps if s.ok]
    walls = [sum(s.seconds for s in session if s.ok) for session in sessions]
    result = {
        "correct": bool(checked.correct),
        "attempted": len(steps),
        "failed": sum(not s.ok for s in steps),
    }
    if args.trace:
        tracer.attach_engine_counters(os.path.join(work, "eventlog"))
        eng = tracer.engine()
        layers = {
            "session.boot_s": (first, "s"),
            "trace.wall_s": (traced, "s"),
            "trace.overhead_s": (traced - untraced, "s"),
            "steps": (len(ok_steps), "count"),
            "step_s.max": (max(ok_steps) if ok_steps else 0.0, "s"),
            "spark.jobs": (eng["jobs"], "count"),
            "spark.tasks": (eng["tasks"], "count"),
            "spark.executor_run_s": (eng["executor_run_s"], "s"),
            "spark.gc_s": (eng["gc_s"], "s"),
            "spark.shuffle_write_bytes": (eng["shuffle_write_bytes"], "bytes"),
            "spark.spill_bytes": (eng["spill_bytes"], "bytes"),
        }
        own = wl.layers(tracer, traced)
        for name, unit in LAYER_METRICS.items():
            layers[name] = (own.get(name, 0), unit)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        tracer.write(os.path.join(cwd, ".perfbench_traces",
                                  f"{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed,
                      "untraced_s": untraced, "traced_s": traced,
                      "checks": checked.notes})
    else:
        result["metrics"] = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MiB"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "step_s.geomean": {"value": statistics.geometric_mean(ok_steps), "unit": "s"},
            "output_recall": {"value": checked.recall, "unit": "ratio"},
        }
    marks = list(phases.items())
    print(json.dumps({
        "checks": checked.notes,
        "steps": [[s.name, round(s.seconds, 3), s.ok] for s in steps],
        "phases_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
    }, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
