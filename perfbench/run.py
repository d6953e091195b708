#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 14 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics traced). A readable
table of the same numbers, plus the workload's named figures, goes to
standard error; the full result (host facts included) and, when traced,
the span trace are written under ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# One run must end well inside the 180 s a run is allowed.
DEADLINE_S = 170
MASTER = "local[4]"


def load_bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def host_facts() -> dict:
    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    import pyspark

    return {"nproc": os.cpu_count(), "cpu_model": cpu,
            "python": platform.python_version(),
            "spark": pyspark.__version__, "master": MASTER}


class Run:
    """One benchmark run: arguments, scratch space, tracer and the
    benchmark process's own Spark session."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(HERE, "_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(HERE, "_out")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.tracer = None
        self.spark = None
        self._children: list[subprocess.Popen] = []
        if trace:
            from spans import Tracer

            self.tracer = Tracer()

    # -- environment ----------------------------------------------------
    def child_env(self) -> dict:
        """Environment that keeps Spark, the JVM and Python scratch files
        inside the checkout."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (self.root, env.get("PYTHONPATH")) if p),
            "SPARK_DRIVER_MEM": env.get("SPARK_DRIVER_MEM", "2g"),
        })
        return env

    def start_spark(self, app: str):
        from baram_spark.session import get_spark

        extra = {"spark.local.dir": os.path.join(self.work, "spark-local"),
                 "spark.sql.warehouse.dir": os.path.join(self.work, "wh")}
        if self.trace:
            # the event log is the traced run's executor-side record
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": f"file://{self.event_dir}",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name=app, master=MASTER,
                               extra_conf=extra)
        return self.spark

    def warm_workers(self) -> None:
        """Start the Python worker pool and import the extraction and
        analysis modules in it before anything is timed (bench.py's
        methodology: a long-lived cluster's workers are warm)."""
        import pandas as pd

        def _warm(it):
            from baram_spark.textproc.analyzer import analyze_index
            from baram_spark.textproc.extract import extract_batch  # noqa: F401

            for pdf in it:
                analyze_index("워밍업 warm")
                yield pd.DataFrame({"x": [len(pdf)]})

        n = int(MASTER[len("local["):-1])  # one worker per task slot
        self.spark.range(0, n, 1, n).mapInPandas(_warm, "x long").count()

    def spawn(self, args: list[str]) -> subprocess.Popen:
        p = subprocess.Popen([sys.executable, *args], cwd=self.root,
                             env=self.child_env(), stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
        self._children.append(p)
        return p

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin and proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def write_trace(self, extra: dict) -> str:
        """Write the in-memory spans and counters; returns the path."""
        path = os.path.join(self.out_dir, f"trace-{self.workload}-s"
                            f"{self.seed}-{os.getpid()}.json")
        self.tracer.write(path, extra)
        return os.path.relpath(path, self.root)

    def close(self) -> None:
        for p in self._children:
            if p.poll() is None:
                p.kill()
            p.wait()
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)


def select_metrics(want: list, got: dict, exercised=None) -> tuple:
    """(metrics, missing names) for the ``want`` entries of BENCHMARK.json
    from the workload's figures ``got``. With ``exercised`` (the per-layer
    metrics the workload produces) a name outside it belongs to a layer
    the workload does not use and reads 0; any other missing name, e.g. a
    wrapper that stopped intercepting, is reported missing."""
    metrics, missing = {}, []
    for m in want:
        v = got.get(m["name"])
        if v is None and exercised is not None and m["name"] not in exercised:
            v = 0.0
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return metrics, missing


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("baram_spark/__init__.py", "__spark_entry__.py",
                           "BENCHMARK.json") if not os.path.isfile(p)]
    if missing:
        print(f"run from the repository root: missing {missing}",
              file=sys.stderr)
        return 2
    spec = load_bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ.update(run.child_env())
    t_start = time.time()
    facts = host_facts()
    facts["loadavg_before"] = os.getloadavg()
    ticks0 = cpu_ticks()
    try:
        if args.workload == "serve_mixed":
            import serve as wl
        else:
            import ops as wl
        res = wl.run(run)
    finally:
        signal.alarm(0)
        run.close()
    facts["loadavg_after"] = os.getloadavg()
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: the
    # first thing to check when a run reads slow
    facts["cpu_steal_share"] = ((ticks1[0] - ticks0[0])
                                / max(ticks1[1] - ticks0[1], 1))

    want = spec["per_layer" if args.trace else "end_to_end"]
    got = res["layers"] if args.trace else res["e2e"]
    metrics, missing = select_metrics(want, got,
                                      wl.LAYERS if args.trace else None)
    if missing:
        print(f"workload produced no {missing}", file=sys.stderr)
        return 3

    os.makedirs(run.out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(run.out_dir, f"{args.workload}-s{args.seed}"
                        f"-t{args.trace}-{stamp}-{os.getpid()}.json")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": facts,
              "wall_s": time.time() - t_start, "correct": res["correct"],
              "attempted": res["attempted"], "failed": res["failed"],
              "end_to_end": res["e2e"], "per_layer": res["layers"],
              "named": res["named"], "info": res.get("info", {})}
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"correct={res['correct']} failed={res['failed']}/"
          f"{res['attempted']} wall={record['wall_s']:.1f}s "
          f"nproc={facts['nproc']} cpu={facts['cpu_model']!r}",
          file=sys.stderr)
    for name, (v, unit) in sorted(res["named"].items()):
        print(f"#   {name:<34} {_fmt(v):>14} {unit}", file=sys.stderr)
    for err in res.get("errors", [])[:20]:
        print(f"# MISMATCH {err}", file=sys.stderr)
    print(f"# result: {os.path.relpath(path, root)}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
