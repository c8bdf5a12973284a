"""Linkage benchmark: one command, every metric by name and unit.

    python3 linkbench/run.py --workload link_mixed --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root.  It builds the native kernel, makes
the workload's inputs from ``--seed``, starts the measured Spark driver
(``worker.py``) in a fresh process on ``local[nproc]`` and watches its
process tree from outside.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones.  The last line of standard
output is one JSON object: correct, attempted, failed and metrics.
Everything it writes goes under ``.bench_build/linkbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
DRIVER_MEMORY = "2g"


def worker_env(root: str, work: str) -> dict:
    """Keep every file the program writes inside the checkout: the
    native kernel's compile cache lives under $HOME, Spark's scratch
    under SPARK_LOCAL_DIRS, the JVM's under java.io.tmpdir."""
    home = os.path.join(root, ".bench_build", "linkbench", "home")
    tmp = os.path.join(work, "tmp")
    for d in (home, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "HOME": home, "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def build(env: dict) -> None:
    """Compile the cffi scan; the benchmark measures the native path."""
    code = ("import sys, edlib_spark._native as n; "
            "sys.exit(0 if n.lib is not None else 3)")
    subprocess.run([sys.executable, "-c", code], env=env, check=True,
                   timeout=600, stdout=subprocess.DEVNULL)


class TreeWatch(threading.Thread):
    """Samples the RSS of a process tree every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.done = pid, threading.Event()
        self.peak_tree = self.peak_workers = 0.0

    def run(self):
        from procs import tree_rss_mb
        while not self.done.wait(0.1):
            total, workers = tree_rss_mb(self.pid)
            self.peak_tree = max(self.peak_tree, total)
            self.peak_workers = max(self.peak_workers, workers)


def stop_group(proc) -> None:
    """Kill whatever the worker left behind and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    from procs import group_alive
    deadline = time.monotonic() + 20
    while group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_worker(root, work, env, seconds, trace):
    log_path = os.path.join(work, "worker.log")
    events = {}
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             os.path.join(work, "spec.json"), str(seconds), str(trace)],
            cwd=root, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True)
        watch = TreeWatch(proc.pid)
        watch.start()
        timer = threading.Timer(TIMEOUT_S, os.killpg,
                                (proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("@@LB "):
                    ev = json.loads(line[5:])
                    events[ev.pop("event")] = ev
            proc.wait()
        finally:
            timer.cancel()
            watch.done.set()
            watch.join()
            stop_group(proc)
    with open(log_path) as fh:
        log_text = fh.read()
    if proc.returncode != 0 or "tally" not in events:
        sys.stderr.write(log_text[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    events["error_lines"] = sum(" ERROR " in ln
                                for ln in log_text.splitlines())
    events["setup_s"] = events["setup"]["first_checked"] - t_spawn
    events["peak_tree_mb"] = watch.peak_tree
    events["peak_workers_mb"] = watch.peak_workers
    return events


def end_to_end(ev: dict) -> dict:
    jobs = ev["jobs"]
    job_s = statistics.median(jobs["times"])
    return {
        "setup_s": ev["setup_s"],
        "job_s": job_s,
        "pairs_per_s": jobs["pairs"] / job_s,
        "cpu_s": statistics.median(jobs["cpus"]),
        "peak_rss_mb": ev["peak_workers_mb"],
        "f1": jobs["f1"],
    }


def per_layer(ev: dict, stamps) -> dict:
    m = dict(ev["layers"]["metrics"])
    m.update({
        "session.start_s": ev["setup"]["session_s"],
        "sources.load_s": ev["setup"]["load_s"],
        "spark.error_lines": ev["error_lines"],
        "process.peak_tree_rss_mb": ev["peak_tree_mb"],
        "process.peak_worker_rss_mb": ev["peak_workers_mb"],
        "host.stamp_pre": stamps[0], "host.stamp_post": stamps[1],
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "edlib_spark", "__init__.py")):
        print("linkbench: run from the repository root; no edlib_spark/ "
              "package here", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import workloads
    if args.workload not in workloads.BUILDERS:
        print(f"linkbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "linkbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, root, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root, work, workloads) -> int:
    from procs import host_stamp
    env = worker_env(root, work)
    build(env)
    spec = workloads.BUILDERS[args.workload](args.seed, work)
    with open(os.path.join(work, "spec.json"), "w") as fh:
        json.dump(spec, fh)
    stamp_pre = host_stamp()
    ev = run_worker(root, work, env, args.seconds, args.trace)
    stamps = (stamp_pre, host_stamp())

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    values = per_layer(ev, stamps) if args.trace else end_to_end(ev)
    if set(values) != set(units):
        raise RuntimeError("metric set differs from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    tally = ev["tally"]
    errors = tally["shape_errors"] + tally["errors"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: "
          f"{tally['attempted']} jobs checked, {tally['failed']} failed; "
          f"host stamp {stamps[0]:.3f}/{stamps[1]:.3f} units/s (pre/post)")
    print(f"# shape: {json.dumps(ev['shape'])}")
    if "jobs" in ev:
        print("# warm-up job_s "
              + " ".join(f"{t:.3f}" for t in ev["jobs"]["warmup"]))
        print(f"# timed jobs: {len(ev['jobs']['times'])}, job_s "
              + " ".join(f"{t:.3f}" for t in ev["jobs"]["times"]))
    print(f"# peak RSS MB: tree {ev['peak_tree_mb']:.1f}, Python workers "
          f"{ev['peak_workers_mb']:.1f}")
    for e in errors:
        print(f"# ERROR: {e}")
    for name in sorted(values):
        print(f"{name:36s} {values[name]:14.4f} {units[name]}")
    print(json.dumps({
        "correct": not errors,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in values.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
