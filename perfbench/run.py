"""Benchmark entry point.

    python3 perfbench/run.py --workload udf_ops --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run is a fresh process tree: this
script starts ``child.py`` with the steadiness settings below, samples
the tree's resident memory, stops and waits for every process the run
started, and prints the run record and then, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). NOTES.md says what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import ctypes
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
sys.path.insert(0, HERE)

import probe  # noqa: E402
from child import PASSES_DONE  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CHILD_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "frac",
}
# the layer metrics printed with --trace 1; the record keeps the rest
# (py.*_s times that read 0 on workloads without Python, op.<name>_s)
PER_LAYER = (
    "session.start_s", "session.first_pass_s", "sources.load_s", "build_s", "build.jobs",
    "build.job_s", "plan.optimize_s", "plan.physical_s", "exec_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "py.sent_mb",
    "py.recv_mb", "py.rows", "driver.cpu_s", "host.busy_frac", "host.steal_frac",
    "trace.overhead_s",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _env(work: str) -> dict:
    """Steadiness settings for the run's process tree (reasons in NOTES.md)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        # no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([os.getcwd(), HERE]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


class RssSampler(threading.Thread):
    """Peak resident memory of the child's process tree, sampled until
    the timed passes end (output checks afterwards are not counted)."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.done = pid, 0.0, threading.Event()

    def run(self):
        while not self.done.wait(0.05):
            self.peak = max(self.peak, probe.tree_rss_mb(self.pid))


def _stop_tree(proc: subprocess.Popen) -> None:
    """Stop whatever the run left behind and wait for it. This process is
    a child subreaper, so the JVM and Python workers re-parent here when
    ``child.py`` exits and can be waited for: first a grace period for
    them to exit on their own, then SIGTERM, then SIGKILL."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    me = os.getpid()
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = [p for p in probe.tree(me) if p != me]
        for p in left if sig else ():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)
            left = [p for p in probe.tree(me) if p != me]
        if not left:
            return


def _layers(rec: dict) -> dict:
    """Per-layer metrics of a traced run: medians over the traced timed
    passes of each pass's sums."""
    traced = [p for p in rec["timed"] if p["traced"]]
    plain = [p for p in rec["timed"] if not p["traced"]]

    def med(f):
        return _median([f(p) for p in traced])

    def tot(key):
        return med(lambda p: sum(s.get(key, 0.0) for s in p["spans"]))

    def nested(sub, key):
        return med(lambda p: sum(s[sub][key] for s in p["spans"]))

    m = {
        "session.start_s": (rec["session_start_s"], "s"),
        "session.first_pass_s": (rec["first_pass_s"], "s"),
        "sources.load_s": (tot("load_s"), "s"),
        "build_s": (med(lambda p: sum(s["build_s"] - s["load_s"] for s in p["spans"])), "s"),
        "build.jobs": (tot("build_jobs"), "count"),
        "build.job_s": (tot("build_job_s"), "s"),
        "plan.optimize_s": (tot("optimize_s"), "s"),
        "plan.physical_s": (tot("physical_s"), "s"),
        "exec_s": (tot("exec_s"), "s"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                      ("spill_mb", "MB")):
        m[f"exec.{key}"] = (nested("exec", key), unit)
    for key, unit in (("py.run_s", "s"), ("py.boot_s", "s"), ("py.init_s", "s"),
                      ("py.sent_mb", "MB"), ("py.recv_mb", "MB"), ("py.rows", "count")):
        m[key] = (nested("py", key), unit)
    m["driver.cpu_s"] = (med(lambda p: p["driver_cpu_s"]), "s")
    m["host.busy_frac"] = (med(lambda p: p["busy_frac"]), "frac")
    m["host.steal_frac"] = (_median([p["steal_frac"] for p in rec["timed"]]), "frac")
    m["trace.overhead_s"] = (
        _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in plain]), "s"
    )
    for name in rec["ops"]:
        m[f"op.{name}_s"] = (
            med(lambda p, n=name: sum(s["op_s"] for s in p["spans"] if s["op"] == n)), "s"
        )
    return m


def _summary(rec: dict, peak_rss: float) -> tuple[dict, dict]:
    """(end-to-end metrics, extra record fields)."""
    plain = [p for p in rec["timed"] if not p["traced"]]
    # an operation fails if any of its executions raised or any of its
    # checked outputs differed, so one bad operation moves the share by
    # 1/len(ops) however many passes ran
    fail_frac = len(rec["failures"]) / len(rec["ops"])
    e2e = {
        "setup_s": rec["setup_s"],
        "pass_s": _median([p["wall_s"] for p in plain]),
        "pass_cpu_s": _median([p["cpu_s"] for p in plain]),
        "peak_rss_mb": peak_rss,
        "ok_frac": 1.0 - fail_frac,
    }
    extra = {
        "fail_frac": fail_frac,
        "warmup_passes": len(rec["warmup"]),
        "timed_passes": len(rec["timed"]),
        "pass_s_all": [p["wall_s"] for p in rec["timed"]],
        "host.steal_frac": _median([p["steal_frac"] for p in rec["timed"]]),
    }
    if rec["trace"]:
        layers = _layers(rec)
        extra["layers"] = layers
        traced = [p for p in rec["timed"] if p["traced"]]
        extra["build.jobs_per_pass"] = [
            sum(s.get("build_jobs", 0) for s in p["spans"]) for p in traced
        ]
        # load + build + exec against the traced pass's wall time less the
        # planning the trace itself forces
        extra["accounted_frac"] = _median([
            sum(s["build_s"] + s["exec_s"] for s in p["spans"])
            / (p["wall_s"] - sum(s["plan_s"] for s in p["spans"]))
            for p in traced
        ])
    return e2e, extra


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pandarallel_spark", "__init__.py")):
        print("perfbench: run from the repository root (pandarallel_spark/ not found)",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "child.log")

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a terminated run still stops its process tree (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_spawn = time.monotonic()
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--t-spawn", repr(t_spawn)]
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    lines: list[str] = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, env=_env(work), stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            sampler = RssSampler(proc.pid)
            sampler.start()
            timer = threading.Timer(CHILD_TIMEOUT_S, proc.kill)
            timer.start()
            try:
                for line in proc.stdout:
                    if line.startswith(PASSES_DONE):
                        sampler.done.set()
                    lines.append(line.rstrip("\n"))
                proc.wait()
            finally:
                timer.cancel()
                sampler.done.set()
                _stop_tree(proc)
        ok = proc.returncode == 0 and lines and lines[-1].startswith("{")
        if not ok:
            shutil.copy(log_path, os.path.join(records, name + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        with open(os.path.join(records, name + ".log")) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: child exited with {proc.returncode}\n{tail}", file=sys.stderr)
        return 1
    rec = json.loads(lines[-1])

    e2e, extra = _summary(rec, sampler.peak)
    record = {**{k: rec[k] for k in ("workload", "seed", "seconds", "trace", "cpus",
                                     "driver_heap", "input_id", "sizes", "ops",
                                     "warmup_settled", "attempted", "failed",
                                     "failures")},
              "end_to_end": e2e, **extra, "passes": rec["warmup"] + rec["timed"]}
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    brief = {k: v for k, v in record.items() if k != "passes"}
    print("perfbench record: " + json.dumps(brief))
    if args.trace:
        layers = extra["layers"]
        metrics = {k: {"value": layers[k][0], "unit": layers[k][1]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
