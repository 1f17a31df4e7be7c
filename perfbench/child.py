"""The measured process of one benchmark run (started by ``run.py``).

One run: generate the inputs from the seed, start the session pinned to
the host's cores, run warm-up passes (the first one collects and checks
every output), then timed passes for the run length. Each pass reads its
own fresh copy of the input files and starts after a cleared cache and a
JVM GC. Prints progress markers and, last, one JSON record.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback
import warnings

import gen
import probe
import workloads

# Warm-up: the cold pass, then WARMUP_WARM[workload] passes. Under the
# default tiered JIT a pass's wall time settles after a few warm passes,
# while C2 keeps compiling for tens of passes; the registry queries'
# planner and scheduler code needs more passes than the UDF operators
# (NOTES.md). The count is fixed, not a time, so a run on a slow host does
# not start timing with a less compiled JVM; the record's
# ``warmup_settled`` says whether CPU per pass had stopped falling (the
# last warm pass within SETTLED of the one before).
WARMUP_WARM = {"udf_ops": 3, "windows": 8, "text_pipelines": 3}
SETTLED = 0.95
DRIVER_HEAP = "3g"
PASSES_DONE = "perfbench: timed passes done"


def settled(cpu: list[float]) -> bool:
    """Whether per-pass CPU seconds (warm passes, oldest first) have
    stopped falling."""
    return len(cpu) >= 2 and cpu[-1] >= SETTLED * cpu[-2]


def _now() -> float:
    return time.monotonic()


def _driver_cpu() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class LoadTimer:
    """Seconds spent in input reads (``load_table``, parquet reads),
    accumulated while ``on``; wraps the benchmark's calls into the
    sources layer."""

    def __init__(self):
        self.on = False
        self.s = 0.0

    def wrap(self, fn):
        def timed(*a, **k):
            if not self.on:
                return fn(*a, **k)
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self.s += time.perf_counter() - t

        return timed


class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.excluded = 0.0  # input generation, copies, GC, checks
        self.failures: dict[str, str] = {}  # op name -> first diff or traceback
        self.attempted = 0  # executions
        self.failed = 0
        self.loads = LoadTimer()
        self.stores = None
        self.pid = os.getpid()

    # -- set-up --------------------------------------------------------------
    def prepare_inputs(self) -> None:
        t = _now()
        self.master = os.path.join(self.work, "inputs")
        if self.args.workload == "udf_ops":
            frames = gen.udf_frames(self.args.seed)
            self.frame = frames["frame"]
        else:
            frames = gen.tables(self.args.seed)
        self.input_id = gen.write(frames, self.master)
        self.excluded += _now() - t

    def start_session(self) -> None:
        t = _now()
        from pandarallel_spark import get_spark

        self.cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            "perfbench",
            cpus=self.cpus,
            driver_memory=DRIVER_HEAP,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        if self.args.workload == "udf_ops":
            from pandarallel_spark.compat import pandarallel

            with warnings.catch_warnings():
                # the session above already carries the pinned settings
                warnings.simplefilter("ignore")
                pandarallel.initialize(nb_workers=self.cpus, verbose=0)
        self.session_start_s = _now() - t

    def build_ops(self) -> None:
        t = _now()
        if self.args.workload == "udf_ops":
            self.ops = workloads.udf_ops(self.frame, self.loads.wrap)
        else:
            self.ops = workloads.registry_ops(self.args.workload, self.master, self.loads.wrap)
        self.excluded += _now() - t  # pandas references are computed here

    # -- passes --------------------------------------------------------------
    def fresh_input(self, i: int) -> str:
        """Copy the inputs so no file identity, memo or page-cache entry
        carries over from an earlier pass; then clear Spark's cache and
        collect the JVM heap."""
        t = _now()
        d = os.path.join(self.work, f"pass{i}")
        shutil.copytree(self.master, d)
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        self.excluded += _now() - t
        return d

    def run_pass(self, i: int, collect: bool, traced: bool) -> dict:
        d = self.fresh_input(i)
        frame = self.frame.copy() if self.args.workload == "udf_ops" else None
        outputs: list[tuple[workloads.Op, object]] = []
        spans: list[dict] = []
        self.loads.on, self.loads.s = traced, 0.0
        cpu0, dcpu0, host0 = probe.tree_cpu_s(self.pid), _driver_cpu(), probe.host_cpu()
        jit0 = probe.jit_cpu(self.pid)
        t0 = _now()
        for op in self.ops:
            self.attempted += 1
            span = {"op": op.name, "kind": op.kind}
            load0 = self.loads.s
            if traced:
                span["mark0"] = self.stores.mark()
            a = b = p = _now()
            try:
                if op.kind == "compat":
                    out = op.run(frame)
                else:
                    df = op.run(self.spark, d)
                    b = p = _now()
                    if traced:
                        span["mark1"] = self.stores.mark()
                        span["optimize_s"], span["physical_s"] = probe.plan_phases(df)
                        p = _now()
                    if collect:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        out = None
                c = _now()
                if out is not None:
                    outputs.append((op, out))
            except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
                c = _now()
                self.failed += 1
                self.failures.setdefault(op.name, traceback.format_exc(limit=3)[-2000:])
            if traced:
                span["mark2"] = self.stores.mark()
            # spans: build = registry function or parallel_* call (input
            # loads inside it are reported apart as load_s), plan = the
            # traced run's forced Catalyst planning, exec = the action
            span.update(load_s=self.loads.s - load0, build_s=b - a, plan_s=p - b,
                        exec_s=c - p, op_s=c - a)
            spans.append(span)
        wall = _now() - t0
        cpu = probe.tree_cpu_s(self.pid) - cpu0
        jit = probe.jit_cpu_s(jit0, probe.jit_cpu(self.pid))
        dcpu = _driver_cpu() - dcpu0
        busy, steal = probe.host_shares(host0, probe.host_cpu())
        self.loads.on = False
        self.check(outputs)
        shutil.rmtree(d, ignore_errors=True)
        # cpu_s leaves out the JIT compiler threads: compiling is warm-up
        # work, and its bursts are what made CPU per pass spread (NOTES.md)
        rec = {"pass": i, "traced": traced, "wall_s": wall, "cpu_s": cpu - jit,
               "jit_cpu_s": jit, "driver_cpu_s": dcpu, "busy_frac": busy,
               "steal_frac": steal, "spans": spans}
        if traced:
            self.read_stores(rec)
        return rec

    def check(self, outputs) -> None:
        t = _now()
        for op, out in outputs:
            try:
                op.check(out)
            except AssertionError as e:
                self.failed += 1
                self.failures.setdefault(op.name, str(e)[-2000:])
            except Exception:  # noqa: BLE001 - e.g. a missing output column
                self.failed += 1
                self.failures.setdefault(op.name, traceback.format_exc(limit=3)[-2000:])
        self.excluded += _now() - t

    def read_stores(self, rec: dict) -> None:
        """Per-op layer numbers from Spark's status stores, read after the
        pass so the reads stay outside its wall time."""
        for s in rec["spans"]:
            (j0, e0), (j2, e2) = s.pop("mark0"), s.pop("mark2")
            j1 = s.pop("mark1", (j0, e0))[0] if s["kind"] == "engine" else j0
            build = self.stores.jobs(j0, j1)
            s["build_jobs"], s["build_job_s"] = build["jobs"], build["job_s"]
            s["exec"] = self.stores.jobs(j1, j2)
            s["py"] = self.stores.python(e0, e2)

    # -- the run -------------------------------------------------------------
    def main(self) -> dict:
        a = self.args
        self.prepare_inputs()
        self.start_session()
        if a.trace:
            self.stores = probe.SparkStores(self.spark)
        self.build_ops()
        warm = [self.run_pass(0, collect=True, traced=False)]
        for i in range(1, 1 + WARMUP_WARM[a.workload]):
            warm.append(self.run_pass(i, collect=False, traced=False))
        t_first = _now()
        setup_s = t_first - a.t_spawn - self.excluded
        timed = []
        i = len(warm)
        # trace runs mix traced and untraced passes in the order T U U T,
        # so both sides of trace.overhead_s come from one process and a
        # steady speed-up across passes favours neither side
        while _now() - t_first < a.seconds or (a.trace and len(timed) < 4):
            traced = bool(a.trace) and len(timed) % 4 in (0, 3)
            timed.append(self.run_pass(i, collect=False, traced=traced))
            i += 1
        print(PASSES_DONE, flush=True)
        return {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": self.cpus, "driver_heap": DRIVER_HEAP,
            "input_id": self.input_id, "sizes": gen.SIZES if a.workload != "udf_ops"
            else {"udf_rows": gen.UDF_ROWS, "many_groups": gen.MANY_GROUPS},
            "ops": [op.name for op in self.ops],
            "warmup_settled": settled([p["cpu_s"] for p in warm[1:]]),
            "setup_s": setup_s, "session_start_s": self.session_start_s,
            "first_pass_s": warm[0]["wall_s"],
            "attempted": self.attempted, "failed": self.failed, "failures": self.failures,
            "warmup": warm, "timed": timed,
        }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--t-spawn", type=float, required=True)
    args = p.parse_args()
    rec = Run(args).main()
    print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    sys.exit(main())
