"""klog-spark benchmark: one seeded workload per run, outputs checked.

    python3 perfbench/run.py --workload cold_stage --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; the program under test is the checkout's
``klog_spark`` package. ``--trace 0`` prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs the layer trace instead
(``trace_layers.py``) and prints the per-layer metrics. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` (see ``inputs.py``) and cached under
``perfbench/.cache``; everything a run writes (staged tables, Spark's local
dirs, the event log) lives under ``perfbench/.work`` on the checkout's disk —
not tmpfs — and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
WORK = HERE / ".work"

#: input sizes and the fewest measured cycles per run; SMOKE is the
#: benchmark's own test scale
FULL = {"klog_sf": 0.003, "corpus_docs": 1200, "increments": 4, "min_cycles": 1}
SMOKE = {"klog_sf": 0.001, "corpus_docs": 300, "increments": 3, "min_cycles": 1}

SETUPS = 3  # set-up repetitions per run; setup_s is their median


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--break-check", action="store_true",
                    help="perturb one expected answer (proves the output checks are live)")
    args = ap.parse_args(argv)
    args.cores = len(os.sched_getaffinity(0))  # local[$(nproc)]
    return args


def prepare_environment(work: Path) -> None:
    """Make the checkout's package importable here and in Spark's Python
    workers, and keep JVM and Python temp files inside the work dir."""
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def klog_inputs(seed: int, scale: dict):
    from inputs import KlogInputs

    return KlogInputs(CACHE, scale["klog_sf"], seed)


def corpus_inputs(seed: int, scale: dict):
    from inputs import CorpusInputs

    return CorpusInputs(CACHE, scale["corpus_docs"], seed)


def make_workload(name: str, work: Path, seed: int, inputs, scale: dict):
    """The workload, without a session yet: each set-up gives it one."""
    import workloads as w

    if name == "cold_stage":
        return w.ColdStage(None, work, seed, inputs)
    if name == "staged_queries":
        return w.StagedQueries(None, work, seed, inputs)
    if name == "incremental_resume":
        return w.IncrementalResume(None, work, seed, inputs, scale["increments"])
    return w.CorpusDedup(None, work, seed, inputs)


def break_one_expectation(inputs) -> None:
    """Make one expected count wrong: one batch row too many (in the whole
    input and in its first dump file), or one planted copy that is not there."""
    if hasattr(inputs, "oracle"):
        o = inputs.oracle
        o["sinks"]["batch"] += 1
        first = o["sinks_per_file"][sorted(o["sinks_per_file"])[0]]
        first["batch"] = first.get("batch", 0) + 1
    else:
        inputs.truth["exact_pairs"].append([-1, -2])


class Loop:
    """The closed measurement loop: whole cycles, each operation timed with
    ``perf_counter``, checked untimed, operator caches released after it.
    Untimed cycles are neither checked nor counted: a check runs Spark jobs
    of its own, and the measured cycles' checks cover the same code (on
    incremental_resume, every increment committed so far)."""

    def __init__(self, wl, log):
        self.wl, self.log = wl, log
        self.samples: list[tuple[str, float]] = []
        self.attempted = self.failed = self.rows = 0
        self.busy = 0.0

    def run_cycle(self, i: int, measured: bool = True) -> None:
        from klog_spark.cachereg import release_tracked
        from workloads import CheckFailed

        times = []
        for op in self.wl.cycle(i):
            t0 = time.perf_counter()
            try:
                result = op.run()
                dt = time.perf_counter() - t0
                if measured:
                    op.check(result)
            except CheckFailed as e:
                ok = False
                self.log(f"check failed: {op.name}: {e}")
            except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
                ok = False
                self.log(f"operation raised: {op.name}\n{traceback.format_exc()}")
            else:
                ok = True
                times.append(f"{op.name} {dt:.3f}")
            finally:
                release_tracked()
            if measured:
                self.attempted += 1
                if ok:
                    self.samples.append((op.name, dt))
                    self.busy += dt
                    self.rows += op.rows
                else:
                    self.failed += 1
        self.wl.end_cycle(i)
        self.log(f"cycle {i}{'' if measured else ' (untimed)'}: " + ", ".join(times))


def set_up(args, work: Path, wl, log) -> float:
    """One set-up: (re)start the session, warm the Python workers and run
    the workload's own set-up in it. Returns the time taken."""
    from engine import start_session, warm_workers

    if wl.spark is not None:
        wl.spark.stop()
    t0 = time.perf_counter()
    spark = wl.spark = start_session(args.cores, work)
    t1 = time.perf_counter()
    warm_workers(spark)
    t2 = time.perf_counter()
    wl.setup()
    dt = time.perf_counter() - t0
    log(f"setup: {dt:.3f} s (session {t1 - t0:.3f}, workers {t2 - t1:.3f})")
    return dt


def timed_run(args, work: Path, inputs, scale, log) -> dict:
    """``SETUPS`` set-ups, untimed warm-up cycles, then timed cycles. The
    first set-up launches the JVM; the others restart the session inside it,
    before the warm-up or, where the workload asks for it, after. ``setup_s``
    is the median set-up, a restart: it leaves the JVM launch out."""
    from engine import stop_session
    from workloads import median

    wl = make_workload(args.workload, work, args.seed, inputs, scale)
    setups = []
    try:
        while len(setups) < (1 if wl.setups_after_warmup else SETUPS):
            setups.append(set_up(args, work, wl, log))
        wl.prepare()
        loop = Loop(wl, log)
        for i in range(wl.warmup_cycles):  # untimed full warm-up
            loop.run_cycle(i, measured=False)
        while len(setups) < SETUPS:
            setups.append(set_up(args, work, wl, log))
        i, done, t_start = wl.warmup_cycles, 0, time.perf_counter()
        # whole rounds of measured cycles until the time is up, and at least min_cycles
        while done < scale["min_cycles"] or done % wl.round or time.perf_counter() - t_start < args.seconds:
            measured = wl.measured(i)
            loop.run_cycle(i, measured)
            done += measured
            i += 1
    finally:
        if wl.spark is not None:
            t0 = time.perf_counter()
            stop_session(wl.spark)
            log(f"session stopped in {time.perf_counter() - t0:.3f} s")

    times = [dt for _, dt in loop.samples]
    per_op: dict[str, list] = {}
    for name, dt in loop.samples:
        per_op.setdefault(name, []).append(dt)
    log(f"{len(times)} ops in {done} cycles; op medians: "
        + ", ".join(f"{k} {median(v):.3f}s" for k, v in per_op.items()))
    metrics = {
        "setup_s": (median(setups), "s"),
        "rows_per_s": (loop.rows / loop.busy if loop.busy else 0.0, "1/s"),
        "op_p50_s": (median(times) if times else 0.0, "s"),
    }
    if wl.stored_ratios:  # workloads that stage
        metrics["stored_bytes_ratio"] = (median(wl.stored_ratios), "ratio")
    return {"attempted": loop.attempted, "failed": loop.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "klog_spark" / "__init__.py").is_file():
        print(f"perfbench: no klog_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = WORK / f"run-{os.getpid()}"
    prepare_environment(work)

    t_start = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - t_start:6.1f}s] {msg}", flush=True)

    scale = SMOKE if args.smoke else FULL
    try:
        if args.trace:  # the traced run covers every layer, so it needs both inputs
            inputs = [klog_inputs(args.seed, scale), corpus_inputs(args.seed, scale)]
        elif args.workload == "corpus_dedup":
            inputs = [corpus_inputs(args.seed, scale)]
        else:
            inputs = [klog_inputs(args.seed, scale)]
        log("inputs ready")
        if args.break_check:
            for x in inputs:
                break_one_expectation(x)
        if args.trace:
            from trace_layers import traced_run

            out = traced_run(args, work, *inputs, scale, log)
        else:
            out = timed_run(args, work, inputs[0], scale, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
