"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cdc_delta --seed 1 --seconds 12 --trace 0

Run from the repository root. The run:

1. sizes a ``local[nproc]`` session from the host (driver memory from
   ``/proc/meminfo`` through ``SPARK_GRAFT_DRIVER_MEM``) and keeps every
   file it writes under ``.perfbench_work/`` of the checkout;
2. sets up: session start, a first trivial job, seeded datagen (done
   ``SETUP_REPEATS`` times, the median counts), engine-side preparation
   and the workload's untimed warm passes over its operations — together
   ``setup_s``;
3. measures a closed loop with one client for ``--seconds`` seconds:
   each operation starts when the previous one finished; whole passes
   only, at least one;
4. checks the outputs outside the timed samples; a mismatch counts as a
   failed operation and makes the command exit non-zero.

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json. With ``--trace 1`` the session also writes Spark's event
log, the loop runs a quarter of its time untraced, half traced and a
quarter untraced, and the metrics are the per-layer metrics; a
per-layer self-time table goes to standard error. Details of every run (samples, host diagnostics, spans)
are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "osm_wikipedia_tag_validator_spark"
SETUP_REPEATS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(workdir: str, mem_mib: int) -> None:
    """Keep the JVM, the Python workers and every temporary file inside
    the checkout."""
    tmp = os.path.join(workdir, "tmp")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mib}m"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session_conf(workdir: str, trace: bool) -> dict[str, str]:
    java = f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
    conf = {
        "spark.driver.extraJavaOptions": java,
        "spark.executor.extraJavaOptions": java,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(workdir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from osm_wikipedia_tag_validator_spark.session import stop_spark

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    stop_spark()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the JVM is reaped below
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Loop:
    """Closed loop with one client over the workload's operation cycle.
    Every operation gets a run-wide index ``i`` (inputs such as a delta
    are derived from it); the tracer groups spans by pass."""

    def __init__(self, wl, run):
        self.wl, self.run = wl, run
        self.i = 0
        self.passes = 0
        self.failed = 0

    def one_pass(self, samples: dict[str, list[float]]) -> float:
        """Run each operation once; returns the pass wall time. A failed
        operation counts as +inf and the run goes on."""
        self.run.tracer.iteration = self.passes
        self.passes += 1
        total = 0.0
        for op in self.wl.ops:
            self.wl.before_op(self.run, op, self.i)
            try:
                with self.run.tracer.span("driver.op", op=op):
                    dt = self.wl.run_op(self.run, op, self.i)
            except Exception:  # one failed operation must not end the run
                traceback.print_exc()
                self.failed += 1
                dt = math.inf
            self.i += 1
            samples.setdefault(op, []).append(dt)
            total += dt
        return total

    def measure(self, seconds: float, samples: dict[str, list[float]]) -> None:
        """Whole passes for ``seconds``: another pass starts only if the
        last one, repeated, would end inside the window."""
        t_end = time.perf_counter() + seconds
        while True:
            last = self.one_pass(samples)
            if not math.isfinite(last) or time.perf_counter() + last > t_end:
                return


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, report
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    cores = host.cpu_count()
    mem_mib = host.driver_memory_mib()
    workdir = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    _environment(workdir, mem_mib)
    diag = {"loadavg_start": host.loadavg(), "steal_start": host.steal_jiffies(),
            "cores": cores, "driver_memory_mib": mem_mib}

    from osm_wikipedia_tag_validator_spark.session import get_spark
    from perfbench import eventlog
    from perfbench.tracing import Tracer

    spark, log = None, None
    try:
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app_name=f"perfbench-{wl.name}",
                          extra_conf=_session_conf(workdir, trace))
        setup = {"session.start_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        spark.range(cores, numPartitions=cores).count()
        setup["session.warm_s"] = time.perf_counter() - t0
        run = Run(spark, Tracer(spark, enabled=False), workdir, args.seed, files=2 * cores)
        run.build_dims()

        gen_s, rows = [], 0
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            rows = wl.generate(args.seed, os.path.join(workdir, f"data{r}"), run.files)
            gen_s.append(time.perf_counter() - t0)
        run.data = os.path.join(workdir, "data0")
        setup["datagen.gen_s"] = statistics.median(gen_s)
        setup["datagen.rows"] = rows
        t0 = time.perf_counter()
        wl.prepare(run)
        setup["prepare_s"] = time.perf_counter() - t0
        loop = Loop(wl, run)
        warm: dict[str, list[float]] = {}
        setup["warm_passes_s"] = sum(loop.one_pass(warm) for _ in range(wl.warm_passes))
        setup_s = (setup["session.start_s"] + setup["session.warm_s"] + setup["datagen.gen_s"]
                   + setup["prepare_s"] + setup["warm_passes_s"])

        samples: dict[str, list[float]] = {}
        untraced: dict[str, list[float]] = {}
        if trace:
            # untraced quarter, traced half, untraced quarter: operations
            # still get faster pass after pass, and a steady trend cancels
            # out of traced minus untraced only when the traced passes sit
            # between the untraced ones
            untraced_tracer, tracer = run.tracer, Tracer(spark, enabled=True)
            loop.measure(args.seconds / 4, untraced)
            run.tracer = tracer
            tracer.install()
            loop.measure(args.seconds / 2, samples)
            tracer.uninstall()
            run.tracer = untraced_tracer
            loop.measure(args.seconds / 4, untraced)
        else:
            loop.measure(args.seconds, samples)

        t0 = time.perf_counter()
        wl.check(run)
        check_s = time.perf_counter() - t0
        peak = host.peak_rss_bytes(getattr(spark.sparkContext._gateway.proc, "pid", None))
        peak += host.self_peak_rss_bytes()
        _stop(spark)
        spark = None
        if trace:  # the event log is complete once the session has stopped
            log = eventlog.parse_dir(os.path.join(workdir, "eventlog"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    diag["steal_delta"] = host.steal_jiffies() - diag["steal_start"]
    failed = loop.failed + len(run.failures)
    attempted = loop.i + len(run.failures)
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "setup": setup, "setup_s": setup_s, "datagen_repeats_s": gen_s, "check_s": check_s,
        "peak_rss_gb": peak / 2**30, "host": diag, "failures": run.failures,
        "warm_s": warm, "samples_s": samples, "ops": report.op_summaries(samples),
        "items": wl.items,
    }
    if trace:
        metrics, table = report.per_layer(tracer, log, setup, peak, samples, untraced)
        detail["layer_table"] = table
        detail["untraced_s"] = untraced
        tracer.dump(os.path.join(outdir, f"{wl.name}-seed{args.seed}.spans.jsonl"))
        print(report.format_table(wl.name, table), file=sys.stderr)
    else:
        metrics = report.end_to_end(wl, setup_s, samples)
    detail["metrics"] = metrics
    with open(os.path.join(outdir, f"{wl.name}-seed{args.seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(report.format_ops(wl.name, detail), file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
