"""Turn a run's samples, spans and event log into the metrics that
BENCHMARK.json names, plus the human-readable tables."""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from . import stats
from .tracing import layer_self_times, subtree

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s"}

# per-layer metric -> unit. Every workload reports all of them, per pass
# (one run of each of the workload's operations). Times are defined so
# that they are measured on every workload; counts of a layer a workload
# does not enter read 0 there. Per-span call times (knn.many,
# incremental.round, ...) are in the run record and the self-time table.
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s", "datagen.gen_s": "s", "datagen.rows": "count",
    "mem.peak_rss_gb": "GB",
    "call_s": "s", "call_max_s": "s", "call.py4j_calls": "count", "call.jobs": "count",
    "sink_s": "s", "sink.bytes_written": "B",
    "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "incremental.py4j_calls": "count", "cdc.jobs_per_round": "count", "cdc.jobs_per_round_1k": "count",
    "validator.call_share": "ratio", "validator.py4j_calls": "count", "validator.jobs_in_call": "count",
    "upsert.call_share": "ratio", "upsert.py4j_calls": "count", "upsert.jobs_in_call": "count",
    "knn.jobs_in_call": "count", "knn.py4j_calls": "count", "knn.few_jobs_in_call": "count",
    "ann.jobs_in_call": "count",
    "python.rows_from_worker": "count", "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B", "python.exec_share": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    "trace.self_sum_s": "s",
}

# layers whose spans wrap a public engine call (plan build plus the jobs
# the call runs itself: guards, collects, escalation rounds)
CALL_LAYERS = {"incremental", "knn", "ann", "spatial_join", "tiles", "upsert", "validator"}

_EXEC_KEYS = [k for k in PER_LAYER_UNITS if k.startswith("exec.")] + [
    "sink.bytes_written", "python.rows_from_worker", "python.bytes_to_worker",
    "python.bytes_from_worker"]


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def op_summaries(samples: dict[str, list[float]]) -> dict:
    return {op: stats.summarize(v) for op, v in samples.items()}


def pass_seconds(samples: dict[str, list[float]]) -> float:
    """One pass over the workload's operations, from per-operation
    medians (a burst of host noise in one sample moves no median)."""
    return sum(statistics.median(v) for v in samples.values())


def end_to_end(wl, setup_s: float, samples: dict[str, list[float]]) -> dict:
    pass_s = pass_seconds(samples)
    vals = {"setup_s": setup_s, "pass_s": pass_s, "items_per_s": sum(wl.items.values()) / pass_s}
    return {k: _metric(v, END_TO_END_UNITS[k]) for k, v in vals.items()}


def _pass_values(spans, groups, phases) -> Counter:
    """Per-layer values of one traced pass."""
    by_sid = {s.sid: s for s in spans}

    def inside_call(s) -> bool:
        """Whether a span of a call layer encloses ``s``."""
        while s.parent in by_sid:
            s = by_sid[s.parent]
            if s.layer in CALL_LAYERS:
                return True
        return False

    def below(pred):
        """Each span under (or at) a span matching ``pred``, once."""
        return list({s.sid: s for top in spans if pred(top)
                     for s in subtree(spans, top)}.values())

    def jobs(sub):
        return {j for s in sub for j in groups.get(s.group, ())}

    def py4j(sub):
        return sum(s.py4j_calls for s in sub)

    val = Counter()
    calls = [s for s in spans if s.layer in CALL_LAYERS and not inside_call(s)]
    val["call_s"] = sum(s.end - s.start for s in calls)
    val["call_max_s"] = max((s.end - s.start for s in calls), default=0.0)
    in_calls = below(lambda s: s.layer in CALL_LAYERS)
    val["call.py4j_calls"] = py4j(in_calls)
    val["call.jobs"] = len(jobs(in_calls))
    val["sink_s"] = sum(s.end - s.start for s in spans if s.layer == "sink")
    cdc1 = {s.sid for s in below(lambda s: s.attrs.get("op") == "cdc_1")}
    val["incremental.py4j_calls"] = py4j(
        below(lambda s: s.name == "incremental.round" and s.sid in cdc1))
    val["cdc.jobs_per_round"] = len(jobs(by_sid[i] for i in cdc1))
    val["cdc.jobs_per_round_1k"] = len(jobs(below(lambda s: s.attrs.get("op") == "cdc_1000")))
    roots = [s for s in spans if s.parent is None]
    pass_wall = sum(s.end - s.start for s in roots)
    for layer in ("validator", "upsert"):
        sub = below(lambda s: s.layer == layer)
        secs = sum(s.end - s.start for s in spans if s.layer == layer)
        val[f"{layer}.call_share"] = secs / pass_wall if pass_wall else 0.0
        val[f"{layer}.py4j_calls"] = py4j(sub)
        val[f"{layer}.jobs_in_call"] = len(jobs(sub))
    many = below(lambda s: s.name == "knn.many")
    val["knn.jobs_in_call"] = len(jobs(many))
    val["knn.py4j_calls"] = py4j(many)
    val["knn.few_jobs_in_call"] = len(jobs(below(lambda s: s.name == "knn.few")))
    val["ann.jobs_in_call"] = len(jobs(below(lambda s: s.name == "ann.cosine_topk")))
    lo, hi = min(s.start for s in roots), max(s.end for s in roots)
    for rec in phases:
        for phase, key in (("optimization", "catalyst.optimize_s"), ("planning", "catalyst.plan_s")):
            if phase in rec and lo <= rec[phase][0] <= hi:
                val[key] += rec[phase][1] - rec[phase][0]
    return val


def call_seconds(spans) -> dict[str, float]:
    """Median duration per pass of each public-call span name."""
    per_pass = defaultdict(Counter)
    for s in spans:
        if s.layer in CALL_LAYERS:
            per_pass[s.iteration][s.name] += s.end - s.start
    names = {n for c in per_pass.values() for n in c}
    return {n: statistics.median(c.get(n, 0.0) for c in per_pass.values()) for n in sorted(names)}


def per_layer(tracer, log, setup: dict, peak_bytes: int,
              traced: dict[str, list[float]], untraced: dict[str, list[float]]):
    """Per-layer metrics (medians over the traced passes) and the
    per-layer self-time table (mean per traced pass)."""
    groups = log.jobs_by_group()
    by_pass = defaultdict(list)
    for sp in tracer.spans:
        by_pass[sp.iteration].append(sp)
    per_pass = []
    self_by_layer = Counter()
    for sps in by_pass.values():
        val = _pass_values(sps, groups, tracer.plan_phases)
        totals = log.totals(sorted({j for s in sps for j in groups.get(s.group, ())}))
        for k in _EXEC_KEYS:
            val[k] = totals.get(k, 0)
        run_s = totals.get("exec.executor_run_s", 0)
        val["python.exec_share"] = totals.get("python.exec_s", 0) / run_s if run_s else 0.0
        per_pass.append(val)
        self_by_layer.update(layer_self_times(sps))
    n = len(by_pass)
    table = {layer: t / n for layer, t in sorted(self_by_layer.items(), key=lambda kv: -kv[1])}
    vals = {k: statistics.median(v.get(k, 0) for v in per_pass) for k in PER_LAYER_UNITS}
    for k in ("session.start_s", "session.warm_s", "datagen.gen_s", "datagen.rows"):
        vals[k] = setup[k]
    vals["mem.peak_rss_gb"] = peak_bytes / 2**30
    vals["trace.pass_s"] = pass_seconds(traced)
    vals["trace.untraced_pass_s"] = pass_seconds(untraced)
    vals["trace.overhead_s"] = vals["trace.pass_s"] - vals["trace.untraced_pass_s"]
    vals["trace.self_sum_s"] = sum(table.values())
    table["(untraced pass)"] = vals["trace.untraced_pass_s"]
    table["(traced pass, medians)"] = vals["trace.pass_s"]
    table["(tracing overhead)"] = vals["trace.overhead_s"]
    for k in ("cdc.jobs_per_round", "cdc.jobs_per_round_1k", "validator.jobs_in_call",
              "upsert.jobs_in_call", "knn.jobs_in_call", "exec.jobs"):
        table[f"({k})"] = vals[k]
    for name, secs in call_seconds(tracer.spans).items():
        table[f"(call {name})"] = secs
    return {k: _metric(vals[k], u) for k, u in PER_LAYER_UNITS.items()}, table


def format_table(workload: str, table: dict) -> str:
    lines = [f"# {workload}: layer self time per traced pass (s)"]
    total = sum(v for k, v in table.items() if not k.startswith("("))
    for layer, v in table.items():
        share = f"{100 * v / total:5.1f}%" if not layer.startswith("(") and total else ""
        lines.append(f"#   {layer:<28} {v:10.4f} {share}")
    lines.append(f"#   {'(sum of self times)':<28} {total:10.4f}")
    return "\n".join(lines)


def format_ops(workload: str, detail: dict) -> str:
    lines = [f"# {workload}: setup_s={detail['setup_s']:.3f} host={detail['host']}"]
    for op, s in detail["ops"].items():
        tail = f"p{s['tail_pct']:g}={s['tail']:.4f}s" if s["tail_pct"] else "tail=n/a"
        lines.append(f"#   {op:<12} n={s['n']:<4} p50={s['median']:.4f}s {tail}")
    lines += [f"#   FAILED: {f}" for f in detail["failures"]]
    return "\n".join(lines)
