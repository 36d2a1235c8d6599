"""Metric catalogue and the two kinds of run.

End-to-end metrics are the ones every workload has and that are never zero;
metrics that only some workloads have (the SQL time, the LLM request budget,
the key success rate) go to the report line of an untraced run
and to the per-layer metrics of a traced run. So does the JVM's peak RSS:
G1 grows the heap by its own timing, and across seeds the peak spreads by
more than any bound the benchmark could hold.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

from perfbench.status_store import StatusStore
from perfbench.trace import Tracer, install
from perfbench.workloads import CORPUS_ENTRIES, VacancyWorkload

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "1/s",
    "dedup_recall_pct": "%",
}

_SPARK = {
    "jobs": "count",
    "tasks": "count",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "executor_run_s": "s",
    "gc_s": "s",
}
_LAYERS = ("csv_source", "dedup", "enrichment", "sinks", "analysis", "pipeline")

PER_LAYER = {
    "session.get_spark_s": "s",
    "csv_source.list_s": "s",
    "csv_source.files_picked": "count",
    "csv_source.input_bytes": "bytes",
    "csv_source.scan_passes": "ratio",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "dedup.self_s": "s",
    "enrichment.title_self_s": "s",
    "enrichment.field_self_s": "s",
    "enrichment.keys": "count",
    "enrichment.broadcast": "count",
    "enrichment.keys_resolved_pct": "%",
    "enrichment.keys_exhausted": "count",
    "enrichment.keys_intended_fallback": "count",
    "llm_stub.requests": "count",
    "llm_stub.retries": "count",
    "llm_stub.faults_injected": "count",
    "llm_stub.busy_s": "s",
    "llm_stub.inflight_peak": "count",
    "llm_stub.keys_per_request": "ratio",
    "llm_stub.calls_per_key": "ratio",
    "sinks.self_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "analysis.q1_s": "s",
    "analysis.q2_s": "s",
    "analysis.sql_s": "s",
    "analysis.input_bytes": "bytes",
    "pipeline.build_s": "s",
    "pipeline.self_s": "s",
    **{
        f"queries.{e}.{m}": u
        for e in CORPUS_ENTRIES
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    "queries.dedup_minhash_lsh.recall_pct": "%",
    **{f"spark.{k}": u for k, u in _SPARK.items()},
    "spark.peak_rss_mb": "MB",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
    **{f"share.{layer}_pct": "%" for layer in _LAYERS},
}


@dataclass
class RunContext:
    workload: str
    seed: int
    machine: dict
    get_spark_s: float
    setup_s: float
    input_units: int
    truth: object


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def _col(results: list[dict], key: str) -> float:
    return _median(r.get(key) for r in results)


def _workload_quality(results: list[dict], wl) -> dict:
    """Metrics that depend on the workload kind, from checked jobs."""
    out: dict[str, float] = {}
    if not results:
        return out
    last = results[-1]
    if "rows_out" in last:
        out["dedup_recall_pct"] = wl.dedup_recall_pct(last["rows_out"])
        out["sql_s"] = _col(results, "sql_s")
        keys = last["keys"]
        out["keys_resolved_pct"] = 100.0 * _col(results, "keys_resolved") / keys
        out["keys_exhausted"] = _col(results, "keys_exhausted")
        out["keys_intended_fallback"] = _col(results, "keys_intended_fallback")
        if "requests" in last:
            out["llm_calls_per_key"] = _col(results, "requests") / keys
    else:
        out["dedup_recall_pct"] = last["dedup_recall_pct"]
    return out


def untraced_run(spark, wl, runner, seconds: float, ctx: RunContext) -> dict:
    results = runner.measure(seconds)
    return {"results": results, "job_s": _col(results, "job_s"), **_workload_quality(results, wl)}


def traced_run(spark, wl, runner, seconds: float, ctx: RunContext) -> dict:
    """Untraced jobs with status-store marks, then traced jobs whose lazy
    stages are materialized inside their spans."""
    store = StatusStore(spark)
    untraced = runner.measure(seconds, store=store)
    tracer = Tracer()
    pipeline = isinstance(wl, VacancyWorkload)
    if pipeline:
        install(tracer)
    traced = []
    for i in range(max(2, len(untraced))):
        tracer.run_id = f"job{i}"
        r = runner.job(tracer=tracer)
        if r is None:
            break
        traced.append((tracer.run_id, r))
    tracer.dump(
        os.path.join(
            os.path.dirname(os.path.dirname(wl.work)),
            "traces",
            f"{ctx.workload}-s{ctx.seed}.jsonl",
        )
    )

    m = {k: 0.0 for k in PER_LAYER}
    m["session.get_spark_s"] = ctx.get_spark_s
    spark_total = [r["spark_total"] for r in untraced if "spark_total" in r]
    for k in _SPARK:
        m[f"spark.{k}"] = _median(s[k] for s in spark_total)

    selfs = [tracer.self_times(run) for run, _ in traced]
    durs = [tracer.durations(run) for run, _ in traced]
    counts = [tracer.counts.get(run, {}) for run, _ in traced]
    results = [r for _, r in traced]

    def self_s(name):
        return _median(s.get(name, 0.0) for s in selfs)

    def dur_s(name):
        return _median(d.get(name, 0.0) for d in durs)

    def count(name):
        return _median(c.get(name, 0.0) for c in counts)

    job_traced = _col(results, "job_s")
    job_untraced = _col(untraced, "job_s")
    m["trace.job_s"] = job_traced
    m["trace.untraced_job_s"] = job_untraced
    m["trace.overhead_s"] = job_traced - job_untraced

    quality = _workload_quality(results, wl)
    if not results:
        pass  # every traced job failed; the run reports correct=false
    elif pipeline:
        csv_bytes = _median(r["spark_pipeline"]["input_bytes"] for r in untraced)
        m["csv_source.input_bytes"] = csv_bytes
        m["csv_source.scan_passes"] = csv_bytes / ctx.truth.picked_bytes
        m["analysis.input_bytes"] = _median(r["spark_sql"]["input_bytes"] for r in untraced)
        m["csv_source.list_s"] = self_s("csv_source.list")
        m["csv_source.files_picked"] = count("csv_source.files_picked")
        m["dedup.rows_in"] = count("dedup.rows_in")
        m["dedup.rows_out"] = count("dedup.rows_out")
        m["dedup.self_s"] = self_s("dedup")
        m["enrichment.title_self_s"] = self_s("enrichment.title")
        m["enrichment.field_self_s"] = self_s("enrichment.field")
        m["enrichment.keys"] = count("enrichment.keys")
        m["enrichment.broadcast"] = count("enrichment.broadcast")
        m["enrichment.keys_resolved_pct"] = quality["keys_resolved_pct"]
        m["enrichment.keys_exhausted"] = quality["keys_exhausted"]
        m["enrichment.keys_intended_fallback"] = quality["keys_intended_fallback"]
        m["sinks.self_s"] = self_s("sinks.write")
        m["sinks.bytes_written"] = _col(results, "bytes_written")
        m["sinks.files_written"] = _col(results, "files_written")
        m["analysis.q1_s"] = dur_s("analysis.q1")
        m["analysis.q2_s"] = dur_s("analysis.q2")
        m["analysis.sql_s"] = _col(results, "sql_s")
        m["pipeline.build_s"] = dur_s("pipeline.run")
        m["pipeline.self_s"] = self_s("pipeline.run")
        if "requests" in results[0]:
            for k in ("requests", "retries", "faults_injected", "busy_s", "inflight_peak", "keys_per_request"):
                m[f"llm_stub.{k}"] = _col(results, k)
            m["llm_stub.calls_per_key"] = quality["llm_calls_per_key"]
        layer_self = {
            "csv_source": self_s("csv_source.list") + self_s("csv_source.read"),
            "dedup": m["dedup.self_s"],
            "enrichment": m["enrichment.title_self_s"] + m["enrichment.field_self_s"],
            "sinks": m["sinks.self_s"],
            "analysis": dur_s("analysis.build") + m["analysis.sql_s"],
            "pipeline": m["pipeline.self_s"],
        }
        for layer, s in layer_self.items():
            m[f"share.{layer}_pct"] = 100.0 * s / job_traced
    else:
        for e in CORPUS_ENTRIES:
            m[f"queries.{e}.build_s"] = dur_s(f"queries.{e}.build")
            m[f"queries.{e}.exec_s"] = dur_s(f"queries.{e}.exec")
            m[f"queries.{e}.jobs"] = _col(untraced, f"{e}.jobs")
        m["queries.dedup_minhash_lsh.recall_pct"] = quality["dedup_recall_pct"]
    return {"results": untraced, "job_s": job_untraced, "per_layer": m, **_workload_quality(untraced, wl)}


def render(result: dict, ctx: RunContext, trace: bool) -> tuple[dict, dict]:
    """(report line, contract metrics)."""
    job_s = result["job_s"]
    e2e = {
        "setup_s": ctx.setup_s,
        "job_s": job_s,
        "rows_per_s": ctx.input_units / job_s if job_s else 0.0,
        "dedup_recall_pct": result.get("dedup_recall_pct", 0.0),
    }
    samples = [r["job_s"] for r in result["results"]]
    report = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "machine": ctx.machine,
        "inputs": {k: v for k, v in vars(ctx.truth).items() if isinstance(v, (int, float))},
        "job_s_samples": [round(s, 4) for s in samples],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "workload_metrics": {
            k: result[k]
            for k in (
                "peak_rss_mb",
                "sql_s",
                "llm_calls_per_key",
                "keys_resolved_pct",
                "keys_exhausted",
                "keys_intended_fallback",
            )
            if k in result
        },
    }
    if trace:
        per_layer = result["per_layer"]
        per_layer["spark.peak_rss_mb"] = result["peak_rss_mb"]
        report["per_layer"] = per_layer
        contract = {k: {"value": per_layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        contract = report["end_to_end"]
    return report, contract
