"""From a workload's ``Result`` and the run's spans and Spark jobs to the
printed report and result line."""

from __future__ import annotations

import time

from spans import job_coverage, job_metrics, jobs_in
from stats import median, percentile, tail_percentile

#: end-to-end metrics, reported by every workload (untraced runs)
E2E = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s"}

#: each workload's own names for the generic end-to-end metrics
WORKLOAD_NAMES = {
    "nightly_batch": {"op_p50_s": "batch_wall_s", "work_per_s": "batch_premiums_per_s"},
    "serving_mix": {"op_p50_s": "serve_p50_s", "work_per_s": "serve_qps"},
}

#: layers whose calls the workloads wrap in <layer>.build / .plan / .exec spans
FLOW_LAYERS = ("sources", "fixtures", "builder", "consolidate", "calc", "export")
JOB_KEYS = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_mb", "spill_mb")

FAMILIES = ("calc", "ann", "builder", "consolidate", "export", "text", "audit")
SPARK_KEYS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_overhead_s",
)

#: layer-specific counts a workload fills in ``Result.layer``
LAYER_COUNTS = {
    "sources.rows": "count", "sources.input_mb": "MB", "fixtures.rows": "count",
    "consolidate.rows_in": "count", "consolidate.rows_out": "count",
    "calc.gl_rows": "count", "export.written_mb": "MB", "export.write_amp": "ratio",
    "export.files": "count", "caching.held_mb": "MB", "caching.frames": "count",
}


def _unit(name: str) -> str:
    if name in LAYER_COUNTS:
        return LAYER_COUNTS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "session.warm_s"]
    names += [f"session.warm.{f}_s" for f in FAMILIES]
    for layer in FLOW_LAYERS:
        names += [f"{layer}.{k}" for k in ("build_s", "plan_s", "exec_s")]
        names += [f"{layer}.{k}" for k in JOB_KEYS]
    names += list(LAYER_COUNTS)
    names += ["serve.build_s", "serve.plan_s", "serve.exec_s",
              "serve.jobs_per_req", "serve.tasks_per_req"]
    names += [f"serve.{f}.p50_s" for f in FAMILIES]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += ["driver.no_job_s", "batch.uncovered_s", "batch.stage_share", "trace.plan_s",
              "calibration.pre_s"]
    return names


def _per_layer(h, res, jobs) -> dict[str, float]:
    """Session metrics cover set-up; flow-layer and serving metrics cover
    the timed region only (set-up passes and rounds are warm-up)."""
    t = h.tracer
    timed = t.named("timed")[0]
    out: dict[str, float] = {n: 0.0 for n in per_layer_names()}
    out["session.start_s"] = t.total("session.start")
    out["session.warm_s"] = t.total("session.warm")
    for fam in FAMILIES:
        out[f"session.warm.{fam}_s"] = t.total(f"session.warm.{fam}")
    for layer in FLOW_LAYERS:
        for k in ("build", "plan", "exec"):
            out[f"{layer}.{k}_s"] = t.total(f"{layer}.{k}", timed)
        jm = job_metrics(jobs_in(jobs, t, f"{layer}.exec", timed))
        for k in JOB_KEYS:
            out[f"{layer}.{k}"] = jm[k]
    req = t.named("serve.request", timed)
    if req:
        for k in ("build", "plan", "exec"):
            out[f"serve.{k}_s"] = t.total(f"serve.{k}", timed)
        sj = job_metrics(jobs_in(jobs, t, "serve.exec", timed))
        out["serve.jobs_per_req"] = sj["jobs"] / len(req)
        out["serve.tasks_per_req"] = sj["tasks"] / len(req)
        for fam in FAMILIES:
            lat = [s.dur for s in req if s.attrs.get("family") == fam]
            if lat:
                out[f"serve.{fam}.p50_s"] = median(lat)
    sm = job_metrics(jobs)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = sm[k]
    out["driver.no_job_s"] = job_coverage(jobs, timed.start, timed.end)[1]
    batches = t.named("batch", timed)
    if batches:
        wall = sum(b.dur for b in batches)
        stages = sum(s.dur for s in t.spans if s.name.startswith("stage.")
                     and timed.start <= s.start <= timed.end)
        out["batch.uncovered_s"] = wall - stages
        out["batch.stage_share"] = stages / wall
    out["trace.plan_s"] = sum(s.dur for s in t.spans if s.name.endswith(".plan"))
    # host speed just before the timed region: the probe a comparison
    # of two traced runs can normalise by
    out["calibration.pre_s"] = dict(h.calibration)["pre"]
    for name, v in res.layer.items():
        if name in out:
            out[name] = float(v)
    return out


def summarize(workload: str, h, res, mode: dict) -> tuple[dict, dict]:
    """(report with every number and its context, the result line)."""
    attempted = len(res.ops)
    failed = sum(not op.ok for op in res.ops)
    n = len(res.latencies)
    e2e = {
        "setup_s": res.setup_s,
        "op_p50_s": median(res.latencies),
        "work_per_s": res.units / res.busy_s,
    }
    names = WORKLOAD_NAMES[workload]
    report: dict = {
        "workload": workload,
        "traced": h.traced,
        "samples": n,
        "error_rate": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "units": res.units,
        "unit": res.unit,
        "mode": mode,
        "calibration_s": h.calibration_report(),
        "failed_ops": sorted({op.name for op in res.ops if not op.ok}),
        "check_s": h.tracer.total("check"),
        "run_wall_s": time.time() - h.t_start,
    }
    for k, v in e2e.items():
        report[names.get(k, k)] = {"value": v, "unit": E2E[k]}
    p = tail_percentile(n)
    if p is not None and p > 50:
        report[f"op_p{p:g}_s"] = {"value": percentile(res.latencies, p), "unit": "s"}
    report.update(res.report)
    if h.traced:
        jobs = h.jobs()
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in _per_layer(h, res, jobs).items()}
        report["event_log_jobs"] = len(jobs)
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return report, line

