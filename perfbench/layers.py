"""Per-layer metrics of a traced run.

Every time or count is a mean per timed op (total over the timed ops divided
by their number), so the layer times of one workload add up to its mean op
latency: ``registry.build_s + operators.exec_s`` on ``udf_mix`` and
``pipeline.load_s`` on ``upsert_load``, each within ``trace.residual_max_s``.
``streaming.run_s`` is the part of ``registry.build_s`` spent in ``stream_*``
ops. ``session.get_spark_s`` and ``tables.first_touch_s`` are set-up costs,
paid once per run, and ``session.peak_rss_mb`` is the run's peak resident
memory. A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

from .trace import Tracer, attribute_jobs, job_cover

RESIDUAL_BOUND_S = 0.01  # per op: wall not covered by its direct child spans


class Patches:
    """Module attributes replaced for the traced run, restored by ``undo``."""

    def __init__(self):
        self._undo = []

    def _set(self, obj, name, value) -> None:
        if isinstance(obj, dict):
            old = obj[name]
            obj[name] = value
            self._undo.append(lambda: obj.__setitem__(name, old))
        else:
            old = getattr(obj, name)
            setattr(obj, name, value)
            self._undo.append(lambda: setattr(obj, name, old))

    def trace_pipeline(self, tracer: Tracer) -> None:
        """Record a span around each layer ``load_to_database`` calls."""
        from pyspark_postgres_loader_spark import pipeline

        self._set(pipeline, "get_source_dataframe",
                  tracer.wrap("sources", pipeline.get_source_dataframe))
        self._set(pipeline, "align_to_target",
                  tracer.wrap("schema_contract", pipeline.align_to_target))
        self._set(pipeline, "upsert_dataframe", tracer.wrap("sinks", pipeline.upsert_dataframe))
        schema_fn, key_fn = pipeline.INTROSPECTORS["duckdb"]
        self._set(pipeline.INTROSPECTORS, "duckdb",
                  (tracer.wrap("introspection", schema_fn), tracer.wrap("introspection", key_fn)))

    def undo(self) -> None:
        while self._undo:
            self._undo.pop()()


def diff_counts(after: dict, before: dict) -> dict:
    return {k: v - before.get(k, 0) for k, v in after.items()}


def _dur(span) -> float:
    return span.end - span.start


def layer_metrics(tracer: Tracer, jobs, ops, counts: dict, mix, e2e: dict, peak_rss_mb: float):
    """Returns ``({name: (value, unit)}, detail)`` for a traced run."""
    n = len(ops)
    timed = [s for s in tracer.spans if s.op is not None and s.op >= 0]

    def spans(name):
        return [s for s in timed if s.name == name]

    def total(name):
        return sum(_dur(s) for s in spans(name))

    phase_jobs, by_time = attribute_jobs(jobs, tracer, {"registry", "operators", "pipeline"})

    def jobs_of(phase):
        return [j for (op, ph), js in phase_jobs.items() if ph == phase and op >= 0 for j in js]

    def uncovered(name):
        return sum(_dur(s) - job_cover(jobs, s.start, s.end) for s in spans(name))

    once = {s.name: _dur(s) for s in tracer.spans if s.name in ("session", "tables")}
    builds = spans("registry")
    exec_jobs, load_jobs = jobs_of("operators"), jobs_of("pipeline")
    op_wall = sum(w for _, w, _, _ in ops)
    rows_loaded = sum(st.rows_loaded for st in getattr(mix, "stats", []))
    sent = counts.get("sinks.rows_sent", 0)
    batches = counts.get("sinks.batches", 0)

    residuals = []
    for op in spans("op"):
        kids = [c for c in timed if c.parent is not None and tracer.spans[c.parent] is op]
        residuals.append(_dur(op) - sum(_dur(c) for c in kids))

    per_op = {
        "registry.build_s": (total("registry"), "s"),
        "registry.build_jobs": (len(jobs_of("registry")), "count"),
        "streaming.run_s": (sum(_dur(s) for s in builds
                                if ops[s.op][0].startswith("stream_")), "s"),
        "operators.exec_s": (total("operators"), "s"),
        "operators.jobs": (len(exec_jobs), "count"),
        "operators.stages": (sum(j.stages_run for j in exec_jobs), "count"),
        "operators.tasks": (sum(j.tasks for j in exec_jobs), "count"),
        "operators.sched_gap_s": (uncovered("operators"), "s"),
        "operators.executor_cpu_s": (sum(j.cpu_s for j in exec_jobs), "s"),
        "operators.executor_run_s": (sum(j.run_s for j in exec_jobs), "s"),
        "operators.gc_s": (sum(j.gc_s for j in exec_jobs), "s"),
        "operators.python_udf_s": (sum(j.python_s for j in exec_jobs), "s"),
        "operators.shuffle_bytes": (sum(j.shuffle_bytes for j in exec_jobs), "bytes"),
        "operators.spill_bytes": (sum(j.spill_bytes for j in exec_jobs), "bytes"),
        "pipeline.load_s": (total("pipeline"), "s"),
        "pipeline.driver_s": (uncovered("pipeline"), "s"),
        "introspection.statements": (counts.get("introspection.statements", 0), "count"),
        "introspection.db_s": (counts.get("introspection.db_s", 0.0), "s"),
        "sinks.db_s": (counts.get("sinks.db_s", 0.0), "s"),
        "sinks.python_s": (sum(j.run_s for j in load_jobs) - counts.get("sinks.db_s", 0.0), "s"),
        "sinks.statements": (counts.get("sinks.statements", 0), "count"),
        "sinks.rows_sent": (sent, "count"),
        "sinks.rollbacks": (counts.get("sinks.rollbacks", 0), "count"),
        "sinks.connections": (counts.get("sinks.connections", 0), "count"),
    }
    metrics = {
        "session.get_spark_s": (once.get("session", 0.0), "s"),
        "tables.first_touch_s": (once.get("tables", 0.0), "s"),
        # VmHWM of the JVM plus the driver process; it varies by a third
        # between runs with the JVM's heap growth, too much for an end-to-end bound
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
    }
    metrics.update({k: (v / n, unit) for k, (v, unit) in per_op.items()})
    metrics.update({
        "registry.build_share": (total("registry") / op_wall, "ratio"),
        "sinks.useful_ratio": (rows_loaded / sent if sent else 0.0, "ratio"),
        "sinks.bisected_batch_share": (
            counts.get("sinks.bisected_batches", 0) / batches if batches else 0.0, "ratio"),
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.setup_s": e2e["setup_s"],
        "trace.residual_max_s": (max(residuals), "s"),
    })
    detail = {
        "jobs_total": len(jobs),
        "jobs_placed_by_time": by_time,
        "residual_bound_s": RESIDUAL_BOUND_S,
        "residual_within_bound": max(residuals) <= RESIDUAL_BOUND_S,
        "self_s": {k: round(v, 6) for k, v in sorted(tracer.self_times().items())},
        "db_counts": counts,
    }
    return metrics, detail
