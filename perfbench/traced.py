"""The traced pass and the per-layer metrics derived from its spans.

Layer names follow the program's modules. Times are sums of span durations
over the pass; job, stage and task counts come from each span's Spark job
group. ``queries.build_s`` is self time (the registry function's call
minus its catalog, materialize and connected-components spans); every
``*_jobs`` count is inclusive of nested spans. Operator SQLMetrics come from
``plans.metrics.run_with_metrics`` on a copy of each op's DataFrame, run
after the op's span under a job group of its own.
"""

from __future__ import annotations

import os
import sys

from tracing import Span, Tracer, children, outermost

COVERAGE = 0.95  # an op's top-level layer spans must cover this share of its latency
METRICS_GROUP = "perfbench-metrics"


def _sum_dur(spans: list[Span]) -> float:
    return sum(s.dur for s in spans)


def run(bench, args, run_pass, out_dir: str):
    """Run one traced pass on a fresh context with ``run_pass``; writes the
    spans under ``out_dir`` and returns (metrics, pass result)."""
    from spacex_data_pipeline_spark.plans.metrics import metrics_summary, run_with_metrics

    spark = bench.new_session()
    sc = spark.sparkContext
    tracer = Tracer(spark)
    frames, summaries, plan_nodes = {}, [], []

    def on_df(name, fn):
        with tracer.span("queries.build"):
            df = fn(spark, bench.sf_dir)
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("operators.exec"):
            rows = df.collect()
        frames[name] = df
        return df.columns, rows

    def after_op(name):
        df = frames.pop(name, None)
        if df is None:
            return
        sc.setJobGroup(METRICS_GROUP, "run_with_metrics")
        try:
            nodes = run_with_metrics(df.select("*"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan_nodes.append(len(nodes))
        summaries.append(metrics_summary(nodes))

    ops = bench.ops(on_df=on_df)
    tracer.install()
    try:
        res = run_pass(ops, tracer=tracer, after_op=after_op)
    finally:
        tracer.uninstall()

    # The latency run_pass measured around each op (and its op span) must be
    # covered by the op's top-level layer spans. Read ops run entirely inside
    # the build, plan and exec spans opened above, so for them this only
    # catches time the tracer spends outside its spans; daily_ingest ops are
    # covered by the program's own wrapped functions, so for them it also
    # catches time spent outside every traced layer.
    kids = children(tracer.spans)
    for op, latency in zip(kids.get(None, []), res.latencies):
        covered = _sum_dur(kids.get(op.id, []))
        if covered < COVERAGE * latency:
            res.failed += 1
            print(f"[perfbench] trace: {op.op} layer spans cover {covered:.3f} of {latency:.3f} s",
                  file=sys.stderr)

    jobs = tracer.jobs_by_span()
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"), jobs)
    return layer_metrics(tracer, jobs, summaries, plan_nodes), res


def layer_metrics(tracer: Tracer, jobs: dict[int, list[int]], summaries, plan_nodes) -> dict:
    spans = tracer.spans
    kids = children(spans)

    def jobs_in(s: Span) -> list[int]:
        out = list(jobs.get(s.id, []))
        for k in kids.get(s.id, []):
            out.extend(jobs_in(k))
        return out

    def njobs(ss: list[Span]) -> int:
        return sum(len(jobs_in(s)) for s in ss)

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    m: dict[str, tuple[float, str]] = {}
    cat = named("catalog")
    m["catalog.calls"] = (len(cat), "count")
    m["catalog.s"] = (_sum_dur(cat), "s")
    m["catalog.jobs"] = (njobs(cat), "count")

    build = named("queries.build")
    m["queries.build_s"] = (sum(s.dur - _sum_dur(kids.get(s.id, [])) for s in build), "s")
    m["queries.build_jobs"] = (njobs(build), "count")
    m["queries.plan_s"] = (_sum_dur(named("queries.plan")), "s")
    m["queries.plan_nodes"] = (sum(plan_nodes), "count")

    ex = named("operators.exec")
    ex_jobs = [j for s in ex for j in jobs_in(s)]
    stages = tracer.stage_counts(ex_jobs)
    m["operators.exec_s"] = (_sum_dur(ex), "s")
    m["operators.jobs"] = (len(ex_jobs), "count")
    m["operators.stages"] = (stages["stages"], "count")
    m["operators.tasks"] = (stages["tasks"], "count")
    m["operators.serial_stages"] = (stages["serial_stages"], "count")
    m["operators.shuffle_bytes"] = (sum(x["shuffle_bytes_written"] for x in summaries), "bytes")
    m["operators.spill_bytes"] = (sum(x["spill_size_bytes"] for x in summaries), "bytes")
    m["operators.peak_mem_bytes"] = (max((x["peak_operator_memory"] for x in summaries), default=0), "bytes")
    m["operators.rows_scanned"] = (sum(x["rows_scanned"] for x in summaries), "count")

    for short, name in (("materialize", "operators.dedup.materialize"), ("cc", "operators.dedup.cc")):
        top = outermost(spans, name)
        m[f"operators.dedup.{short}_calls"] = (len(top), "count")
        m[f"operators.dedup.{short}_s"] = (_sum_dur(top), "s")
        m[f"operators.dedup.{short}_jobs"] = (njobs(top), "count")

    m["sources.rest_api.ingest_s"] = (_sum_dur(outermost(spans, "sources.rest_api.ingest")), "s")
    sinks = outermost(spans, "sources.sinks.write")
    sink_bytes = sum(s.attrs.get("bytes", 0) for s in sinks)
    landed = sum(s.attrs.get("bytes", 0) for s in sinks if s.attrs["fn"] == "append")
    m["sources.sinks.write_s"] = (_sum_dur(sinks), "s")
    m["sources.sinks.write_jobs"] = (njobs(sinks), "count")
    m["sources.sinks.files_written"] = (sum(s.attrs.get("files", 0) for s in sinks), "count")
    m["sources.sinks.bytes_written"] = (sink_bytes, "bytes")
    m["sources.sinks.write_amplification"] = (sink_bytes / landed if landed else 0.0, "ratio")

    days = named("plans.warehouse.day")
    m["plans.warehouse.day_s"] = (_sum_dur(days), "s")
    m["plans.warehouse.day_jobs"] = (njobs(days), "count")
    m["plans.materialize.table_s"] = (_sum_dur(outermost(spans, "plans.materialize.table")), "s")

    m["streaming.catchup_s"] = (_sum_dur(outermost(spans, "streaming.catchup")), "s")
    m["streaming.batches"] = (sum(len(q.recentProgress) for _, q in tracer.streaming_queries), "count")

    prep = named("cli.prep_training")
    m["cli.prep_training_s"] = (_sum_dur(prep), "s")
    m["cli.prep_training_jobs"] = (njobs(prep), "count")
    m["cli.prep_training_bytes_written"] = (sum(s.attrs.get("bytes", 0) for s in prep), "bytes")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def session_metrics(setup: tuple[float, float], jvm_rss_mb: float) -> dict:
    return {
        "session.build_s": {"value": setup[0], "unit": "s"},
        "session.warmup_s": {"value": setup[1], "unit": "s"},
        "session.jvm_peak_rss_mb": {"value": jvm_rss_mb, "unit": "MB"},
    }
