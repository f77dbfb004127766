"""What one run measures: the timed pass with tracing off or, in a traced
run, a paired traced/untraced replay of that pass and the layer probes."""

from __future__ import annotations

import random
import statistics
from pathlib import Path

from perfbench import inputs, layers, spark_env, workloads
from perfbench.tracing import Tracer, pipeline_phases

#: pages of the articles corpus replayed by the in-process probes
EXTRACTOR_SAMPLE = 300
BOUNDARY_SAMPLE = 1000


def timed(wl, ctx, plan: int, setup_s: float) -> tuple[dict, list[dict]]:
    """The metrics of one closed-loop pass, tracing off: the end-to-end
    ones and, for the record, wall throughput and the JVM's RSS."""
    with spark_env.RssSampler(spark_env.jvm_pid()) as rss:
        ops = wl.run(ctx, plan)
    primary = wl.primary(ops)
    items = sum(o["items"] for o in primary)
    return {
        "setup_s": setup_s,
        "items_per_cpu_s": items / sum(o["cpu_s"] for o in primary),
        "peak_worker_rss_mb": rss.peak_workers / 2**20,
        "items_per_s": items / sum(o["s"] for o in primary),
        "peak_rss_mb": rss.peak / 2**20,
        "peak_rss_jvm_mb": rss.peak_jvm / 2**20,
    }, ops


def _traced_over_untraced(pair: tuple[dict, dict]) -> float:
    traced, untraced = pair if pair[0]["traced"] else pair[::-1]
    return traced["s"] / untraced["s"]


def _op_stats(tracer: Tracer, ops_spans: list[dict]) -> dict:
    """Mean Spark jobs, stages, executor time and shuffle bytes per
    operation, counting each operation's child spans."""
    kids = tracer.children()
    tot = {"jobs": 0, "stages": 0, "executor_ms": 0, "shuffle_write_bytes": 0}
    for op in ops_spans:
        for s in [op, *kids.get(op["id"], [])]:
            for key in tot:
                tot[key] += s[key]
    n = len(ops_spans)
    return {
        "ops.jobs": tot["jobs"] / n,
        "ops.stages": tot["stages"] / n,
        "ops.executor_s": tot["executor_ms"] / 1000 / n,
        "ops.shuffle_bytes": tot["shuffle_write_bytes"] / n,
    }


def traced(wl, ctx, plan: int, record: dict, trace_path: Path,
           probe_pages: int = workloads.ArticlesBulk.PAGES,
           extractor_sample: int = EXTRACTOR_SAMPLE, boundary_sample: int = BOUNDARY_SAMPLE):
    """Replay the timed pass with every operation run twice, traced and
    untraced, then run every layer probe on the seed's articles corpus.
    Returns (per-layer metrics, replayed operations); details go into
    ``record``, spans to ``trace_path``."""
    spark = ctx.spark
    tracer = Tracer(spark.sparkContext)
    ctx.tracer = tracer
    with pipeline_phases(tracer), spark_env.RssSampler(spark_env.jvm_pid()) as rss:
        replay = wl.run(ctx, plan)
    tracer.attach_stage_stats()
    ops_spans = [s for s in tracer.spans if s["parent"] is None]
    out = _op_stats(tracer, ops_spans)
    out["rss.jvm_peak_mb"] = rss.peak_jvm / 2**20
    out["rss.total_peak_mb"] = rss.peak / 2**20
    # geometric mean over the pairs: with the order alternating, the
    # second-run advantage cancels between a traced-first and an
    # untraced-first pair; with an odd count above one the first pair,
    # the coldest, is left out so that both orders count equally
    primary = wl.primary(replay)
    pairs = list(zip(primary[::2], primary[1::2]))
    if len(pairs) > 1 and len(pairs) % 2:
        pairs = pairs[1:]
    out["trace_overhead_frac"] = statistics.geometric_mean(map(_traced_over_untraced, pairs)) - 1
    if wl.name == "query_mix":
        record["queries"] = {
            s["run_id"]: {"s": s["end"] - s["start"], "jobs": s["jobs"],
                          "shuffle_bytes": s["shuffle_write_bytes"]}
            for s in ops_spans
        }
    else:
        record["workload_phases"] = layers.phase_summary(tracer, ops_spans)

    corpus = inputs.pages(ctx.cache, probe_pages, ctx.seed)
    rows = [r for r in inputs.read_rows([corpus]) if r["html"] is not None]
    rng = random.Random(ctx.seed)
    out.update(layers.extractor_probe(rng.sample(rows, extractor_sample)))
    out.update(layers.boundary_probe(rng.sample(rows, boundary_sample), spark_env.MAX_RECORDS_PER_BATCH))
    probes = ctx.work / "probes"
    pipeline, probe_ops = layers.pipeline_probe(ctx, inputs.slices(ctx.cache, 2, 100, ctx.seed), probes / "pipeline")
    out.update(pipeline)
    out.update(layers.prefix_probe(spark, tracer, corpus, probes / "prefix", 2 * ctx.k, workloads.NUM_SALTS))
    out["spark_efficiency"] = out["extract.plan_pages_per_s"] / (ctx.k * out["extractor.pages_per_s_1core"])
    tracer.write(trace_path, {"id": record["id"]})
    return out, replay + probe_ops
