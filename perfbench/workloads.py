"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returns. ``plan(seconds)``
turns the run length into a fixed number of operations, from the
workload's nominal operation time on a 4-core host, so every run of a
workload does the same work in the same order.

An operation is a dict: kind, label, s (its wall time), cpu_s (the
program's CPU time in it), traced (whether it ran under a span), items
(pages processed, or 1 per query) and error (None when its output
checked out).
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from statistics import median

from perfbench import gate, inputs
from perfbench.spark_env import program_cpu_s
from perfbench.tracing import Tracer

NUM_SALTS = 64


@dataclass
class Ctx:
    spark: object
    k: int
    seed: int
    work: Path
    cache: Path
    #: set for the traced replay (see op_tracers)
    tracer: Tracer | None = None


def pipeline_cfg(k: int, pages_path: Path, out_dir: Path, run_id: str):
    """``run_extract``'s config, as ``jobs/extract_run.py`` builds it:
    resume and dedup on, salted repartition sized from k."""
    from readembedability_spark.plans.pipeline import RunConfig

    return RunConfig(
        pages_path=str(pages_path), out_dir=str(out_dir), run_id=run_id,
        parallelism=2 * k, num_salts=NUM_SALTS,
    )


def _span(tracer: Tracer | None, name: str, label: str):
    return nullcontext() if tracer is None else tracer.span(name, run_id=label)


def op_tracers(ctx: Ctx, n: int):
    """(index, tracer or None) for the n operations of a pass. In a traced
    replay every operation runs twice, once traced and once not, and which
    goes first alternates, so the two halves see the same JVM warmth and
    trace_overhead_frac compares like with like."""
    for i in range(n):
        if ctx.tracer is None:
            yield i, None
        else:
            for tracer in ((None, ctx.tracer) if i % 2 == 0 else (ctx.tracer, None)):
                yield i, tracer


def extract_call(ctx: Ctx, tracer: Tracer | None, pages_path: Path, out_dir: Path, run_id: str, label: str):
    """One ``run_extract`` call (a "run_extract" span when traced);
    returns (summary, wall seconds, program CPU seconds)."""
    from readembedability_spark.plans.pipeline import run_extract

    cfg = pipeline_cfg(ctx.k, pages_path, out_dir, run_id)
    c0, t0 = program_cpu_s(), time.perf_counter()
    with _span(tracer, "run_extract", label):
        res = run_extract(ctx.spark, cfg)
    return res, time.perf_counter() - t0, program_cpu_s() - c0


def _errors(fails: list[str]) -> str | None:
    return "; ".join(fails[:3]) if fails else None


class ArticlesBulk:
    """One ``run_extract`` over a seeded corpus into a fresh directory, per
    operation; at this size the write phase, which runs the extract
    stage, takes about two thirds of each call.
    A first call over a smaller corpus of its own warms the JVM and the
    Python workers: it is checked but not timed. (A re-submission, which
    resume must turn into a no-op, is checked in the traced run's
    pipeline probe.)"""

    name = "articles_bulk"
    PAGES = 10000
    WARM_PAGES = 2000
    OP_S = 14.0
    #: urls per output whose every column is compared with extract_page
    SAMPLE = 40

    def prepare(self, cache: Path, seed: int) -> dict:
        self.corpus = inputs.pages(cache, self.PAGES, seed)
        self.warm_corpus = inputs.pages(cache, self.WARM_PAGES, seed + 1_000_003)
        self.warm_expected = gate.latest_by_url(inputs.read_rows([self.warm_corpus]))
        rows = inputs.read_rows([self.corpus])
        self.expected = gate.latest_by_url(rows)
        return inputs.corpus_stats(rows)

    def _call(self, ctx: Ctx, tracer: Tracer | None, corpus: Path, expected: dict,
              out: Path, kind: str, check_seed: int) -> dict:
        """One checked call over ``corpus`` into ``out``."""
        res, s, cpu_s = extract_call(ctx, tracer, corpus, out, "bulk", out.name)
        rows = gate.read_output(res["out_path"])
        fails = gate.check_extraction(expected, rows, self.SAMPLE, check_seed, NUM_SALTS)
        if res["rows_processed"] != len(expected):
            fails.append(f"processed {res['rows_processed']} rows, expected {len(expected)}")
        return {"kind": kind, "label": out.name, "s": s, "cpu_s": cpu_s, "traced": tracer is not None,
                "items": res["rows_processed"], "error": _errors(fails)}

    def warm(self, ctx: Ctx) -> list[dict]:
        out = ctx.work / "warm"
        op = self._call(ctx, None, self.warm_corpus, self.warm_expected, out, "warm", ctx.seed - 1)
        shutil.rmtree(out)
        return [op]

    def plan(self, seconds: float) -> int:
        return max(1, round(seconds / self.OP_S))

    def primary(self, ops):
        return [o for o in ops if o["kind"] == "bulk"]

    def run(self, ctx: Ctx, plan: int) -> list[dict]:
        ops: list[dict] = []
        for i, tracer in op_tracers(ctx, plan):
            out = ctx.work / f"bulk-{len(ops)}"
            ops.append(self._call(ctx, tracer, self.corpus, self.expected, out, "bulk", ctx.seed + i))
            shutil.rmtree(out)
        return ops

    def report(self, ops) -> dict:
        bulk = self.primary(ops)
        return {
            "pages_per_s": sum(o["items"] for o in bulk) / sum(o["s"] for o in bulk),
            "warm_s": [o["s"] for o in ops if o["kind"] == "warm"],
        }


class QueryMix:
    """A frozen list of registry queries over seeded documents/events
    tables; each is materialised and followed by ``release_caches``. The
    relational layer (queries.py, textops.py) does the work."""

    name = "query_mix"
    #: Half of sf0.1 (5,000 documents, 100,000 events). At sf0.1 one pass
    #: takes 30-35 s and its DuckDB oracle 15 s on 4 cores, which leaves
    #: no room in a run of about a minute; at sf0.01 the heavy leaves are
    #: nearer job latency (q_minhash_lsh 4.4-5.4 s there, 8.4-8.6 s at
    #: sf0.1). See perfbench/README.md.
    DOCS = 2500
    EVENTS = 50000
    #: Heavy leaves: iteration loops and exchanges.
    HEAVY = ("q_minhash_lsh", "q_pagerank", "q_dedup_clusters")
    #: Audit queries from the end of bench.HEADLINE: bound by job latency,
    #: and none of them runs the extractor. The five of the last eight
    #: that take under 2 s each at sf0.1 on 4 cores.
    TAIL = ("q_hidden_text", "q_cdn_detect", "q_subdomain_explosion", "q_etag_stability", "q_csp_audit")
    #: Untimed warm-up: the JVM's first SQL jobs cost several seconds of
    #: class loading and JIT whatever they run, and that cost swings with
    #: the host's load. Queries outside the mix, so no result of a timed
    #: query is computed before it is timed.
    WARM = ("q_agg_events", "q_dedup_exact")
    OP_S = 20.0

    def prepare(self, cache: Path, seed: int) -> dict:
        import readembedability_spark.textops  # noqa: F401  (registers the queries)
        from readembedability_spark.queries import REGISTRY

        self.tables = inputs.query_tables(cache, self.DOCS, self.EVENTS, seed)
        # the oracle side runs here, before any timing
        self.oracle = gate.oracle_digests(self.tables, {n: REGISTRY[n].sql for n in self.HEAVY + self.TAIL})
        return {"rows": self.DOCS + self.EVENTS, "documents": self.DOCS, "events": self.EVENTS}

    def warm(self, ctx: Ctx) -> list[dict]:
        from readembedability_spark.queries import REGISTRY, release_caches

        for name in self.WARM:
            REGISTRY[name].spark(ctx.spark, str(self.tables)).collect()
            release_caches(ctx.spark)
        return []

    def plan(self, seconds: float) -> int:
        """Passes over the whole list per run."""
        return max(1, round(seconds / self.OP_S))

    def primary(self, ops):
        return ops

    def run(self, ctx: Ctx, plan: int) -> list[dict]:
        from readembedability_spark.queries import REGISTRY, release_caches

        names = (self.HEAVY + self.TAIL) * plan
        ops: list[dict] = []
        for i, tracer in op_tracers(ctx, len(names)):
            name = names[i]
            c0, t0 = program_cpu_s(), time.perf_counter()
            with _span(tracer, "query", name):
                df = REGISTRY[name].spark(ctx.spark, str(self.tables))
                rows = df.collect()
            s, cpu_s = time.perf_counter() - t0, program_cpu_s() - c0
            release_caches(ctx.spark)
            got = gate.result_digest(df.columns, rows)
            err = None if got == self.oracle[name] else f"{name}: {got[:2]} != oracle {self.oracle[name][:2]}"
            ops.append({"kind": "heavy" if name in self.HEAVY else "tail", "label": name,
                        "s": s, "cpu_s": cpu_s, "traced": tracer is not None, "items": 1, "error": err})
        return ops

    def report(self, ops) -> dict:
        passes = len(ops) // len(self.HEAVY + self.TAIL)
        return {
            "mix_heavy_s": sum(o["s"] for o in ops if o["kind"] == "heavy") / passes,
            "mix_tail_s": sum(o["s"] for o in ops if o["kind"] == "tail") / passes,
            "query_s": {q: median([o["s"] for o in ops if o["label"] == q]) for q in self.HEAVY + self.TAIL},
        }


WORKLOADS = {w.name: w for w in (ArticlesBulk, QueryMix)}
