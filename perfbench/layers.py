"""Layer probes of the traced run. Each traced run makes all of them, on
inputs drawn from its seed, whatever the workload:

- ``extractor``: a page sample through ``extract_page`` in this process,
  one span per step the extractor pipeline imports;
- ``operators.extract``: the sample's Arrow batches replayed through
  ``make_extract_batches``, timing both sides of the pandas boundary;
- ``sources``/``salt``/``dedup``/``extract``: noop-sink actions on
  growing prefixes of the plan ``build_extract_df`` assembles;
- ``plans.pipeline``/``operators.resume``: two increments and one
  re-submission through ``run_extract``, with a span per phase.
"""

from __future__ import annotations

import gc
import inspect
import statistics
import time
from pathlib import Path

import pyarrow as pa

from perfbench.tracing import PHASES, Tracer, covered, pipeline_phases, self_seconds, task_ms
from perfbench.workloads import Ctx, extract_call

#: The steps extractor/pipeline.py imports, in call order; the PDF
#: branch (gunzip_if_needed, extract_pdf_text) is left out, since no
#: page of the corpus takes it.
STEPS = (
    "sniff_kind", "decode_html", "parse_html", "collect_meta", "parse_jsonld_texts",
    "detect_embed", "extract_canonical", "extract_anchors", "extract_feeds",
    "extract_declared_lang", "extract_refresh", "extract_robots_meta", "extract_amp_url",
    "extract_title", "extract_authors", "extract_published", "clean",
    "select_content", "extract_image", "sanitize", "textify",
    "extract_description", "extract_summary", "extract_keywords", "free_tree",
)
#: steps reached as attributes of the decode module
_DECODE = ("sniff_kind", "decode_html")


def _timed_steps(tracer: Tracer):
    """Patch every step name in the extractor pipeline with a span
    wrapper; a step that returns a generator is timed through its
    iteration. Returns the undo list."""
    import readembedability_spark.extractor.pipeline as xp

    def wrap(name, orig):
        def timed_iter(it):
            while True:
                with tracer.span(name, spark_group=False):
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                yield item

        def wrapper(*a, **kw):
            with tracer.span(name, spark_group=False):
                out = orig(*a, **kw)
            return timed_iter(out) if inspect.isgenerator(out) else out

        return wrapper

    undo = []
    for name in STEPS:
        owner = xp.decode if name in _DECODE else xp
        orig = getattr(owner, name)
        undo.append((owner, name, orig))
        setattr(owner, name, wrap(name, orig))
    return undo


def extractor_probe(rows: list[dict]) -> dict:
    """Per-step self time per page, page time, and the single-threaded
    pages/s of an unwrapped pass over the same sample."""
    from readembedability_spark.extractor.pipeline import extract_page

    t0 = time.perf_counter()
    for r in rows:
        extract_page(r["url"], r["html"])
    base_s = time.perf_counter() - t0

    tracer = Tracer()
    undo = _timed_steps(tracer)
    try:
        for r in rows:
            with tracer.span("extract_page", run_id=r["url"], spark_group=False):
                extract_page(r["url"], r["html"])
    finally:
        for owner, name, orig in undo:
            setattr(owner, name, orig)

    kids = tracer.children()
    pages = [s for s in tracer.spans if s["name"] == "extract_page"]
    page_s = sum(s["end"] - s["start"] for s in pages)
    per_step = dict.fromkeys(STEPS, 0.0)
    for s in tracer.spans:
        if s["name"] in per_step:
            per_step[s["name"]] += self_seconds(s, kids.get(s["id"], []))
    out = {
        "extractor.page_ms": 1000 * page_s / len(rows),
        "extractor.pages_per_s_1core": len(rows) / base_s,
    }
    for name, s in per_step.items():
        out[f"extractor.{name}.self_ms"] = 1000 * s / len(rows)
    out["extractor.steps_share"] = sum(per_step.values()) / page_s
    return out


def boundary_probe(rows: list[dict], batch_rows: int) -> dict:
    """The pandas boundary of the extract stage, replayed in-process at
    the session's Arrow batch size: Arrow→pandas, the batch function,
    pandas→Arrow. Milliseconds per 1k pages."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from readembedability_spark.operators.extract import make_extract_batches
    from readembedability_spark.schemas import EXTRACTED_SCHEMA

    table = pa.Table.from_pylist(
        [{"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"], "salt": 0} for r in rows],
        schema=pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("salt", pa.int32())]),
    )
    out_schema = to_arrow_schema(EXTRACTED_SCHEMA)

    t0 = time.perf_counter()
    frames = [b.to_pandas() for b in table.to_batches(max_chunksize=batch_rows)]
    t1 = time.perf_counter()
    results = list(make_extract_batches("probe", None)(iter(frames)))
    t2 = time.perf_counter()
    for pdf in results:
        pa.RecordBatch.from_pandas(pdf, schema=out_schema, preserve_index=False)
    t3 = time.perf_counter()
    gc.unfreeze()  # the batch function freezes the heap, as in a worker
    per_k = 1e6 / len(rows)
    return {
        "extract.arrow_to_pandas_ms": (t1 - t0) * per_k,
        "extract.batches_ms": (t2 - t1) * per_k,
        "extract.pandas_to_arrow_ms": (t3 - t2) * per_k,
    }


def prefix_probe(spark, tracer: Tracer, pages_path: Path, work: Path, parallelism: int, num_salts: int) -> dict:
    """Noop-sink actions on growing prefixes of ``build_extract_df``'s plan;
    a layer's cost is the difference between consecutive prefixes."""
    from readembedability_spark.operators.dedup import dedup_latest
    from readembedability_spark.operators.extract import extract_stage
    from readembedability_spark.operators.resume import load_done_buckets, resume_filter, with_bucket
    from readembedability_spark.operators.salt import salt_repartition
    from readembedability_spark.sources.pages import prefilter, read_pages

    scan = resume_filter(
        with_bucket(prefilter(read_pages(spark, str(pages_path)))),
        load_done_buckets(spark, str(work / "_checkpoint"), "probe"),
    )
    salted = salt_repartition(scan, parallelism, num_salts)
    deduped = dedup_latest(salted)
    extracted = extract_stage(deduped, run_id="probe", metrics_dir=str(work / "_metrics"))
    spans = {}
    for name, df in (("scan", scan), ("salt", salted), ("dedup", deduped), ("extract", extracted)):
        with tracer.span(f"prefix.{name}") as sp:
            df.write.format("noop").mode("overwrite").save()
        spans[name] = sp
    n_salted, n_deduped = salted.count(), deduped.count()
    tracer.attach_stage_stats()

    def dur(name):
        return spans[name]["end"] - spans[name]["start"]

    store = spark.sparkContext._jsc.sc().statusStore()

    def post_shuffle(name):
        # stages reading the salted exchange: the dedup window and, in
        # the full plan, the mapInPandas extract stage
        return [s for s in spans[name]["stage_ids"]
                if store.lastStageAttempt(s).shuffleReadBytes() > 0]

    salt_tasks = [t for s in post_shuffle("salt") for t in task_ms(spark.sparkContext, s)]
    py_ms = sum(store.lastStageAttempt(s).executorRunTime() for s in post_shuffle("extract"))
    return {
        "sources.scan_s": dur("scan"),
        "salt.exchange_s": dur("salt") - dur("scan"),
        "salt.shuffle_write_bytes": spans["salt"]["shuffle_write_bytes"],
        "salt.task_ms_max_over_median": max(salt_tasks) / max(1.0, statistics.median(salt_tasks)),
        "dedup.s": dur("dedup") - dur("salt"),
        "dedup.rows_dropped": n_salted - n_deduped,
        "extract.stage_s": dur("extract") - dur("dedup"),
        "extract.python_share": py_ms / max(1, spans["extract"]["executor_ms"]),
        "extract.plan_pages_per_s": n_deduped / dur("extract"),
    }


def phase_summary(tracer: Tracer, calls: list[dict]) -> dict:
    """Mean seconds and jobs per call for each phase, jobs and stages per
    call, and the lowest share of a call's wall its phases cover."""
    kids = tracer.children()
    out = {}
    for phase in PHASES:
        spans = [s for c in calls for s in kids.get(c["id"], []) if s["name"] == phase]
        out[f"run.{phase}.s"] = sum(s["end"] - s["start"] for s in spans) / len(calls)
        out[f"run.{phase}.jobs"] = sum(s["jobs"] for s in spans) / len(calls)
    every = [s for c in calls for s in [c, *kids.get(c["id"], [])]]
    out["run.jobs"] = sum(s["jobs"] for s in every) / len(calls)
    out["run.stages"] = sum(s["stages"] for s in every) / len(calls)
    out["run.phase_coverage"] = min(
        covered(c, kids.get(c["id"], [])) / (c["end"] - c["start"]) for c in calls
    )
    return out


def output_files(out_dir: Path) -> dict:
    return {
        "resume.checkpoint_files": len(list((out_dir / "_checkpoint").glob("*.parquet"))),
        "extract.metrics_files": len(list((out_dir / "_metrics").glob("*/part-*.json"))),
        "run.output_files": len(list((out_dir / "extracted").glob("*.parquet"))),
    }


def _output_table(out_dir: Path) -> pa.Table:
    import pyarrow.parquet as pq

    return pq.read_table(str(out_dir / "extracted")).sort_by("url")


def pipeline_probe(ctx: Ctx, slices: list[Path], work: Path) -> tuple[dict, list[dict]]:
    """Increments into one fresh output directory, then the last one
    re-submitted, with a phase span per call. Returns (metrics, checked
    operations): each increment must process its slice's deduplicated
    url count, and the re-submission 0 rows, leaving the output as it
    was."""
    from perfbench import gate, inputs

    runs = [(path, f"probe{j}", f"probe{j}") for j, path in enumerate(slices)]
    runs.append((*runs[-1][:2], "probe-rerun"))
    labels = [label for *_, label in runs]
    ops = []
    with pipeline_phases(ctx.tracer):
        for path, run_id, label in runs:
            rerun = label == "probe-rerun"
            before = _output_table(work) if rerun else None
            res, s, cpu_s = extract_call(ctx, ctx.tracer, path, work, run_id, label)
            want = 0 if rerun else len(gate.latest_by_url(inputs.read_rows([path])))
            fails = [] if res["rows_processed"] == want else [f"processed {res['rows_processed']} rows, expected {want}"]
            if rerun and not _output_table(work).equals(before):
                fails.append("re-submission changed the output")
            ops.append({"kind": "rerun" if rerun else "increment", "label": label, "s": s, "cpu_s": cpu_s, "traced": True,
                        "items": res["rows_processed"], "error": "; ".join(fails) or None})
    ctx.tracer.attach_stage_stats()
    calls = [s for s in ctx.tracer.spans if s["name"] == "run_extract" and s["run_id"] in labels]
    return {**phase_summary(ctx.tracer, calls), **output_files(work)}, ops
