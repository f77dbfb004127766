"""spark-submit entry point for the search-index pipeline:
documents (doc_id, text) → ONE tokenize scan → term-sorted postings
written RANGE-CLUSTERED by term (the index layout
q_postings_compression prices: doc-id-sorted runs per term so gap
codes compress) → dictionary (df, cf) + doclens + 1-row corpus stats
→ the LEB128 varint audit computed ON the written postings (riding
the writer's own sort — no extra exchange) → BM25 top-5 served from
the READ-BACK artifacts with a self-retrieval MRR check, plus one
JSON stats line.

This composes the retrieval family into the job a retrieval-training
team actually runs, calling the registry's cores: the tokenizer
(text_signals.doc_tokens), the d-gap window of q_postings_compression
(textops.postings_gaps) and the query set and top-5 ranking of
q_bm25_rank/q_bm25_eval (textops.bm25_query_terms, bm25_top5_from).
The postings/dictionary/corpus tables are the servable index, the MRR
line is the smoke check that the WRITTEN index — not the in-memory
lineage — answers queries.

Scale shape (100 TB): the tokenize explode is map-side; tf is the
one corpus-wide exchange (w, doc_id keyed, map-side combining);
doclens/dictionary/corpus all ride tf (no second pass over text);
the postings write is one range exchange + in-partition sort, and
because the files are term-sorted, parquet min/max row-group pruning
serves single-term lookups without a shuffle. The BM25 read path
broadcasts the tiny query-term set into the postings scan.

Local smoke (synthesizes a deterministic corpus):
    python jobs/search_index.py --docs 400 \\
        --output /tmp/searchidx --master 'local[8]'

Cluster (real documents table):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/search_index.py --input s3://…/documents.parquet --output .../idx
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


_WORDS = (
    "key agg row scan slow fast table value part hash merge batch "
    "spark line sort window group query stream filter join column "
    "order data small big customer the a"
).split()


def synth_docs(spark, n: int):
    """Deterministic synthetic documents (doc_id, text): ~30 filler
    words drawn by modular arithmetic plus a rare per-family MARKER
    token planted at position 4 — inside the query slice (tokens
    3..5), so self-retrieval has signal to find (the common-word
    filler alone would make every document look alike). No RNG
    (resume-safe)."""
    wlits = ", ".join(f"'{w}'" for w in _WORDS)
    filler = F.transform(
        F.sequence(F.lit(0), (F.col("id") % 17) + 24),
        lambda i: F.element_at(
            F.expr(f"array({wlits})"),
            ((F.col("id") * 7 + i * 13) % len(_WORDS) + 1).cast("int"),
        ),
    )
    marker = F.concat(F.lit("m"), (F.col("id") % 61).cast("string"))
    words = F.concat(
        F.slice(filler, 1, 3), F.array(marker), F.slice(filler, 4, 40)
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    )


def build_index(spark, docs, out: Path, parts: int):
    """documents → written postings/dictionary/doclens/corpus
    artifacts (everything derived from ONE tokenize scan;
    dictionary/doclens/corpus all ride the tf table). Writes only —
    the caller assembles its own stats from the written tables."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.text_signals import doc_tokens
    from readembedability_spark.textops import bm25_corpus

    toks = doc_tokens(docs, "doc_id")
    tf = _persist(
        toks.groupBy("w", "doc_id").agg(
            F.count("*").cast("long").alias("tf")
        )
    )
    # the servable index layout: range-cluster by term, doc-id-sorted
    # runs inside each term — one exchange, sort rides it
    (
        tf.repartitionByRange(parts, "w")
        .sortWithinPartitions("w", "doc_id")
        .write.mode("overwrite")
        .parquet(str(out / "postings"))
    )
    dic = tf.groupBy("w").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    (
        dic.repartitionByRange(parts, "w")
        .sortWithinPartitions("w")
        .write.mode("overwrite")
        .parquet(str(out / "dictionary"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dl.write.mode("overwrite").parquet(str(out / "doclens"))
    bm25_corpus(dl).write.mode("overwrite").parquet(str(out / "corpus"))


def postings_audit(spark, out: Path) -> dict:
    """LEB128 varint vs fixed pricing computed ON the written postings
    through the registry's d-gap core, textops.postings_gaps (the
    gaps q_postings_compression prices) — the lag window's
    (w, doc_id) order is the file order, so the window sort collapses
    onto the read layout."""
    from readembedability_spark.textops import _varint_bytes_sql, postings_gaps

    g = postings_gaps(spark.read.parquet(str(out / "postings")))
    row = g.agg(
        F.count("*").cast("long").alias("n_postings"),
        F.sum(F.expr(_varint_bytes_sql("gap")))
        .cast("long")
        .alias("varint_bytes"),
    ).collect()[0]
    fixed = row["n_postings"] * 8
    return {
        "postings": row["n_postings"],
        "varint_bytes": row["varint_bytes"],
        "fixed_bytes": fixed,
        "compression_ppm": row["varint_bytes"] * 1000000 // fixed,
    }


def bm25_topk_from_index(spark, out: Path, queries):
    """BM25 top-5 served from the WRITTEN artifacts (postings +
    dictionary + doclens + corpus read back from parquet) through the
    registry's core, textops.bm25_top5_from (q_bm25_rank's ranking)."""
    from readembedability_spark.textops import bm25_top5_from

    def read(table):
        return spark.read.parquet(str(out / table))

    return bm25_top5_from(
        read("postings"), queries, read("dictionary"), read("doclens"),
        read("corpus"),
    )


def run(spark, args) -> dict:
    from readembedability_spark.operators.salt import default_parts
    from readembedability_spark.textops import bm25_query_terms

    out = Path(args.output)
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = synth_docs(spark, args.docs)
    stats: dict = {"docs": docs.count()}

    parts = default_parts(spark)
    build_index(spark, docs, out, parts)
    stats["terms"] = spark.read.parquet(str(out / "dictionary")).count()
    stats.update(postings_audit(spark, out))

    q = bm25_query_terms(docs)
    topk = bm25_topk_from_index(spark, out, q)
    topk.write.mode("overwrite").parquet(str(out / "topk"))
    served = spark.read.parquet(str(out / "topk"))
    # self-retrieval MRR: a query built from doc X's own tokens should
    # rank X highly — the smoke check that the WRITTEN index serves
    hits = served.filter(F.col("qid") == F.col("doc_id")).select(
        "qid", (F.lit(1000000) / F.col("rk")).cast("long").alias("rr_micro")
    )
    nq = q.select("qid").distinct().count()
    mrr = hits.agg(
        F.coalesce(F.sum("rr_micro"), F.lit(0)).alias("s")
    ).collect()[0]["s"]
    stats["queries"] = nq
    stats["mrr_micro"] = int(mrr // nq) if nq else 0
    return stats


def main() -> None:
    ap = job_parser(
        "--docs",
        input_help="documents parquet (doc_id, text)",
        synth_help="synthesize N documents (smoke/test path)",
    )
    run_job("search-index", ap, run)


if __name__ == "__main__":
    main()
