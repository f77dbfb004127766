"""Streaming ingest of a pages table: file-source readStream →
watermarked url dedup → the same Arrow extract stage → parquet sink,
plus a tumbling-window metrics stream.

Design (maps 1:1 onto the batch plan, SURVEY.md §3.2):

- source: ``readStream.schema(PAGES_SCHEMA).parquet(dir)`` — each new
  file dropped into the directory is a micro-batch (on a cluster this
  would be a WARC-landing bucket or a Kafka topic of crawl records);
- ``withWatermark('warc_ts', …)`` + ``dropDuplicatesWithinWatermark``
  on url — bounded-state streaming equivalent of the batch O-7 dedup;
- the identical ``extract_stage`` mapInPandas runs per micro-batch
  (mapInPandas composes with streaming since it is stateless);
- metrics: tumbling ``F.window(warc_ts, …)`` counts by status.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readembedability_spark.operators.extract import extract_stage
from readembedability_spark.schemas import PAGES_SCHEMA
from readembedability_spark.text_signals import feature_bucket


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extract(
    pages_stream: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked dedup → extract; returns the streaming extracted DF."""
    deduped = pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
    return extract_stage(deduped)


def streaming_metrics(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window ingest metrics (rows + bytes per window)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes_in"),
        )
        .select("win.start", "win.end", "n_rows", "bytes_in")
    )


def start_streaming_run(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Wire source → extract → parquet sink with exactly-once checkpointing.

    ``trigger_once`` processes all available input then stops (the batch-
    equivalent mode used in tests and backfills).
    """
    stream = streaming_extract(read_pages_stream(spark, in_dir))
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_host_sessions(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (O-28 extended):
    per-host running crawl totals via ``applyInPandasWithState``.

    State per host = (n_pages, total_bytes); each micro-batch folds its
    rows into the state and emits the updated totals — the streaming
    analogue of a running per-host ingest ledger. GroupStateTimeout is
    off (crawl ledgers are long-lived); at 10^12 scale the key space is
    ~10^8 hosts, well within state-store reach when backed by RocksDB.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from readembedability_spark.functions import host_col

    def update(key, pdfs, state: GroupState):
        n = 0
        total = 0
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["n_bytes"].sum())
        if state.exists:
            (prev_n, prev_bytes) = state.get
            n += prev_n
            total += prev_bytes
        state.update((n, total))
        yield pd.DataFrame(
            {"host": [key[0]], "n_pages": [n], "total_bytes": [total]}
        )

    keyed = pages_stream.select(
        host_col("url").alias("host"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_pages long, total_bytes long",
        stateStructType="n_pages long, total_bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup_filter(
    pages_stream: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming near-duplicate FILTER (O-28 × the batch MinHash path):
    keep the first page per MinHash(8) signature within the watermark.

    The signature is computed ROW-LOCALLY — shingles via a higher-order
    transform over the token array, each hash-family minimum via
    array_min — so unlike the batch q_minhash_lsh (groupBy per doc) the
    projection is stateless and composes with streaming dedup without a
    preceding stateful aggregation; the only state is the
    dropDuplicatesWithinWatermark signature store (bounded by the
    watermark). Semantics vs batch LSH banding: a page is dropped only
    when ALL 8 minima match (the full signature), i.e. a
    higher-precision / lower-recall near-dup gate — the right trade for
    an inline ingest filter, where a false drop is data loss but a
    missed near-dup is caught by the batch dedup downstream."""
    arr = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    shingles = F.when(
        F.size(arr) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 2),
            lambda k: F.concat_ws(" ", F.slice(arr, k, F.lit(3))),
        ),
    ).otherwise(F.array(F.concat_ws(" ", arr)))
    sig = F.concat_ws(
        ",",
        *[
            F.array_min(
                F.transform(
                    shingles,
                    lambda s: F.md5(
                        F.encode(F.concat(F.lit(f"{i}:"), s), "UTF-8")
                    ),
                )
            )
            for i in range(8)
        ],
    )
    return (
        pages_stream.withColumn("minhash_sig", sig)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["minhash_sig"])
    )


def streaming_contamination_flags(
    pages_stream: DataFrame,
    eval_grams: DataFrame,
    n: int = 13,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming benchmark decontamination (O-28 × q_decontaminate):
    flag pages sharing any word n-gram with a STATIC eval-set gram
    table as they arrive.

    Plan: explode the page's text into n-grams (stateless, same
    higher-order-transform shape as the batch op), STREAM-STATIC
    left-semi join against the eval grams (the static side is read
    fresh per micro-batch — broadcastable, no stream state), then
    collapse back to one row per url via dropDuplicatesWithinWatermark
    (bounded state). Emits (url, warc_ts) of contaminated pages — the
    ingest pipeline routes them to quarantine instead of the training
    sink."""
    arr = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    grams = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda k: F.concat_ws(" ", F.slice(arr, k, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = pages_stream.select(
        "url", "warc_ts", F.explode(grams).alias("g")
    )
    hits = exploded.join(eval_grams.select("g"), "g", "left_semi")
    return (
        hits.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
        .select("url", "warc_ts")
    )


def streaming_crawl_sessions(
    pages_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window crawl activity per host (O-28 extended): a
    "session" = a burst of captures from one host separated by < gap —
    the built-in streaming analogue of the batch q_sessionize
    (gap-based sessionization). ``F.session_window`` keeps per-key
    state bounded by the watermark; late rows beyond it are dropped.
    At 10^12 rows the shuffle key is (host, session) and hosts are
    ~10^8 — skew handled the same way as the batch path (hot hosts
    split across sessions over time)."""
    from readembedability_spark.functions import host_col

    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(
            host_col("url").alias("host"),
            F.session_window("warc_ts", gap).alias("sess"),
        )
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes_in"),
        )
        .select("host", "sess.start", "sess.end", "n_pages", "bytes_in")
    )


def streaming_quality_filter(
    pages_stream: DataFrame,
    weights: dict[str, int],
    threshold: float = 0.5,
) -> DataFrame:
    """Serve the TRAINED quality classifier online (O-28 ×
    q_model_train): score every arriving page with the weight table
    learned offline by q_model_train and pass only predicted-quality
    pages downstream — the train-offline / filter-at-ingest shape of a
    production crawl pipeline.

    The model is embedded as a LITERAL map (the weight table is
    bounded ≤258 fixed-point entries, exactly what q_model_train
    emits), so scoring is fully ROW-LOCAL: one higher-order aggregate
    over the token array computes the bucket-weight sum, plus the bias
    and length terms, then the same rational fast-sigmoid squash as
    training. Zero streaming state, zero joins — at any ingest rate
    this is a pure map. (Scores differ from the batch
    q_model_score_trained only in fixed-point granularity: batch
    quantizes per-bucket normalized counts, the row-local form divides
    once per doc.)"""
    wmap = F.create_map(
        *[
            F.lit(x)
            for k, v in sorted(weights.items())
            for x in (k, int(v))
        ]
    )
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: w != F.lit(""),
    )
    n_tok = F.size(toks)
    bucket_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.coalesce(
            wmap[feature_bucket(w)],
            F.lit(0).cast("long"),
        ),
    )
    w_bias = F.coalesce(wmap[F.lit("bias")], F.lit(0).cast("long"))
    w_len = F.coalesce(wmap[F.lit("len")], F.lit(0).cast("long"))
    x = (
        bucket_sum.cast("double") / n_tok
        + w_bias.cast("double")
        + w_len.cast("double") * n_tok / F.lit(100.0)
    ) / F.lit(1000000.0)
    p = F.lit(0.5) + F.lit(0.5) * x / (F.lit(1.0) + F.abs(x))
    scored = pages_stream.withColumn("quality_score", F.round(p, 6))
    return scored.filter(
        (F.col("quality_score") > threshold) & (n_tok > 0)
    )


def streaming_link_frontier(
    pages_stream: DataFrame,
    known_urls: DataFrame,
) -> DataFrame:
    """Crawl-frontier discovery AT INGEST (O-28 × A-23 ×
    q_crawl_frontier): each arriving micro-batch runs the full
    mapInPandas extraction, explodes the links column, and left-ANTI
    joins against the STATIC known-url catalog — emitting only links
    pointing outside the current corpus, i.e. the next crawl round's
    candidates, while the batch that discovered them is still in
    flight.

    Stream-static anti-joins are stateless in Structured Streaming
    (the static side is re-scanned per micro-batch and is broadcast
    when small; at web scale the catalog side would be a bucketed
    table so the per-batch probe stays partition-pruned). No
    watermark state is needed: dedup of re-discovered frontier urls
    is the DOWNSTREAM admission job's responsibility
    (q_dedup_incremental's O(batch) shape), keeping this operator a
    pure map + join at any ingest rate."""
    links = (
        extract_stage(pages_stream)
        .select(
            "url",
            F.explode(F.arrays_zip("links", "link_nofollow")).alias("z"),
        )
        .filter(~F.col("z.link_nofollow"))  # L-8: don't crawl paid links
        .select("url", F.col("z.links").alias("link"))
    )
    return links.join(
        known_urls.select(F.col("url").alias("known_url")),
        F.col("link") == F.col("known_url"),
        "left_anti",
    )


def streaming_surt_index(
    pages_stream: DataFrame, max_versions: int = 64
) -> DataFrame:
    """Incremental SURT-keyed capture index (the streaming maintainer
    of q_surt_index's CDX-style table): as captures stream in, state
    per SURT key tracks capture count, first/last capture time and
    the distinct content digests seen, emitting the updated index row
    each micro-batch via ``applyInPandasWithState``.

    State is BOUNDED by design: the digest set is capped at
    ``max_versions`` entries (8-char md5 prefixes); past the cap,
    n_versions saturates and ``versions_saturated`` flips true —
    exact low cardinalities (the common case: most urls have a
    handful of versions) and an explicit marker instead of unbounded
    state for churn-heavy urls. Timestamps ride through state as
    epoch micros (state columns are flat longs; TIMESTAMP_NTZ inputs
    convert via timestampdiff, which accepts NTZ where unix_micros
    does not). At 10^12 captures the key space is the SURT-key
    universe — RocksDB-backed state at ~10^9-10^10 keys; the cap
    keeps per-key state O(max_versions) regardless of recrawl churn.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = 0
        first_us = None
        last_us = None
        digests: set = set()
        overflow = 0
        if state.exists:
            n, first_us, last_us, dstr, overflow = state.get
            digests = set(dstr.split(",")) if dstr else set()
        for pdf in pdfs:
            n += len(pdf)
            lo = int(pdf["ts_us"].min())
            hi = int(pdf["ts_us"].max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
            for d in pdf["digest"]:
                if d not in digests:
                    if len(digests) < max_versions:
                        digests.add(d)
                    else:
                        overflow = 1
        state.update(
            (n, first_us, last_us, ",".join(sorted(digests)), overflow)
        )
        yield pd.DataFrame(
            {
                "surt_key": [key[0]],
                "n_captures": [n],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "n_versions": [len(digests)],
                "versions_saturated": [bool(overflow)],
            }
        )

    from readembedability_spark.textops import surt_key_expr

    keyed = pages_stream.select(
        surt_key_expr(F.col("url")).alias("surt_key"),
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
        F.substring(F.md5(F.coalesce("html", F.lit(b""))), 1, 8).alias(
            "digest"
        ),
    )
    return keyed.groupBy("surt_key").applyInPandasWithState(
        update,
        outputStructType=(
            "surt_key string, n_captures long, first_ts timestamp,"
            " last_ts timestamp, n_versions long,"
            " versions_saturated boolean"
        ),
        stateStructType=(
            "n_captures long, first_us long, last_us long,"
            " digests string, overflow long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_crawl_delta(pages_stream: DataFrame) -> DataFrame:
    """Incremental crawl-delta classifier (the streaming maintainer of
    q_crawl_delta's per-url change classes): as captures stream in,
    state per url tracks capture count, the LAST content digest, and
    the cumulative digest-transition count; every micro-batch emits
    the url's updated row with the latest capture's classification —
    ``new`` (first-ever capture), ``changed`` (digest differs from
    the previous capture) or ``unchanged``. Downstream, a host rollup
    of these rows reproduces the batch report; n_changes is the
    change signal the Cho/Garcia-Molina recrawl estimator consumes
    without replaying history.

    State is O(1) per url by construction — one 8-char digest prefix,
    counters and the head timestamp; no capture history is retained
    (exactly why the stream can classify at 10^12-capture scale: the
    batch sibling's lag window re-reads two captures per url, the
    stream remembers only the last one). Ordering: ALL of a group's
    arrow chunks are concatenated and sorted once by (ts_us, digest)
    before folding, so a multi-chunk micro-batch replays identically
    to row-at-a-time delivery. LATE DATA: with O(1) state a capture
    older than the head cannot be spliced into history, so it is
    counted in ``n_late`` and never regresses the head
    (status/digest/last_ts unchanged; a batch carrying ONLY late
    captures emits status ``late``) — reconciliation of late captures
    is exactly what the batch sibling q_crawl_delta is for."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = 0
        last_digest = None
        n_changes = 0
        last_us = None
        n_late = 0
        if state.exists:
            n, last_digest, n_changes, last_us, n_late = state.get
        status = None
        applied = n - n_late  # captures that have moved the head so far
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "digest"])
        for ts_us, digest in zip(batch["ts_us"], batch["digest"]):
            ts_us = int(ts_us)
            if last_us is not None and ts_us < last_us:
                n_late += 1
                continue
            if applied == 0:
                status = "new"
            elif digest != last_digest:
                status = "changed"
                n_changes += 1
            else:
                status = "unchanged"
            applied += 1
            last_digest = digest
            last_us = ts_us
        n += len(batch)
        if status is None:
            status = "late"  # this batch carried only late captures
        state.update((n, last_digest, n_changes, last_us, n_late))
        yield pd.DataFrame(
            {
                "url": [key[0]],
                "host": [key[1]],
                "n_captures": [n],
                "n_changes": [n_changes],
                "n_late": [n_late],
                "status": [status],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    from readembedability_spark.functions import host_col

    keyed = pages_stream.select(
        "url",
        host_col("url").alias("host"),
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
        F.substring(F.md5(F.coalesce("html", F.lit(b""))), 1, 8).alias(
            "digest"
        ),
    )
    return keyed.groupBy("url", "host").applyInPandasWithState(
        update,
        outputStructType=(
            "url string, host string, n_captures long, n_changes long,"
            " n_late long, status string, last_ts timestamp"
        ),
        stateStructType=(
            "n_captures long, last_digest string, n_changes long,"
            " last_us long, n_late long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

def streaming_capture_diff(
    pages_stream: DataFrame, max_tokens: int = 4096
) -> DataFrame:
    """Streaming change-MAGNITUDE maintainer (the streaming sibling of
    q_capture_diff, one level deeper than streaming_crawl_delta's
    binary digest transition): as captures stream in, state per url
    keeps the PREVIOUS capture's distinct token set, and every
    consecutive pair is scored with exact integer token-set Jaccard —
    how much of the page turned over, the number a recrawl scheduler
    prices fetches with. Cumulative pair/change counts and similarity
    mass ride in state so the mean never needs history.

    State is BOUNDED: the token set is capped at ``max_tokens``
    entries in sorted order (deterministic truncation — a production
    deployment stores a MinHash signature at the same position, the
    capped set IS the exactness-first variant of that sketch); packed
    as one unit-separator string because state columns are flat.
    Ordering: each group's chunks are concatenated and sorted by
    (ts_us, packed tokens) before folding, so multi-chunk batches
    replay identically. LATE DATA follows the streaming_crawl_delta
    contract: a capture older than the head counts in ``n_late`` and
    never touches the comparison state — splicing it into history is
    the batch sibling's job."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    SEP = "\x1f"

    def update(key, pdfs, state: GroupState):
        n = 0
        last_packed = None
        n_pairs = 0
        n_changed = 0
        sim_total = 0
        last_us = None
        n_late = 0
        if state.exists:
            (n, last_packed, n_pairs, n_changed, sim_total, last_us,
             n_late) = state.get
        last_sim = None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch["packed"] = [
            SEP.join(sorted(set(t))[:max_tokens]) for t in batch["toks"]
        ]
        batch = batch.sort_values(["ts_us", "packed"])
        for ts_us, packed in zip(batch["ts_us"], batch["packed"]):
            ts_us = int(ts_us)
            if last_us is not None and ts_us < last_us:
                n_late += 1
                continue
            if last_packed is not None:
                prev = set(last_packed.split(SEP)) if last_packed else set()
                cur = set(packed.split(SEP)) if packed else set()
                union = len(prev | cur)
                sim = (
                    len(prev & cur) * 1000000 // union if union else 1000000
                )
                n_pairs += 1
                sim_total += sim
                if sim < 1000000:
                    n_changed += 1
                last_sim = sim
            last_packed = packed
            last_us = ts_us
        n += len(batch)
        state.update(
            (n, last_packed, n_pairs, n_changed, sim_total, last_us, n_late)
        )
        yield pd.DataFrame(
            {
                "url": [key[0]],
                "n_captures": [n],
                "n_pairs": [n_pairs],
                "n_changed": [n_changed],
                "sim_ppm_total": [sim_total],
                "mean_sim_ppm": [
                    sim_total // n_pairs if n_pairs else None
                ],
                "last_sim_ppm": [last_sim],
                "n_late": [n_late],
            }
        )

    keyed = pages_stream.select(
        "url",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
        F.array_distinct(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("toks"),
    )
    return keyed.groupBy("url").applyInPandasWithState(
        update,
        outputStructType=(
            "url string, n_captures long, n_pairs long, n_changed long,"
            " sim_ppm_total long, mean_sim_ppm long, last_sim_ppm long,"
            " n_late long"
        ),
        stateStructType=(
            "n_captures long, last_toks string, n_pairs long,"
            " n_changed long, sim_total long, last_us long, n_late long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_admission(
    pages_stream: DataFrame, budget: int = 300
) -> DataFrame:
    """Stateful host token-budget admission at ingest (the streaming
    maintainer of q_host_token_budget's anti-domination rule): as
    pages stream in, each host's state carries the cumulative token
    count already SEEN for that host, and a page is admitted iff the
    tokens before it are still under the budget — running-sum
    semantics, so the budget-crossing page is kept, exactly the batch
    rule. Every page emits one row with its admission decision, so
    the downstream writer can fork kept/rejected sinks without a
    second pass.

    State is O(1) per host by construction — three counters, no page
    history — which is the whole point: the batch sibling needs the
    range-partitioned `_grouped_cumsum` to order 10^8 hosts' running
    sums, while the stream pays one integer add per page. Ordering:
    a micro-batch's arrow chunks are concatenated and sorted once by
    (ts_us, url) before folding, so multi-chunk delivery replays
    identically to row-at-a-time. ADMISSION ORDER IS INGEST ORDER:
    a late-arriving page (older warc_ts than already-folded pages)
    still consumes budget at its ARRIVAL position — with O(1) state
    an earlier admission cannot be revoked; n_late counts them so
    the batch sibling (which orders by doc_id, not arrival) can
    reconcile offline. Tokens of REJECTED pages still advance the
    seen-counter, mirroring the batch cumsum over all docs (the sum
    is monotone, so rejection stays permanent in both engines)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        tokens_seen = 0
        n_seen = 0
        n_admitted = 0
        last_us = None
        n_late = 0
        if state.exists:
            tokens_seen, n_seen, n_admitted, last_us, n_late = state.get
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "url"])
        out = {
            "url": [],
            "n_tokens": [],
            "tokens_before": [],
            "admitted": [],
        }
        for url, ts_us, n_tokens in zip(
            batch["url"], batch["ts_us"], batch["n_tokens"]
        ):
            ts_us, n_tokens = int(ts_us), int(n_tokens)
            if last_us is not None and ts_us < last_us:
                n_late += 1
            else:
                last_us = ts_us
            admitted = tokens_seen < budget
            out["url"].append(url)
            out["n_tokens"].append(n_tokens)
            out["tokens_before"].append(tokens_seen)
            out["admitted"].append(admitted)
            tokens_seen += n_tokens
            n_seen += 1
            n_admitted += int(admitted)
        state.update((tokens_seen, n_seen, n_admitted, last_us, n_late))
        yield pd.DataFrame(
            {
                "host": key[0],
                "url": out["url"],
                "n_tokens": pd.Series(out["n_tokens"], dtype="int64"),
                "tokens_before": pd.Series(
                    out["tokens_before"], dtype="int64"
                ),
                "admitted": out["admitted"],
                "host_tokens_seen": tokens_seen,
                "host_n_seen": n_seen,
                "host_n_admitted": n_admitted,
                "host_n_late": n_late,
            }
        )

    from readembedability_spark.functions import host_col

    keyed = pages_stream.select(
        "url",
        host_col("url").alias("host"),
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, url string, n_tokens long, tokens_before long,"
            " admitted boolean, host_tokens_seen long, host_n_seen long,"
            " host_n_admitted long, host_n_late long"
        ),
        stateStructType=(
            "tokens_seen long, n_seen long, n_admitted long,"
            " last_us long, n_late long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_politeness(
    pages_stream: DataFrame, delay_us: int = 1_000_000
) -> DataFrame:
    """Stateful crawl-politeness monitor (the streaming maintainer of
    q_politeness_audit's per-host compliance ledger): as fetches
    stream in, each host's state carries the LAST applied fetch
    timestamp plus five counters, and every micro-batch emits the
    host's updated ledger — fetch/gap/violation counts, the worst
    (minimum) observed gap, the violation rate in ppm, and the same
    three-way verdict the batch audit computes (strict-majority
    'rude', any-violation 'mixed', else 'polite'; a host that has
    never shown a gap is 'unknown'). The delay is a single parameter
    here; a production monitor would join the per-host robots
    crawl-delay dimension (q_robots_crawl_debt's source) broadcast
    onto the stream before keying.

    State is O(1) per host by construction — one timestamp and five
    longs, no fetch history — so the monitor holds 10^8 hosts in
    executor memory while the batch sibling re-sorts every fetch into
    a lag window. Ordering: a micro-batch's arrow chunks are
    concatenated and sorted once by (ts_us, url) before folding, so
    multi-chunk delivery replays identically to row-at-a-time; a
    SAME-INSTANT pair is a zero gap (the maximal violation), exactly
    the batch rule's (ts, id)-tiebreak semantics. LATE DATA: with
    O(1) state a fetch older than the head cannot be spliced between
    two already-folded fetches, so it is counted in n_late and never
    contributes a gap — offline reconciliation is exactly what the
    batch sibling is for."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        last_us = None
        n_fetches = 0
        n_gaps = 0
        n_violations = 0
        min_gap_us = None
        n_late = 0
        if state.exists:
            (
                last_us,
                n_fetches,
                n_gaps,
                n_violations,
                min_gap_us,
                n_late,
            ) = state.get
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "url"])
        for ts_us in batch["ts_us"]:
            ts_us = int(ts_us)
            n_fetches += 1
            if last_us is not None and ts_us < last_us:
                n_late += 1
                continue
            if last_us is not None:
                gap = ts_us - last_us
                n_gaps += 1
                if gap < delay_us:
                    n_violations += 1
                if min_gap_us is None or gap < min_gap_us:
                    min_gap_us = gap
            last_us = ts_us
        state.update(
            (last_us, n_fetches, n_gaps, n_violations, min_gap_us, n_late)
        )
        if n_gaps == 0:
            verdict, ppm = "unknown", 0
        else:
            ppm = n_violations * 1000000 // n_gaps
            if n_violations * 2 > n_gaps:
                verdict = "rude"
            elif n_violations > 0:
                verdict = "mixed"
            else:
                verdict = "polite"
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_fetches": [n_fetches],
                "n_gaps": [n_gaps],
                "n_violations": [n_violations],
                "n_late": [n_late],
                "min_gap_ms": [
                    None if min_gap_us is None else min_gap_us // 1000
                ],
                "violation_ppm": [ppm],
                "politeness": [verdict],
            }
        )

    from readembedability_spark.functions import host_col

    keyed = pages_stream.select(
        host_col("url").alias("host"),
        "url",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, n_fetches long, n_gaps long,"
            " n_violations long, n_late long, min_gap_ms long,"
            " violation_ppm long, politeness string"
        ),
        stateStructType=(
            "last_us long, n_fetches long, n_gaps long,"
            " n_violations long, min_gap_us long, n_late long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_retry_after(fetches_stream: DataFrame) -> DataFrame:
    """Stateful Retry-After enforcement (the streaming counterpart of
    q_retry_after's per-host back-off ledger — STRICTER by design,
    not a row-identical maintainer: the batch op judges only the
    single next fetch after each throttle via lead(), while this
    fold judges EVERY fetch that lands inside the active window, so
    two quick follow-ups after one 429 count twice here and once in
    batch; the counts coincide exactly when at most one fetch falls
    inside each window, e.g. whenever retry_after < 2x the fetch
    cadence): the input stream carries (url, warc_ts, status,
    retry_after_s) and each host's state holds the ACTIVE back-off
    window — the not-before timestamp the last 429/503 demanded —
    plus the fold counters.
    Every on-time fetch is first judged against the active window
    (arriving inside it is a violation, and the deficit is how far
    inside), then, if it is itself a throttle response, either
    installs a new window or — the operationally distinct defect —
    counts as header-less (the crawler must guess; no window is
    installed, matching the batch rule where a NULL Retry-After can
    never be violated).

    State is O(1) per host: two timestamps and five longs, no fetch
    history — the batch sibling re-sorts every fetch into a lag
    window instead. Ordering: each micro-batch's arrow chunks are
    concatenated and sorted once by (ts_us, url), so multi-chunk
    delivery replays identically. LATE DATA: a fetch behind the fold
    head cannot be judged against the window that was active at its
    true position, so it counts in n_late and is never judged —
    offline reconciliation is the batch op's job. NOTE (ADVICE r08):
    n_fetches counts every ARRIVAL, including those late unjudged
    rows — a consumer computing a violation RATE over judged fetches
    must use (n_fetches - n_late) as the denominator."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        last_us = None
        not_before_us = None
        n_fetches = 0
        n_throttled = 0
        n_missing = 0
        n_violations = 0
        worst_deficit_us = 0
        n_late = 0
        if state.exists:
            (
                last_us,
                not_before_us,
                n_fetches,
                n_throttled,
                n_missing,
                n_violations,
                worst_deficit_us,
                n_late,
            ) = state.get
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "url"])
        for ts_us, status, ra_s in zip(
            batch["ts_us"], batch["status"], batch["retry_after_s"]
        ):
            ts_us = int(ts_us)
            n_fetches += 1
            if last_us is not None and ts_us < last_us:
                n_late += 1
                continue
            if not_before_us is not None and ts_us < not_before_us:
                n_violations += 1
                deficit = not_before_us - ts_us
                if deficit > worst_deficit_us:
                    worst_deficit_us = deficit
            if int(status) in (429, 503):
                n_throttled += 1
                if pd.isna(ra_s):
                    n_missing += 1
                else:
                    not_before_us = ts_us + int(ra_s) * 1_000_000
            last_us = ts_us
        state.update(
            (
                last_us,
                not_before_us,
                n_fetches,
                n_throttled,
                n_missing,
                n_violations,
                worst_deficit_us,
                n_late,
            )
        )
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_fetches": [n_fetches],
                "n_throttled": [n_throttled],
                "n_missing_header": [n_missing],
                "n_violations": [n_violations],
                "n_late": [n_late],
                "worst_deficit_ms": [worst_deficit_us // 1000],
                "compliant": [n_violations == 0],
            }
        )

    from readembedability_spark.functions import host_col

    keyed = fetches_stream.select(
        host_col("url").alias("host"),
        "url",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp'1970-01-01 00:00:00', warc_ts)"
        ).alias("ts_us"),
        "status",
        "retry_after_s",
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, n_fetches long, n_throttled long,"
            " n_missing_header long, n_violations long, n_late long,"
            " worst_deficit_ms long, compliant boolean"
        ),
        stateStructType=(
            "last_us long, not_before_us long, n_fetches long,"
            " n_throttled long, n_missing long, n_violations long,"
            " worst_deficit_us long, n_late long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
