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

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readembedability_spark.functions import capture_digest, epoch_us, host_col
from readembedability_spark.operators.extract import (
    endorsed_links,
    extract_stage,
)
from readembedability_spark.schemas import PAGES_SCHEMA
from readembedability_spark.text_signals import feature_bucket, word_ngrams

# event-time watermark of every watermarked stream operator below
_WATERMARK = "1 hour"


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extract(pages_stream: DataFrame) -> DataFrame:
    """Watermarked dedup → extract; returns the streaming extracted DF."""
    deduped = pages_stream.withWatermark(
        "warc_ts", _WATERMARK
    ).dropDuplicatesWithinWatermark(["url"])
    return extract_stage(deduped)


def streaming_metrics(
    pages_stream: DataFrame, window: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window ingest metrics (rows + bytes per window)."""
    return (
        pages_stream.withWatermark("warc_ts", _WATERMARK)
        .groupBy(F.window("warc_ts", window).alias("win"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes_in"),
        )
        .select("win.start", "win.end", "n_rows", "bytes_in")
    )


def start_streaming_run(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
):
    """Wire source → extract → parquet sink with exactly-once checkpointing.

    The ``availableNow`` trigger processes all available input then stops
    (the batch-equivalent mode used in tests and backfills).
    """
    stream = streaming_extract(read_pages_stream(spark, in_dir))
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_host_sessions(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (O-28 extended):
    per-host running crawl totals via ``applyInPandasWithState``.

    State per host = (n_pages, total_bytes); each micro-batch folds its
    rows into the state and emits the updated totals — the streaming
    analogue of a running per-host ingest ledger. GroupStateTimeout is
    off (crawl ledgers are long-lived); at 10^12 scale the key space is
    ~10^8 hosts, well within state-store reach when backed by RocksDB.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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
        host_col().alias("host"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_pages long, total_bytes long",
        stateStructType="n_pages long, total_bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup_filter(pages_stream: DataFrame) -> DataFrame:
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
    shingles = F.when(F.size(arr) >= 3, word_ngrams(arr, 3)).otherwise(
        F.array(F.concat_ws(" ", arr))
    )
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
        .withWatermark("warc_ts", _WATERMARK)
        .dropDuplicatesWithinWatermark(["minhash_sig"])
    )


def streaming_contamination_flags(
    pages_stream: DataFrame, eval_grams: DataFrame
) -> DataFrame:
    """Streaming benchmark decontamination (O-28 × q_decontaminate):
    flag pages sharing any word 13-gram with a STATIC eval-set gram
    table as they arrive.

    Plan: explode the page's text into n-grams (stateless, same
    higher-order-transform shape as the batch op), STREAM-STATIC
    left-semi join against the eval grams (the static side is read
    fresh per micro-batch — broadcastable, no stream state), then
    collapse back to one row per url via dropDuplicatesWithinWatermark
    (bounded state). Emits (url, warc_ts) of contaminated pages — the
    ingest pipeline routes them to quarantine instead of the training
    sink."""
    from readembedability_spark.textops import DECON_N

    arr = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    grams = F.when(
        F.size(arr) >= DECON_N, word_ngrams(arr, DECON_N)
    ).otherwise(F.array().cast("array<string>"))
    exploded = pages_stream.select(
        "url", "warc_ts", F.explode(grams).alias("g")
    )
    hits = exploded.join(eval_grams.select("g"), "g", "left_semi")
    return (
        hits.withWatermark("warc_ts", _WATERMARK)
        .dropDuplicatesWithinWatermark(["url"])
        .select("url", "warc_ts")
    )


def streaming_crawl_sessions(pages_stream: DataFrame) -> DataFrame:
    """Session-window crawl activity per host (O-28 extended): a
    "session" = a burst of captures from one host separated by gaps
    under 30 minutes — the built-in streaming analogue of the batch
    q_sessionize (gap-based sessionization). ``F.session_window``
    keeps per-key state bounded by the watermark; late rows beyond it
    are dropped.
    At 10^12 rows the shuffle key is (host, session) and hosts are
    ~10^8 — skew handled the same way as the batch path (hot hosts
    split across sessions over time)."""
    return (
        pages_stream.withWatermark("warc_ts", _WATERMARK)
        .groupBy(
            host_col().alias("host"),
            F.session_window("warc_ts", "30 minutes").alias("sess"),
        )
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes_in"),
        )
        .select("host", "sess.start", "sess.end", "n_pages", "bytes_in")
    )


def streaming_quality_filter(
    pages_stream: DataFrame, weights: dict[str, int]
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
        (F.col("quality_score") > 0.5) & (n_tok > 0)
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
    links = endorsed_links(extract_stage(pages_stream))
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
        epoch_us("warc_ts").alias("ts_us"),
        capture_digest().alias("digest"),
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


def _ledger(keyed, keys, order, init, fold, emit, state_ddl, out_ddl):
    """A per-key fold over a stream: an update-mode
    ``applyInPandasWithState`` with no timeout (ledgers are long-lived).

    ``keyed`` carries the ``keys``, the epoch-micros ``ts_us`` and the
    columns ``fold`` reads. The state is one ``state_ddl`` row, ``init``
    before a key's first batch, and holds ``last_us`` (the head: the
    newest on-time ts_us) and ``n_late``. Each micro-batch concatenates
    the key's Arrow chunks and sorts them once by ``order``, so
    multi-chunk delivery replays like row-at-a-time. Per row a capture
    behind the head is late and counts in n_late; ``fold(st, ts_us,
    row, late)`` then sees the state as a dict, with the head still the
    previous one, and decides what the row does; an on-time row moves
    the head. ``emit(key, st, folded)`` turns the batch's final state
    and the folds' return values into ``out_ddl`` rows."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fields = [f.split()[0] for f in state_ddl.split(",")]
    columns = [f.split()[0] for f in out_ddl.split(",")]

    def update(key, pdfs, state: GroupState):
        st = dict(zip(fields, state.get if state.exists else init))
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(order)
        folded = []
        for row in batch.itertuples(index=False):
            ts_us = int(row.ts_us)
            late = st["last_us"] is not None and ts_us < st["last_us"]
            st["n_late"] += late
            folded.append(fold(st, ts_us, row, late))
            if not late:
                st["last_us"] = ts_us
        state.update(tuple(st[f] for f in fields))
        yield pd.DataFrame(emit(key, st, folded), columns=columns)

    return keyed.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _last(values, default=None):
    """The last non-None of ``values``, else ``default``."""
    return next((v for v in reversed(values) if v is not None), default)


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
    stream remembers only the last one). A micro-batch folds in
    (ts_us, digest) order. LATE DATA: with O(1) state a capture
    older than the head cannot be spliced into history, so it is
    counted in ``n_late`` and never regresses the head
    (status/digest/last_ts unchanged; a batch carrying ONLY late
    captures emits status ``late``) — reconciliation of late captures
    is exactly what the batch sibling q_crawl_delta is for."""

    def fold(st, ts_us, row, late):
        st["n_captures"] += 1
        if late:
            return None
        if st["last_us"] is None:
            status = "new"
        elif row.digest != st["last_digest"]:
            status = "changed"
            st["n_changes"] += 1
        else:
            status = "unchanged"
        st["last_digest"] = row.digest
        return status

    def emit(key, st, statuses):
        return [(
            key[0],
            key[1],
            st["n_captures"],
            st["n_changes"],
            st["n_late"],
            _last(statuses, "late"),
            pd.Timestamp(st["last_us"], unit="us"),
        )]

    keyed = pages_stream.select(
        "url",
        host_col().alias("host"),
        epoch_us("warc_ts").alias("ts_us"),
        capture_digest().alias("digest"),
    )
    return _ledger(
        keyed,
        ["url", "host"],
        ["ts_us", "digest"],
        (0, None, 0, None, 0),
        fold,
        emit,
        "n_captures long, last_digest string, n_changes long,"
        " last_us long, n_late long",
        "url string, host string, n_captures long, n_changes long,"
        " n_late long, status string, last_ts timestamp",
    )


def streaming_capture_diff(pages_stream: DataFrame) -> DataFrame:
    """Streaming change-MAGNITUDE maintainer (the streaming sibling of
    q_capture_diff, one level deeper than streaming_crawl_delta's
    binary digest transition): as captures stream in, state per url
    keeps the PREVIOUS capture's distinct token set, and every
    consecutive pair is scored with exact integer token-set Jaccard —
    how much of the page turned over, the number a recrawl scheduler
    prices fetches with. Cumulative pair/change counts and similarity
    mass ride in state so the mean never needs history.

    State is BOUNDED: the token set is capped at its first 4096
    entries in sorted order (deterministic truncation — a production
    deployment stores a MinHash signature at the same position, the
    capped set IS the exactness-first variant of that sketch); packed
    JVM-side as one unit-separator string because state columns are
    flat. A micro-batch folds in (ts_us, packed tokens) order. LATE
    DATA follows the streaming_crawl_delta contract: a capture older
    than the head counts in ``n_late`` and never touches the
    comparison state — splicing it into history is the batch
    sibling's job."""
    SEP = "\x1f"

    def fold(st, ts_us, row, late):
        st["n_captures"] += 1
        if late:
            return None
        sim = None
        if st["last_toks"] is not None:
            prev = set(st["last_toks"].split(SEP)) if st["last_toks"] else set()
            cur = set(row.packed.split(SEP)) if row.packed else set()
            union = len(prev | cur)
            sim = len(prev & cur) * 1000000 // union if union else 1000000
            st["n_pairs"] += 1
            st["sim_total"] += sim
            st["n_changed"] += sim < 1000000
        st["last_toks"] = row.packed
        return sim

    def emit(key, st, sims):
        n_pairs = st["n_pairs"]
        return [(
            key[0],
            st["n_captures"],
            n_pairs,
            st["n_changed"],
            st["sim_total"],
            st["sim_total"] // n_pairs if n_pairs else None,
            _last(sims),
            st["n_late"],
        )]

    toks = F.array_distinct(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    keyed = pages_stream.select(
        "url",
        epoch_us("warc_ts").alias("ts_us"),
        F.concat_ws(SEP, F.slice(F.array_sort(toks), 1, 4096)).alias(
            "packed"
        ),
    )
    return _ledger(
        keyed,
        ["url"],
        ["ts_us", "packed"],
        (0, None, 0, 0, 0, None, 0),
        fold,
        emit,
        "n_captures long, last_toks string, n_pairs long,"
        " n_changed long, sim_total long, last_us long, n_late long",
        "url string, n_captures long, n_pairs long, n_changed long,"
        " sim_ppm_total long, mean_sim_ppm long, last_sim_ppm long,"
        " n_late long",
    )


def streaming_admission(pages_stream: DataFrame) -> DataFrame:
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
    sums, while the stream pays one integer add per page. A
    micro-batch folds in (ts_us, url) order. ADMISSION ORDER IS
    INGEST ORDER: a late-arriving page (older warc_ts than
    already-folded pages) still consumes budget at its ARRIVAL
    position — with O(1) state an earlier admission cannot be
    revoked; n_late counts them so the batch sibling (which orders by
    doc_id, not arrival) can reconcile offline. Tokens of REJECTED
    pages still advance the seen-counter, mirroring the batch cumsum
    over all docs (the sum is monotone, so rejection stays permanent
    in both engines)."""
    from readembedability_spark.textops import HOST_TOKEN_BUDGET

    def fold(st, ts_us, row, late):
        before = st["tokens_seen"]
        admitted = before < HOST_TOKEN_BUDGET
        n_tokens = int(row.n_tokens)
        st["tokens_seen"] += n_tokens
        st["n_seen"] += 1
        st["n_admitted"] += admitted
        return row.url, n_tokens, before, admitted

    def emit(key, st, pages):
        return [
            (key[0], *page, st["tokens_seen"], st["n_seen"],
             st["n_admitted"], st["n_late"])
            for page in pages
        ]

    keyed = pages_stream.select(
        "url",
        host_col().alias("host"),
        epoch_us("warc_ts").alias("ts_us"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    return _ledger(
        keyed,
        ["host"],
        ["ts_us", "url"],
        (0, 0, 0, None, 0),
        fold,
        emit,
        "tokens_seen long, n_seen long, n_admitted long,"
        " last_us long, n_late long",
        "host string, url string, n_tokens long, tokens_before long,"
        " admitted boolean, host_tokens_seen long, host_n_seen long,"
        " host_n_admitted long, host_n_late long",
    )


def streaming_politeness(pages_stream: DataFrame) -> DataFrame:
    """Stateful crawl-politeness monitor (the streaming maintainer of
    q_politeness_audit's per-host compliance ledger): as fetches
    stream in, each host's state carries the LAST applied fetch
    timestamp plus five counters, and every micro-batch emits the
    host's updated ledger — fetch/gap/violation counts, the worst
    (minimum) observed gap, and from those the batch audit's own
    verdict columns (``politeness_verdict``: violation rate in ppm;
    strict-majority 'rude', any-violation 'mixed', else 'polite'; a
    host that has never shown a gap is 'unknown'). The delay is one
    second for every host here; a production monitor would join the
    per-host robots crawl-delay dimension (q_robots_crawl_debt's
    source) broadcast onto the stream before keying.

    State is O(1) per host by construction — one timestamp and five
    longs, no fetch history — so the monitor holds 10^8 hosts in
    executor memory while the batch sibling re-sorts every fetch into
    a lag window. A micro-batch folds in (ts_us, url) order; a
    SAME-INSTANT pair is a zero gap (the maximal violation), exactly
    the batch rule's (ts, id)-tiebreak semantics. LATE DATA: with
    O(1) state a fetch older than the head cannot be spliced between
    two already-folded fetches, so it is counted in n_late and never
    contributes a gap — offline reconciliation is exactly what the
    batch sibling is for."""
    from readembedability_spark.textops import politeness_verdict

    def fold(st, ts_us, row, late):
        st["n_fetches"] += 1
        if late or st["last_us"] is None:
            return
        gap = ts_us - st["last_us"]
        st["n_gaps"] += 1
        st["n_violations"] += gap < 1_000_000
        if st["min_gap_us"] is None or gap < st["min_gap_us"]:
            st["min_gap_us"] = gap

    def emit(key, st, _):
        min_gap_us = st["min_gap_us"]
        return [(
            key[0],
            st["n_fetches"],
            st["n_gaps"],
            st["n_violations"],
            st["n_late"],
            None if min_gap_us is None else min_gap_us // 1000,
        )]

    keyed = pages_stream.select(
        host_col().alias("host"),
        "url",
        epoch_us("warc_ts").alias("ts_us"),
    )
    ledger = _ledger(
        keyed,
        ["host"],
        ["ts_us", "url"],
        (None, 0, 0, 0, None, 0),
        fold,
        emit,
        "last_us long, n_fetches long, n_gaps long,"
        " n_violations long, min_gap_us long, n_late long",
        "host string, n_fetches long, n_gaps long,"
        " n_violations long, n_late long, min_gap_ms long",
    )
    return ledger.select("*", *politeness_verdict())


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
    window instead. A micro-batch folds in (ts_us, url) order. LATE
    DATA: a fetch behind the fold head cannot be judged against the
    window that was active at its true position, so it counts in
    n_late and is never judged — offline reconciliation is the batch
    op's job. NOTE (ADVICE r08): n_fetches counts every ARRIVAL,
    including those late unjudged rows — a consumer computing a
    violation RATE over judged fetches must use (n_fetches - n_late)
    as the denominator."""

    def fold(st, ts_us, row, late):
        st["n_fetches"] += 1
        if late:
            return
        not_before_us = st["not_before_us"]
        if not_before_us is not None and ts_us < not_before_us:
            st["n_violations"] += 1
            st["worst_deficit_us"] = max(
                st["worst_deficit_us"], not_before_us - ts_us
            )
        if int(row.status) in (429, 503):
            st["n_throttled"] += 1
            if pd.isna(row.retry_after_s):
                st["n_missing"] += 1
            else:
                st["not_before_us"] = ts_us + int(row.retry_after_s) * 1_000_000

    def emit(key, st, _):
        return [(
            key[0],
            st["n_fetches"],
            st["n_throttled"],
            st["n_missing"],
            st["n_violations"],
            st["n_late"],
            st["worst_deficit_us"] // 1000,
            st["n_violations"] == 0,
        )]

    keyed = fetches_stream.select(
        host_col().alias("host"),
        "url",
        epoch_us("warc_ts").alias("ts_us"),
        "status",
        "retry_after_s",
    )
    return _ledger(
        keyed,
        ["host"],
        ["ts_us", "url"],
        (None, None, 0, 0, 0, 0, 0, 0),
        fold,
        emit,
        "last_us long, not_before_us long, n_fetches long,"
        " n_throttled long, n_missing long, n_violations long,"
        " worst_deficit_us long, n_late long",
        "host string, n_fetches long, n_throttled long,"
        " n_missing_header long, n_violations long, n_late long,"
        " worst_deficit_ms long, compliant boolean",
    )
