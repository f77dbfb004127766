"""The web archive: SURT keys and the CDX-style capture index, capture
staleness and diffs, WARC and WET records and revisits, and the HTTP
cache, header and transport audits over captured responses.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.queries import (
    _t,
    q,
)
from readembedability_spark.textops.media import _hex8_md5


def surt_key_expr(url):
    """SURT key for a raw url column: lowercased dot-REVERSED host
    (authority ends at '/', '?' or '#') + ')' + the rest. The ONE
    definition every consumer shares — the gate query, the streaming
    maintainer and the archive job — so the batch-written and
    incrementally-maintained indexes can never drift on key shape."""
    host = F.lower(F.regexp_extract(url, r"^https?://([^/?#]+)", 1))
    rest = F.regexp_replace(url, r"^https?://[^/?#]+", "")
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"), rest,
    )


@q(
    """
    WITH cap AS (
      SELECT 'https://News' || CAST(event_id % 300 AS VARCHAR)
               || '.Example.COM/item/'
               || CAST(event_id % 40 AS VARCHAR) AS url,
             ts, event_type
      FROM events),
    parts AS (
      SELECT lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
             regexp_replace(url, '^https?://[^/?#]+', '') AS path,
             ts,
             substr(md5(url || event_type), 1, 8) AS digest
      FROM cap)
    SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
             || ')' || path AS surt_key,
           CAST(COUNT(*) AS BIGINT) AS n_captures,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_versions
    FROM parts GROUP BY surt_key
    """,
)
def q_surt_index(spark, sf_dir):
    """SURT-keyed capture index — the CDX-style index every web
    archive (and recrawl/replay consumer) builds over its captures.
    Raw URLs are reduced to a Sort-friendly URI Reordering Transform
    key (host lowercased and dot-REVERSED `com,example,news`, then
    `)` + path), so one sorted index clusters all captures of a host
    subtree contiguously; per key it reports capture count, first/last
    capture time and distinct content versions (digest cardinality —
    the recrawl-rate signal q_recrawl_schedule consumes at host
    grain). Captures are synthesized from events (mixed-case raw
    URLs, so the lowercase+reverse transform is actually exercised;
    digest varies with event_type so n_versions > 1 fires).

    Plan/scale: the SURT transform is row-local string work (regexp
    extract + split/reverse/join — all JVM built-ins, whole-stage
    codegen); the rollup is ONE hash aggregate on the SURT key with
    map-side partials, and COUNT(DISTINCT digest) expands to the
    standard two-level agg — no joins, no window. At 10^12 captures
    this is a scan + one shuffle on the index key; writing the result
    sorted-by-key (the archive's range-scan layout) is a sortWithin-
    Partitions on the same exchange, not a second shuffle."""
    url, _, digest = _event_capture_cols()
    return surt_cdx_from(
        _t(spark, sf_dir, "events").select(
            surt_key_expr(url).alias("surt_key"), "ts", digest.alias("digest")
        )
    )


def surt_cdx_from(caps):
    """The CDX table over any (surt_key, ts, digest) capture table: one
    hash aggregate on the index key with capture count, first/last
    capture time and distinct content versions. q_surt_index and
    jobs/archive_index.py both run this."""
    return caps.groupBy("surt_key").agg(
        F.count("*").alias("n_captures"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("digest").alias("n_versions"),
    )


def _event_capture_cols():
    """(url, host, digest) Columns of the synthetic captures over
    events that q_surt_index and q_stale_captures audit: mixed-case raw
    urls over 300 hosts x 40 paths, and a digest that varies with
    event_type so a url has several content versions."""
    b = (F.col("event_id") % 300).cast("string")
    url = F.concat(
        F.lit("https://News"), b, F.lit(".Example.COM/item/"),
        (F.col("event_id") % 40).cast("string"),
    )
    host = F.concat(F.lit("news"), b, F.lit(".example.com"))
    return url, host, _hex8_md5(url, F.col("event_type"))


@q(
    """
    WITH cap AS (
      SELECT 'https://News' || CAST(event_id % 300 AS VARCHAR)
               || '.Example.COM/item/'
               || CAST(event_id % 40 AS VARCHAR) AS url,
             'news' || CAST(event_id % 300 AS VARCHAR)
               || '.example.com' AS host,
             ts, event_id,
             substr(md5('https://News' || CAST(event_id % 300 AS VARCHAR)
                        || '.Example.COM/item/'
                        || CAST(event_id % 40 AS VARCHAR)
                        || event_type), 1, 8) AS digest
      FROM events),
    chg AS (
      SELECT host, ts,
             CASE WHEN lag(digest) OVER w IS NOT NULL
                       AND digest <> lag(digest) OVER w
                  THEN 1 ELSE 0 END AS changed
      FROM cap WINDOW w AS (PARTITION BY url ORDER BY ts, event_id)),
    h AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_captures,
             CAST(SUM(changed) AS BIGINT) AS n_changes,
             MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM chg GROUP BY host
      HAVING COUNT(*) >= 2
         AND epoch_us(MAX(ts)) - epoch_us(MIN(ts)) > 0),
    est AS (
      SELECT host, n_captures, n_changes, last_ts,
             -ln((n_captures - n_changes + 0.5) / (n_captures + 0.5))
               / ((epoch_us(last_ts) - epoch_us(first_ts))
                  / 3600000000.0 / (n_captures - 1)) AS lam
      FROM h),
    mx AS (SELECT MAX(ts) AS now_ts FROM cap)
    SELECT host, n_captures, n_changes, last_ts,
           ROUND((epoch_us(mx.now_ts) - epoch_us(last_ts))
                 / 3600000000.0, 4) AS age_hours,
           ROUND(LEAST(168.0, 1.0 / lam), 4) AS recrawl_hours,
           ROUND((epoch_us(mx.now_ts) - epoch_us(last_ts))
                 / 3600000000.0, 4)
             > ROUND(LEAST(168.0, 1.0 / lam), 4) AS is_stale
    FROM est CROSS JOIN mx
    """,
)
def q_stale_captures(spark, sf_dir):
    """Capture-staleness audit — the consumer that closes the archive
    loop: q_surt_index's capture model (url, ts, digest) + the
    Cho/Garcia-Molina change-rate estimator q_recrawl_schedule uses,
    but driven by a REAL change signal: a 'change' is a digest
    transition between consecutive captures of the SAME url (lag over
    the per-url capture sequence), not a synthetic flag. Per host it
    reports the estimated revisit interval (lam from the per-host
    fetch/change counts, week-capped), the age of the newest capture
    relative to the archive's frontier max(ts), and is_stale = age
    exceeds the interval — the work-list a recrawl scheduler drains
    first. Hosts with one capture or a zero time-span are excluded
    (no interval to estimate), matching q_recrawl_schedule.

    Cross-engine notes: the never-changing host has lam = 0 exactly —
    DuckDB's 1.0/0.0 = +inf is week-capped by LEAST; Spark ANSI
    throws, so try_divide -> NULL and LEAST skips NULLs -> 168.0 in
    both. is_stale compares the two ROUNDED values so a last-ulp ln()
    difference cannot flip the boolean across engines.

    Plan/scale: the change signal is a lag window partitioned by url
    (captures per url are bounded; the window hash-partitions on url,
    no global ordering), followed by one host rollup whose aggregate
    state is four numbers, then row-local estimator math against a
    broadcast 1-row frontier. At 10^12 captures: one url-keyed
    exchange + one host-keyed exchange, both AQE-skew-splittable."""
    url, host, digest = _event_capture_cols()
    cap = _t(spark, sf_dir, "events").select(
        url.alias("url"), host.alias("host"), "ts", "event_id",
        digest.alias("digest"),
    )
    return staleness_from(cap, "event_id")


def staleness_from(caps, tiebreak):
    """The staleness core over any (url, host, ts, digest[, tiebreak])
    capture table — the ONE implementation q_stale_captures and
    jobs/archive_index.py share: per-url lag window for the digest-
    transition change signal (``tiebreak`` breaks equal-ts captures
    deterministically), host rollup, Cho/Garcia-Molina interval
    (week-capped, try_divide for the lam=0 host), frontier-age
    comparison on ROUNDED values."""
    w = Window.partitionBy("url").orderBy("ts", tiebreak)
    prev = F.lag("digest").over(w)
    chg = caps.select(
        "host",
        "ts",
        F.when(prev.isNotNull() & (prev != F.col("digest")), 1)
        .otherwise(0)
        .alias("changed"),
    )
    span_us = F.expr("timestampdiff(MICROSECOND, first_ts, last_ts)")
    h = (
        chg.groupBy("host")
        .agg(
            F.count("*").alias("n_captures"),
            F.sum("changed").cast("long").alias("n_changes"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .filter((F.col("n_captures") >= 2) & (span_us > 0))
    )
    span_hours = span_us / F.lit(3600000000.0)
    lam = -F.log(
        (F.col("n_captures") - F.col("n_changes") + 0.5)
        / (F.col("n_captures") + 0.5)
    ) / (span_hours / (F.col("n_captures") - 1))
    mx = F.broadcast(caps.agg(F.max("ts").alias("now_ts")))
    age_hours = F.round(
        F.expr("timestampdiff(MICROSECOND, last_ts, now_ts)")
        / F.lit(3600000000.0),
        4,
    )
    recrawl_hours = F.round(
        F.least(F.lit(168.0), F.try_divide(F.lit(1.0), lam)), 4
    )
    return h.crossJoin(mx).select(
        "host",
        "n_captures",
        "n_changes",
        "last_ts",
        age_hours.alias("age_hours"),
        recrawl_hours.alias("recrawl_hours"),
        (age_hours > recrawl_hours).alias("is_stale"),
    )


@q(
    """
    WITH rec AS (
      SELECT doc_id // 25 AS file_id, doc_id,
             'WARC/1.0' || chr(13) || chr(10)
               || 'WARC-Type: response' || chr(13) || chr(10)
               || 'WARC-Target-URI: https://w'
               || CAST(doc_id % 19 AS VARCHAR) || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) || chr(13) || chr(10)
               || 'Content-Length: ' || CAST(length(text) AS VARCHAR)
               || chr(13) || chr(10) || chr(13) || chr(10)
               || text || chr(13) || chr(10) || chr(13) || chr(10) AS r
      FROM documents
    ), blobs AS (
      SELECT file_id, string_agg(r, '' ORDER BY doc_id) AS blob
      FROM rec GROUP BY file_id
    ), pieces AS (
      SELECT file_id,
             unnest(string_split(blob,
                    'WARC/1.0' || chr(13) || chr(10))) AS piece
      FROM blobs
    ), parsed AS (
      SELECT file_id, piece,
             CAST(regexp_extract(piece, 'Content-Length: ([0-9]+)', 1)
                  AS BIGINT) AS cl,
             strpos(piece, chr(13)||chr(10)||chr(13)||chr(10)) AS hdr_end
      FROM pieces WHERE piece <> ''
    ), recs AS (
      SELECT file_id, cl,
             substr(piece, hdr_end + 4, cl) AS payload,
             substr(piece, hdr_end + 4 + cl, 4)
               = chr(13)||chr(10)||chr(13)||chr(10) AS trailer_ok
      FROM parsed
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(cl) AS BIGINT) AS payload_bytes,
           CAST(SUM(CASE WHEN length(payload) = cl AND trailer_ok
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           md5(string_agg(md5(payload), '' ORDER BY md5(payload)))
             AS records_digest
    FROM recs GROUP BY file_id
    """,
)
def q_warc_records(spark, sf_dir):
    """WARC record splitter — the web-archive source format every
    crawl-scale corpus arrives in: concatenated response records
    (version line, WARC-Type / WARC-Target-URI / Content-Length
    headers, blank line, payload, blank line). Files are synthesized
    deterministically from documents (25 records per file, doc-id
    order), then the operator does the REAL source work: split the
    blob on record boundaries, read each record's declared
    Content-Length, slice exactly that many chars of payload, and
    validate framing (payload length matches the header AND the
    record trailer follows) — the check that catches truncated or
    corrupt archive members. Per file it reports record count, total
    payload bytes, frames-ok count and an order-independent content
    digest (md5 over the sorted per-record payload md5s). Lengths are
    in chars == bytes under the ASCII synthetic corpus (documented
    precondition, same as the PDF gates).

    Plan/scale: the build stage (one hash aggregate) exists only
    because the test corpus is row-per-document — a real archive is
    already one blob per WARC member, so the operator's true shape is
    the parse: split + per-record regexp/substr are row-local JVM
    built-ins (whole-stage codegen; the split's record array lives
    inside one task), the explode is a local fan-out with no
    exchange, and the per-file rollup shuffles on file_id — the same
    key the blob arrived on, so AQE coalesces it to a near-no-op. No
    Python, no window, bounded per-file state (records per WARC
    member are bounded by the archive writer's rotation policy)."""
    docs = _t(spark, sf_dir, "documents")
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.lit("https://w"),
        (F.col("doc_id") % 19).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    )
    blobs = (
        docs.select(
            F.expr("doc_id DIV 25").alias("file_id"),
            F.struct(F.col("doc_id").alias("k"), rec.alias("r")).alias(
                "kr"
            ),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("kr")),
                    lambda x: x.getField("r"),
                ),
                "",
            ).alias("blob")
        )
    )
    pieces = blobs.select(
        "file_id",
        F.explode(
            F.filter(
                F.split(F.col("blob"), r"WARC/1\.0\r\n"),
                lambda x: x != "",
            )
        ).alias("piece"),
    )
    parsed = pieces.select(
        "file_id",
        "piece",
        F.regexp_extract("piece", r"Content-Length: ([0-9]+)", 1)
        .cast("long")
        .alias("cl"),
        F.instr(F.col("piece"), "\r\n\r\n").alias("hdr_end"),
    )
    recs = parsed.select(
        "file_id",
        "cl",
        F.expr("substring(piece, hdr_end + 4, cl)").alias("payload"),
        (
            F.expr("substring(piece, hdr_end + 4 + cl, 4)")
            == "\r\n\r\n"
        ).alias("trailer_ok"),
    )
    return recs.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum("cl").cast("long").alias("payload_bytes"),
        F.sum(
            F.when(
                (F.length("payload") == F.col("cl"))
                & F.col("trailer_ok"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_ok"),
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.md5(F.col("payload").cast("binary")))
                ),
                "",
            ).cast("binary")
        ).alias("records_digest"),
    )


@q(
    """
    WITH hdrs AS (
      SELECT doc_id,
             'HTTP/1.1 200 OK' || chr(10) || 'Content-Type: text/html'
             || CASE doc_id % 7
                WHEN 0 THEN chr(10) || 'Cache-Control: no-store'
                WHEN 1 THEN chr(10) || 'Cache-Control: no-cache'
                  || chr(10) || 'ETag: "e' || CAST(doc_id AS VARCHAR) || '"'
                WHEN 2 THEN chr(10) || 'Cache-Control: public, max-age='
                  || CAST(doc_id * 37 % 86400 AS VARCHAR)
                WHEN 3 THEN chr(10) || 'Cache-Control: public, max-age='
                  || CAST(doc_id * 37 % 86400 AS VARCHAR)
                WHEN 4 THEN chr(10) || 'Cache-Control: private, max-age='
                  || CAST(doc_id * 37 % 3600 AS VARCHAR)
                  || ', stale-while-revalidate=60'
                WHEN 5 THEN chr(10) || 'ETag: "e'
                  || CAST(doc_id AS VARCHAR) || '"'
                ELSE chr(10)
                  || 'Last-Modified: Mon, 01 Jan 2024 00:00:00 GMT'
                END AS hdr
      FROM documents),
    parsed AS (
      SELECT doc_id, hdr,
             regexp_extract(hdr, 'Cache-Control: ([^\\n]+)', 1) AS cc,
             regexp_extract(
               regexp_extract(hdr, 'Cache-Control: ([^\\n]+)', 1),
               'max-age=([0-9]+)', 1) AS ma,
             hdr LIKE '%ETag:%' AS has_etag,
             hdr LIKE '%Last-Modified:%' AS has_lm
      FROM hdrs),
    cls AS (
      SELECT doc_id,
             CASE WHEN ma = '' THEN NULL
                  ELSE CAST(ma AS BIGINT) END AS ttl_s,
             has_etag, has_lm,
             CASE
               WHEN cc LIKE '%no-store%' THEN 'no-store'
               WHEN cc LIKE '%no-cache%' THEN 'revalidate-always'
               WHEN ma <> '' AND cc LIKE '%stale-while-revalidate%'
                 THEN 'fresh-ttl-swr'
               WHEN ma <> '' THEN 'fresh-ttl'
               WHEN has_etag THEN 'etag-revalidate'
               WHEN has_lm THEN 'lm-heuristic'
               ELSE 'uncacheable' END AS policy_class
      FROM parsed)
    SELECT policy_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(ttl_s), 0) AS BIGINT) AS ttl_total_s,
           CAST(COALESCE(MAX(ttl_s), 0) AS BIGINT) AS ttl_max_s,
           CAST(SUM(CASE WHEN has_etag OR has_lm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_revalidatable
    FROM cls GROUP BY policy_class
    """,
)
def q_http_cache(spark, sf_dir):
    """HTTP cache-policy classification — the recrawl-economics signal
    a polite crawler reads before q_recrawl_schedule's statistical
    estimate: raw response headers (synthesized deterministically per
    doc: no-store / no-cache+ETag / public max-age / private
    max-age+stale-while-revalidate / bare ETag / bare Last-Modified —
    all six RFC 9111 revalidation regimes fire) are PARSED with JVM
    regexp (header lines are regular; newline-delimited via chr(10)
    so the oracle literal carries no escape ambiguity) into a
    revalidation class: no-store, revalidate-always, fresh-ttl,
    fresh-ttl-swr, etag-revalidate, lm-heuristic. Per class: doc
    count, total and max declared TTL seconds (exact BIGINT — the
    freshness budget the scheduler can bank), and how many responses
    are revalidatable with a conditional request (ETag or
    Last-Modified present — a 304 costs ~100x less than a refetch).
    The empty-string regexp_extract miss is mapped to NULL before the
    cast (Spark ANSI mode would throw on CAST('') — both engines
    guard identically).

    Plan/scale: row-local whole-stage-codegen regexp + CASE over the
    header blob, then ONE 6-group hash aggregate with map-side
    partials. No join, no window, no Python; at 10^12 captures this
    is scan + one exchange of 6 rows per partition."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = d % 7
    nl = F.lit("\n")
    etag = F.concat(F.lit('ETag: "e'), d.cast("string"), F.lit('"'))
    ma_day = (d * 37 % 86400).cast("string")
    ma_hr = (d * 37 % 3600).cast("string")
    tail = (
        F.when(m == 0, F.concat(nl, F.lit("Cache-Control: no-store")))
        .when(
            m == 1,
            F.concat(nl, F.lit("Cache-Control: no-cache"), nl, etag),
        )
        .when(
            (m == 2) | (m == 3),
            F.concat(nl, F.lit("Cache-Control: public, max-age="), ma_day),
        )
        .when(
            m == 4,
            F.concat(
                nl,
                F.lit("Cache-Control: private, max-age="),
                ma_hr,
                F.lit(", stale-while-revalidate=60"),
            ),
        )
        .when(m == 5, F.concat(nl, etag))
        .otherwise(
            F.concat(
                nl, F.lit("Last-Modified: Mon, 01 Jan 2024 00:00:00 GMT")
            )
        )
    )
    hdr = F.concat(
        F.lit("HTTP/1.1 200 OK"), nl, F.lit("Content-Type: text/html"), tail
    )
    parsed = docs.select(
        F.regexp_extract(hdr, r"Cache-Control: ([^\n]+)", 1).alias("cc"),
        F.regexp_extract(
            F.regexp_extract(hdr, r"Cache-Control: ([^\n]+)", 1),
            r"max-age=([0-9]+)",
            1,
        ).alias("ma"),
        hdr.like("%ETag:%").alias("has_etag"),
        hdr.like("%Last-Modified:%").alias("has_lm"),
    )
    ttl = F.when(F.col("ma") != "", F.col("ma").cast("long"))
    policy = (
        F.when(F.col("cc").like("%no-store%"), F.lit("no-store"))
        .when(F.col("cc").like("%no-cache%"), F.lit("revalidate-always"))
        .when(
            (F.col("ma") != "")
            & F.col("cc").like("%stale-while-revalidate%"),
            F.lit("fresh-ttl-swr"),
        )
        .when(F.col("ma") != "", F.lit("fresh-ttl"))
        .when(F.col("has_etag"), F.lit("etag-revalidate"))
        .when(F.col("has_lm"), F.lit("lm-heuristic"))
        .otherwise(F.lit("uncacheable"))
    )
    return (
        parsed.select(
            policy.alias("policy_class"),
            ttl.alias("ttl_s"),
            "has_etag",
            "has_lm",
        )
        .groupBy("policy_class")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("ttl_s"), F.lit(0))
            .cast("long")
            .alias("ttl_total_s"),
            F.coalesce(F.max("ttl_s"), F.lit(0))
            .cast("long")
            .alias("ttl_max_s"),
            F.sum(
                (F.col("has_etag") | F.col("has_lm")).cast("long")
            )
            .cast("long")
            .alias("n_revalidatable"),
        )
    )


@q(
    """
    WITH caps AS (
      SELECT event_id % 50 AS url_id,
             ROW_NUMBER() OVER (PARTITION BY event_id % 50
                                ORDER BY ts, event_id) - 1 AS v
      FROM events),
    agg AS (
      SELECT url_id, CAST(COUNT(*) AS BIGINT) AS n_captures
      FROM caps GROUP BY url_id
      HAVING COUNT(*) >= 2)
    SELECT url_id,
           n_captures,
           n_captures - 1 AS n_pairs,
           (n_captures - 1) // 2 AS n_changed,
           CAST(((n_captures - 1) - (n_captures - 1) // 2) * 1000000
                + ((n_captures - 1) // 2) * (7000000 // 13)
                AS BIGINT) AS sim_ppm_total,
           CAST((((n_captures - 1) - (n_captures - 1) // 2) * 1000000
                 + ((n_captures - 1) // 2) * (7000000 // 13))
                // NULLIF(n_captures - 1, 0) AS BIGINT) AS mean_sim_ppm
    FROM agg
    """,
)
def q_capture_diff(spark, sf_dir):
    """Inter-capture change MAGNITUDE — the recrawl-value signal one
    level deeper than q_stale_captures' binary digest transition: for
    every consecutive capture pair of a url, the token-set Jaccard
    similarity says HOW MUCH of the page turned over (boilerplate
    tweak vs full rewrite), which prices a recrawl far better than
    change/no-change. Captures are versioned per url by (ts,
    event_id); each version's token set is synthesized in-array
    (7 stable tokens + 3 volatile tokens that rotate every 2
    versions), the ACTUAL array machinery diffs consecutive sets
    (lag window over the array column, array_intersect /
    array_union sizes, exact integer ppm), and the per-url rollup
    reports pair counts, changed-pair counts and exact mean
    similarity. The oracle states the planted rule's CLOSED FORM
    (even-boundary pairs similar at 7/13 = 538461 ppm, in-window
    pairs identical), so a differ that compares the wrong neighbor,
    loses set semantics (duplicate tokens), or rounds the rational
    hash-fails.

    Plan/scale: one per-url window pass (the sort a capture index
    already maintains) carrying the lag'd token array, row-local
    array intersect/union — never a self-join of captures — then one
    url-keyed rollup. At 10^12 captures this is the same one-window
    cost class as q_crawl_delta; the token arrays ride inside the
    row, so the window state is one array per url, not a history."""
    ev = _t(spark, sf_dir, "events")
    caps = ev.select(
        (F.col("event_id") % 50).alias("url_id"),
        F.col("ts"),
        F.col("event_id"),
    ).withColumn(
        "v",
        F.row_number().over(
            Window.partitionBy("url_id").orderBy("ts", "event_id")
        )
        - 1,
    )
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda i: F.concat(
            F.lit("u"),
            F.col("url_id").cast("string"),
            F.lit("_"),
            i.cast("string"),
            F.when(
                i >= 7,
                F.concat(
                    F.lit("_v"), F.expr("v DIV 2").cast("string")
                ),
            ).otherwise(F.lit("")),
        ),
    )
    w = Window.partitionBy("url_id").orderBy("v")
    pairs = (
        caps.withColumn("toks", toks)
        .withColumn("prev", F.lag("toks").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "url_id",
            F.expr(
                "size(array_intersect(toks, prev)) * 1000000L"
                " DIV size(array_union(toks, prev))"
            ).alias("sim_ppm"),
        )
    )
    return pairs.groupBy("url_id").agg(
        (F.count("*") + 1).cast("long").alias("n_captures"),
        F.count("*").cast("long").alias("n_pairs"),
        F.sum((F.col("sim_ppm") < 1000000).cast("long"))
        .cast("long")
        .alias("n_changed"),
        F.sum("sim_ppm").cast("long").alias("sim_ppm_total"),
        F.expr("SUM(sim_ppm) DIV NULLIF(COUNT(*), 0)").alias(
            "mean_sim_ppm"
        ),
    )


@q(
    """
    WITH html AS (
      SELECT doc_id, doc_id // 25 AS file_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || '</title><style>p{margin:0}</style></head><body><h1>Doc '
             || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
             || '</p><script>var x = 1 < 2;</script></body></html>' AS h
      FROM documents),
    noscript AS (
      SELECT doc_id, file_id, length(h) AS html_chars,
             regexp_replace(
               regexp_replace(h, '<script>.*?</script>', ' ', 'g'),
               '<style>.*?</style>', ' ', 'g') AS h
      FROM html),
    txt AS (
      SELECT doc_id, file_id, html_chars,
             trim(regexp_replace(
               regexp_replace(h, '<[^>]*>', ' ', 'g'),
               '\\s+', ' ', 'g')) AS extracted
      FROM noscript)
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(html_chars) AS BIGINT) AS html_chars,
           CAST(SUM(length(extracted)) AS BIGINT) AS text_chars,
           CAST(SUM(length(extracted)) * 1000000 // SUM(html_chars)
                AS BIGINT) AS yield_ppm,
           md5(string_agg(md5(extracted), '' ORDER BY md5(extracted)))
             AS records_digest
    FROM txt GROUP BY file_id
    """,
)
def q_wet_convert(spark, sf_dir):
    """WARC->WET text conversion — the step between q_warc_records'
    framing validation and every text operator in this repo: archived
    HTML responses (synthesized per doc with head/title/style/script
    chrome around the text) are converted to plain text the way WET
    writers do it: script and style blocks are removed FIRST as whole
    blocks (ordering is the correctness-bearing part — the script
    body here contains a bare '<' comparison that the generic tag
    strip would otherwise misread as a tag open and eat code into the
    output), then remaining tags become spaces, then whitespace
    collapses. Per WET file (25 records/file, the q_warc_records
    grain): record count, source vs extracted char mass, the
    text-yield ppm (the crawl-economics number — how much of the
    fetched byte budget is trainable text), and the order-independent
    per-record content digest (md5 over sorted per-record md5s, the
    q_warc_records idiom) a downstream dedup can reconcile against.

    Plan/scale: the three regexp_replace passes are row-local JVM
    built-ins inside one codegen'd projection (a real WET job swaps
    the synthesis for the archive scan and keeps exactly this
    shape); ONE hash aggregate on file_id — the key the records
    arrived on, so AQE coalesces the exchange to a near-no-op."""
    docs = _t(spark, sf_dir, "documents")
    h = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><script>var x = 1 < 2;</script></body></html>"),
    )
    html = docs.select(
        F.expr("doc_id DIV 25").alias("file_id"), h.alias("h")
    )
    noscript = html.select(
        "file_id",
        F.length("h").alias("html_chars"),
        F.regexp_replace(
            F.regexp_replace("h", r"<script>.*?</script>", " "),
            r"<style>.*?</style>",
            " ",
        ).alias("h"),
    )
    txt = noscript.select(
        "file_id",
        "html_chars",
        F.trim(
            F.regexp_replace(
                F.regexp_replace("h", r"<[^>]*>", " "), r"\s+", " "
            )
        ).alias("extracted"),
    )
    return (
        txt.groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.sum("html_chars").cast("long").alias("html_chars"),
            F.sum(F.length("extracted")).cast("long").alias("text_chars"),
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(
                            F.md5(F.col("extracted").cast("binary"))
                        )
                    ),
                    "",
                ).cast("binary")
            ).alias("records_digest"),
        )
        .select(
            "file_id",
            "n_records",
            "html_chars",
            "text_chars",
            F.expr("text_chars * 1000000 DIV html_chars").alias(
                "yield_ppm"
            ),
            "records_digest",
        )
    )


@q(
    """
    WITH caps AS (
      SELECT event_id, ts,
             CASE WHEN event_id % 997 = 0 THEN 101 + event_id
                  ELSE event_id % 101 END AS url_id,
             event_id // 101 AS k
      FROM events),
    sch AS (
      SELECT event_id, ts, url_id,
             CASE url_id % 5
               WHEN 0 THEN 0
               WHEN 1 THEN 1
               WHEN 2 THEN CASE WHEN k >= 1 + url_id % 7
                                THEN 1 ELSE 0 END
               WHEN 3 THEN CASE WHEN k < 1 + url_id % 7
                                THEN 1 ELSE 0 END
               ELSE k % 2 END AS is_https
      FROM caps),
    spans AS (
      SELECT url_id, url_id % 11 AS host, is_https,
             first_value(is_https) OVER (
               PARTITION BY url_id ORDER BY ts, event_id)
               AS first_https,
             first_value(is_https) OVER (
               PARTITION BY url_id ORDER BY ts DESC, event_id DESC)
               AS last_https
      FROM sch),
    per_url AS (
      SELECT url_id, MAX(host) AS host,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_https) AS BIGINT) AS n_https,
             MAX(first_https) AS first_https,
             MAX(last_https) AS last_https
      FROM spans GROUP BY url_id),
    cls AS (
      SELECT *,
             CASE
               WHEN n = 1 THEN 'single'
               WHEN first_https = 0 AND last_https = 1 THEN 'migrated'
               WHEN first_https = 1 AND last_https = 0 THEN 'regressed'
               WHEN first_https = 1 AND n_https = n THEN 'https-stable'
               WHEN first_https = 0 AND n_https = 0 THEN 'http-stable'
               ELSE 'flapping' END AS scheme_class
      FROM per_url)
    SELECT scheme_class,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(n) AS BIGINT) AS n_captures,
           CAST(SUM(n_https) AS BIGINT) AS n_https_captures,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM cls GROUP BY scheme_class
    """,
)
def q_https_migration(spark, sf_dir):
    """HTTPS-migration audit — the transport-security trajectory of a
    url across its capture history (the signal a recrawl scheduler
    uses to retire http:// variants and a canonicalizer uses to pick
    the surviving scheme): per url the FIRST and LAST observed scheme
    come from two first_value windows over the same (url) partition —
    ascending and descending (ts, event_id) order, the id tiebreak
    making same-instant captures deterministic — and the url's class
    is read off the endpoints plus the https capture count: single
    (one capture — no trajectory), migrated (http->https), regressed
    (https->http, the incident worth alerting on), https-/http-stable
    (endpoints agree AND the interior never flapped), else flapping.
    Urls are synthesized with FIVE scheme behaviors driven by the
    capture index and a per-url migration point (1 + url%7) — not by
    event parity, which a fixed recrawl stride silently freezes (the
    dead-class trap: stride 101 preserves parity, so first==last
    always) — plus a sparse unique-url arm for 'single'. Per class:
    url count, capture mass, https capture mass, distinct-host
    spread.

    Plan/scale: both windows share ONE hash partitioning on url_id
    (two sorts, one exchange) and the per-url aggregate groups on the
    SAME key — the whole audit is one shuffle of the capture table;
    the class rollup then collapses the bounded per-url table."""
    ev = _t(spark, sf_dir, "events")
    url_id = F.when(
        F.col("event_id") % 997 == 0, F.lit(101) + F.col("event_id")
    ).otherwise(F.col("event_id") % 101)
    k = F.expr("event_id DIV 101")
    point = F.lit(1) + url_id % 7
    ck = url_id % 5
    is_https = (
        F.when(ck == 0, F.lit(0))
        .when(ck == 1, F.lit(1))
        .when(ck == 2, F.when(k >= point, 1).otherwise(0))
        .when(ck == 3, F.when(k < point, 1).otherwise(0))
        .otherwise(k % 2)
    )
    caps = ev.select(
        url_id.alias("url_id"),
        "ts",
        "event_id",
        is_https.cast("long").alias("is_https"),
    )
    asc = Window.partitionBy("url_id").orderBy("ts", "event_id")
    desc = Window.partitionBy("url_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    spans = caps.select(
        "url_id",
        (F.col("url_id") % 11).alias("host"),
        "is_https",
        F.first("is_https").over(asc).alias("first_https"),
        F.first("is_https").over(desc).alias("last_https"),
    )
    per_url = spans.groupBy("url_id").agg(
        F.max("host").alias("host"),
        F.count("*").cast("long").alias("n"),
        F.sum("is_https").cast("long").alias("n_https"),
        F.max("first_https").alias("first_https"),
        F.max("last_https").alias("last_https"),
    )
    cls = per_url.select(
        "host",
        "n",
        "n_https",
        F.when(F.col("n") == 1, "single")
        .when(
            (F.col("first_https") == 0) & (F.col("last_https") == 1),
            "migrated",
        )
        .when(
            (F.col("first_https") == 1) & (F.col("last_https") == 0),
            "regressed",
        )
        .when(
            (F.col("first_https") == 1)
            & (F.col("n_https") == F.col("n")),
            "https-stable",
        )
        .when(
            (F.col("first_https") == 0) & (F.col("n_https") == 0),
            "http-stable",
        )
        .otherwise("flapping")
        .alias("scheme_class"),
    )
    return cls.groupBy("scheme_class").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum("n").cast("long").alias("n_captures"),
        F.sum("n_https").cast("long").alias("n_https_captures"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH caps AS (
      SELECT event_id, event_id % 101 AS url_id,
             md5(CAST('v' ||
                 CAST(CASE WHEN (event_id % 101) % 4 = 0
                      THEN event_id // 101
                      ELSE (event_id // 101) // 8 END AS VARCHAR)
                 || '-' || CAST(event_id % 101 AS VARCHAR)
                 AS VARCHAR)) AS digest,
             500 + ((event_id % 101) * 37
                    + CASE WHEN (event_id % 101) % 4 = 0
                           THEN event_id // 101
                           ELSE (event_id // 101) // 8 END) % 300
               AS payload_bytes
      FROM events),
    per_digest AS (
      SELECT url_id, digest,
             CAST(COUNT(*) AS BIGINT) AS n_captures,
             CAST(MIN(event_id) AS BIGINT) AS first_capture,
             CAST(MAX(payload_bytes) AS BIGINT) AS payload_bytes
      FROM caps GROUP BY url_id, digest),
    per_url AS (
      SELECT url_id,
             CAST(SUM(n_captures) AS BIGINT) AS n_captures,
             CAST(COUNT(*) AS BIGINT) AS n_stored,
             CAST(SUM(n_captures) - COUNT(*) AS BIGINT) AS n_revisit,
             CAST(SUM((n_captures - 1) * payload_bytes) AS BIGINT)
               AS bytes_saved
      FROM per_digest GROUP BY url_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(n_captures) AS BIGINT) AS n_captures,
           CAST(SUM(n_stored) AS BIGINT) AS n_stored,
           CAST(SUM(n_revisit) AS BIGINT) AS n_revisit,
           CAST(SUM(n_revisit) * 1000000 // SUM(n_captures) AS BIGINT)
             AS revisit_ppm,
           CAST(SUM(bytes_saved) AS BIGINT) AS bytes_saved
    FROM per_url
    """,
)
def q_warc_revisit(spark, sf_dir):
    """WARC revisit-record economics — the archive-side dedup that
    `response` vs `revisit` record types encode (WARC/1.1 §6.7): when
    a recrawl returns payload bytes whose digest the archive has
    already stored FOR THAT URL, the writer stores a pointer record
    instead of the body. Captures are synthesized per (url, capture
    index) with two change cadences — fast-changing urls (every
    capture a fresh digest: nothing to save) and slow-changing urls
    (digest advances every 8th capture: 7/8 of fetches are revisits)
    — so both economics regimes are live. Per (url, digest): capture
    count and first-capture id (the record every revisit points to);
    per url: stored vs revisit split; globally: the revisit rate in
    ppm and the payload bytes the revisit mechanism saves (each
    digest's body stored once, its other captures cost ~0).

    Plan/scale: ONE hash aggregate on (url, digest) — the natural
    arrival key of a per-url-sorted archive scan, so map-side
    partials collapse the capture stream before the exchange; the
    per-url and global rollups collapse bounded tables. The digest
    is md5 in BOTH engines — the idiom every dedup op here shares."""
    ev = _t(spark, sf_dir, "events")
    url_id = F.col("event_id") % 101
    k = F.expr("event_id DIV 101")
    ver = F.when(url_id % 4 == 0, k).otherwise(F.expr("(event_id DIV 101) DIV 8"))
    caps = ev.select(
        "event_id",
        url_id.alias("url_id"),
        F.md5(
            F.concat(
                F.lit("v"),
                ver.cast("string"),
                F.lit("-"),
                url_id.cast("string"),
            ).cast("binary")
        ).alias("digest"),
        (F.lit(500) + (url_id * 37 + ver) % 300).alias(
            "payload_bytes"
        ),
    )
    per_digest = caps.groupBy("url_id", "digest").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.min("event_id").cast("long").alias("first_capture"),
        F.max("payload_bytes").cast("long").alias("payload_bytes"),
    )
    per_url = per_digest.groupBy("url_id").agg(
        F.sum("n_captures").cast("long").alias("n_captures"),
        F.count("*").cast("long").alias("n_stored"),
        (F.sum("n_captures") - F.count("*"))
        .cast("long")
        .alias("n_revisit"),
        F.sum(
            (F.col("n_captures") - 1) * F.col("payload_bytes")
        )
        .cast("long")
        .alias("bytes_saved"),
    )
    return per_url.agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum("n_captures").cast("long").alias("n_captures"),
        F.sum("n_stored").cast("long").alias("n_stored"),
        F.sum("n_revisit").cast("long").alias("n_revisit"),
        F.expr("SUM(n_revisit) * 1000000 DIV SUM(n_captures)")
        .cast("long")
        .alias("revisit_ppm"),
        F.sum("bytes_saved").cast("long").alias("bytes_saved"),
    )


@q(
    """
    WITH resp AS (
      SELECT event_id, event_id % 11 AS host,
             CASE event_id % 5
               WHEN 0 THEN 1200 WHEN 1 THEN 1200 WHEN 2 THEN 1200
               WHEN 3 THEN -1 ELSE 0 END AS declared,
             CASE event_id % 5
               WHEN 0 THEN 1200   -- exact
               WHEN 1 THEN 800    -- truncated
               WHEN 2 THEN 1350   -- overlong
               WHEN 3 THEN 900    -- undeclared
               ELSE 0 END AS actual
      FROM events),
    cls AS (
      SELECT host, declared, actual,
             CASE
               WHEN declared < 0 THEN 'undeclared'
               WHEN actual = declared AND actual = 0 THEN 'empty'
               WHEN actual = declared THEN 'exact'
               WHEN actual < declared THEN 'truncated'
               ELSE 'overlong' END AS length_class
      FROM resp)
    SELECT length_class,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(actual) AS BIGINT) AS actual_bytes,
           CAST(COALESCE(SUM(CASE WHEN declared >= 0
                                  THEN declared - actual END), 0)
                AS BIGINT) AS byte_deficit
    FROM cls GROUP BY length_class
    """,
)
def q_content_length_audit(spark, sf_dir):
    """Content-Length reconciliation — the transfer-integrity gate
    between the fetcher and every byte-counting operator downstream
    (a truncated body silently shortens documents; an overlong one
    signals a framing bug or trailing garbage): responses are
    synthesized with five regimes — exact, truncated (connection
    dropped mid-body), overlong, undeclared (no header, sentinel -1
    rather than a NULL that arithmetic would swallow), and the
    EMPTY-but-exact page (declared 0, got 0 — correct, not
    truncated; the zero-byte probe is the ordering-bearing branch:
    'actual = declared' must be tested before the < comparison can
    label it). Per class: response count, host spread, delivered
    byte mass, and the byte deficit (declared - actual, summed only
    where a declaration exists — overlong contributes NEGATIVE
    deficit, netting the framing error budget).

    Plan/scale: row-local CASE in codegen; ONE hash aggregate on the
    5-class alphabet."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    declared = (
        F.when(m == 3, F.lit(-1))
        .when(m == 4, F.lit(0))
        .otherwise(F.lit(1200))
    )
    actual = (
        F.when(m == 0, F.lit(1200))
        .when(m == 1, F.lit(800))
        .when(m == 2, F.lit(1350))
        .when(m == 3, F.lit(900))
        .otherwise(F.lit(0))
    )
    resp = ev.select(
        (F.col("event_id") % 11).alias("host"),
        declared.alias("declared"),
        actual.alias("actual"),
    )
    cls = resp.select(
        "host",
        "declared",
        "actual",
        F.when(F.col("declared") < 0, "undeclared")
        .when(
            (F.col("actual") == F.col("declared"))
            & (F.col("actual") == 0),
            "empty",
        )
        .when(F.col("actual") == F.col("declared"), "exact")
        .when(F.col("actual") < F.col("declared"), "truncated")
        .otherwise("overlong")
        .alias("length_class"),
    )
    return cls.groupBy("length_class").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("actual").cast("long").alias("actual_bytes"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("declared") >= 0,
                    F.col("declared") - F.col("actual"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("byte_deficit"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id % 5 AS host,
             CASE WHEN event_id % 2 = 1 THEN
               'strict-transport-security: max-age=31536000' || chr(10)
               ELSE '' END
             || CASE WHEN (event_id // 2) % 2 = 1 THEN
               'content-security-policy: default-src ''self''' || chr(10)
               ELSE '' END
             || CASE WHEN (event_id // 4) % 2 = 1 THEN
               'x-content-type-options: nosniff' || chr(10)
               ELSE '' END
             || CASE WHEN (event_id // 8) % 2 = 1 THEN
               'x-frame-options: DENY' || chr(10)
               ELSE '' END AS headers
      FROM events),
    flags AS (
      SELECT host,
             headers LIKE '%strict-transport-security:%' AS has_hsts,
             headers LIKE '%content-security-policy:%' AS has_csp,
             headers LIKE '%x-content-type-options:%' AS has_xcto,
             headers LIKE '%x-frame-options:%' AS has_xfo
      FROM pages)
    SELECT CAST(CASE WHEN has_hsts THEN 1 ELSE 0 END
                + CASE WHEN has_csp THEN 1 ELSE 0 END
                + CASE WHEN has_xcto THEN 1 ELSE 0 END
                + CASE WHEN has_xfo THEN 1 ELSE 0 END
                AS BIGINT) AS grade,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COALESCE(SUM(CASE WHEN has_hsts THEN 1 END), 0)
                AS BIGINT) AS n_hsts,
           CAST(COALESCE(SUM(CASE WHEN has_csp THEN 1 END), 0)
                AS BIGINT) AS n_csp,
           CAST(COALESCE(SUM(CASE WHEN has_xcto THEN 1 END), 0)
                AS BIGINT) AS n_xcto,
           CAST(COALESCE(SUM(CASE WHEN has_xfo THEN 1 END), 0)
                AS BIGINT) AS n_xfo,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM flags GROUP BY 1
    """,
)
def q_security_headers(spark, sf_dir):
    """Security-response-header census — the transport-hygiene grade
    a crawl QA dashboard tracks per cohort (HSTS tells the recrawler
    to upgrade scheme-less frontier entries; CSP/X-Frame-Options
    changes tell the renderer what an archived capture could legally
    have framed or executed): four independent presence bits (HSTS,
    CSP, X-Content-Type-Options, X-Frame-Options) probed over the
    raw header block, graded 0-4 by count. Grouping is BY GRADE with
    per-header marginals inside each grade — the dashboard question
    is 'what do grade-2 hosts tend to be missing', which a flat
    per-header census cannot answer. All 16 presence combinations
    are live by construction (4-bit rotation).

    Plan/scale: four LIKE probes in one codegen'd projection; ONE
    hash aggregate on the 5-row grade key (COUNT DISTINCT host adds
    the standard distinct-expand, bounded by 5 grades x hosts)."""
    ev = _t(spark, sf_dir, "events")
    heads = F.concat(
        F.when(
            F.col("event_id") % 2 == 1,
            F.lit("strict-transport-security: max-age=31536000\n"),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("(event_id DIV 2) % 2") == 1,
            F.lit("content-security-policy: default-src 'self'\n"),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("(event_id DIV 4) % 2") == 1,
            F.lit("x-content-type-options: nosniff\n"),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("(event_id DIV 8) % 2") == 1,
            F.lit("x-frame-options: DENY\n"),
        ).otherwise(F.lit("")),
    )
    flags = ev.select(
        (F.col("event_id") % 5).alias("host"),
        heads.contains("strict-transport-security:").alias("has_hsts"),
        heads.contains("content-security-policy:").alias("has_csp"),
        heads.contains("x-content-type-options:").alias("has_xcto"),
        heads.contains("x-frame-options:").alias("has_xfo"),
    )
    grade = (
        F.col("has_hsts").cast("int")
        + F.col("has_csp").cast("int")
        + F.col("has_xcto").cast("int")
        + F.col("has_xfo").cast("int")
    ).cast("long")
    return (
        flags.withColumn("grade", grade)
        .groupBy("grade")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.coalesce(F.sum(F.when(F.col("has_hsts"), 1)), F.lit(0))
            .cast("long")
            .alias("n_hsts"),
            F.coalesce(F.sum(F.when(F.col("has_csp"), 1)), F.lit(0))
            .cast("long")
            .alias("n_csp"),
            F.coalesce(F.sum(F.when(F.col("has_xcto"), 1)), F.lit(0))
            .cast("long")
            .alias("n_xcto"),
            F.coalesce(F.sum(F.when(F.col("has_xfo"), 1)), F.lit(0))
            .cast("long")
            .alias("n_xfo"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
    )


@q(
    """
    WITH resp AS (
      SELECT event_id % 7 AS host,
             'Set-Cookie: sid=abc'
             || CASE WHEN event_id % 2 = 1 THEN '; Secure'
                ELSE '' END
             || CASE WHEN (event_id // 2) % 2 = 1 THEN '; HttpOnly'
                ELSE '' END
             || CASE (event_id // 4) % 4
                  WHEN 1 THEN '; SameSite=Lax'
                  WHEN 2 THEN '; SameSite=Strict'
                  WHEN 3 THEN '; SameSite=None'
                  ELSE '' END AS header
      FROM events),
    parsed AS (
      SELECT host,
             CASE WHEN regexp_extract(header, 'SameSite=(\\w+)', 1)
                    = '' THEN '(absent)'
                  ELSE regexp_extract(header, 'SameSite=(\\w+)', 1)
             END AS samesite,
             header LIKE '%; Secure%' AS is_secure,
             header LIKE '%; HttpOnly%' AS is_httponly
      FROM resp)
    SELECT samesite,
           CAST(COUNT(*) AS BIGINT) AS n_cookies,
           CAST(COALESCE(SUM(CASE WHEN is_secure THEN 1 END), 0)
                AS BIGINT) AS n_secure,
           CAST(COALESCE(SUM(CASE WHEN is_httponly THEN 1 END), 0)
                AS BIGINT) AS n_httponly,
           CAST(COALESCE(SUM(CASE WHEN samesite = 'None'
                AND NOT is_secure THEN 1 END), 0)
                AS BIGINT) AS n_rejected,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM parsed GROUP BY samesite
    """,
)
def q_cookie_attributes(spark, sf_dir):
    """Set-Cookie attribute census — the session-hygiene audit a
    polite crawler needs before it decides which cookies to replay
    on recrawl (a cookie the browser itself would REJECT must not
    key a politeness bucket or a rendered-capture variant):
    Secure / HttpOnly / SameSite parsed from the raw header,
    grouped by SameSite class with the absent case a first-class
    '(absent)' row (its default differs by browser era — the
    dashboard needs it separate, not folded into Lax). n_rejected
    counts the RFC 6265bis hard error: SameSite=None without
    Secure, which modern browsers drop on the floor — capture
    variants keyed on such a cookie never actually existed.

    Plan/scale: one regexp capture + two LIKE probes in a codegen'd
    projection; ONE hash aggregate on the 4-row SameSite key."""
    ev = _t(spark, sf_dir, "events")
    ss_code = F.expr("(event_id DIV 4) % 4")
    header = F.concat(
        F.lit("Set-Cookie: sid=abc"),
        F.when(F.col("event_id") % 2 == 1, F.lit("; Secure")).otherwise(
            F.lit("")
        ),
        F.when(
            F.expr("(event_id DIV 2) % 2") == 1, F.lit("; HttpOnly")
        ).otherwise(F.lit("")),
        F.when(ss_code == 1, F.lit("; SameSite=Lax"))
        .when(ss_code == 2, F.lit("; SameSite=Strict"))
        .when(ss_code == 3, F.lit("; SameSite=None"))
        .otherwise(F.lit("")),
    )
    ss_raw = F.regexp_extract(header, r"SameSite=(\w+)", 1)
    parsed = ev.select(
        (F.col("event_id") % 7).alias("host"),
        F.when(ss_raw == "", F.lit("(absent)"))
        .otherwise(ss_raw)
        .alias("samesite"),
        header.contains("; Secure").alias("is_secure"),
        header.contains("; HttpOnly").alias("is_httponly"),
    )
    return parsed.groupBy("samesite").agg(
        F.count("*").cast("long").alias("n_cookies"),
        F.coalesce(F.sum(F.when(F.col("is_secure"), 1)), F.lit(0))
        .cast("long")
        .alias("n_secure"),
        F.coalesce(F.sum(F.when(F.col("is_httponly"), 1)), F.lit(0))
        .cast("long")
        .alias("n_httponly"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("samesite") == "None") & ~F.col("is_secure"),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_rejected"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH fetches AS (
      SELECT event_id % 8 AS host,
             event_id % 4 <> 0 AS has_validator,
             event_id % 4 <> 0 AND (event_id // 4) % 3 <> 2
               AS is_304,
             CAST(1000 + (event_id % 7) * 100 AS BIGINT)
               AS payload_bytes
      FROM events)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(COALESCE(SUM(CASE WHEN has_validator THEN 1 END), 0)
                AS BIGINT) AS n_with_validator,
           CAST(COALESCE(SUM(CASE WHEN is_304 THEN 1 END), 0)
                AS BIGINT) AS n_304,
           CAST(COALESCE(SUM(CASE WHEN NOT is_304
                THEN payload_bytes END), 0) AS BIGINT)
             AS bytes_full,
           CAST(COALESCE(SUM(CASE WHEN is_304
                THEN payload_bytes END), 0) AS BIGINT)
             AS bytes_saved,
           CAST(COALESCE(SUM(CASE WHEN is_304
                THEN payload_bytes END), 0) * 1000000
                // GREATEST(COALESCE(SUM(payload_bytes), 0), 1)
                AS BIGINT) AS saved_ppm
    FROM fetches GROUP BY host
    """,
)
def q_conditional_get(spark, sf_dir):
    """Conditional-revalidation efficiency — the recrawl bandwidth
    ledger that tells the scheduler what validators are WORTH
    (q_http_cache classifies what MAY be cached; this measures what
    conditional requests actually SAVED): fetches carry a validator
    presence bit (no validator means every recrawl is a full 200) and
    a 304-vs-200 outcome for the validated ones; bytes_saved is the
    payload mass the 304s avoided transferring, and saved_ppm is that
    mass over the total payload the host WOULD have shipped — the
    number that justifies validator-aware scheduling per host. The
    no-validator arm keeps the denominator honest: a host serving no
    ETags can't save anything no matter how gently it's recrawled.

    Plan/scale: pure integer arithmetic in one codegen'd projection;
    ONE hash aggregate on host with map-side partials."""
    ev = _t(spark, sf_dir, "events")
    fetches = ev.select(
        (F.col("event_id") % 8).alias("host"),
        (F.col("event_id") % 4 != 0).alias("has_validator"),
        (
            (F.col("event_id") % 4 != 0)
            & (F.expr("(event_id DIV 4) % 3") != 2)
        ).alias("is_304"),
        (1000 + (F.col("event_id") % 7) * 100)
        .cast("long")
        .alias("payload_bytes"),
    )
    return fetches.groupBy("host").agg(
        F.count("*").cast("long").alias("n_requests"),
        F.coalesce(
            F.sum(F.when(F.col("has_validator"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_with_validator"),
        F.coalesce(F.sum(F.when(F.col("is_304"), 1)), F.lit(0))
        .cast("long")
        .alias("n_304"),
        F.coalesce(
            F.sum(F.when(~F.col("is_304"), F.col("payload_bytes"))),
            F.lit(0),
        )
        .cast("long")
        .alias("bytes_full"),
        F.coalesce(
            F.sum(F.when(F.col("is_304"), F.col("payload_bytes"))),
            F.lit(0),
        )
        .cast("long")
        .alias("bytes_saved"),
        F.expr(
            "COALESCE(SUM(CASE WHEN is_304 THEN payload_bytes END), 0)"
            " * 1000000 DIV"
            " GREATEST(COALESCE(SUM(payload_bytes), 0), 1)"
        )
        .cast("long")
        .alias("saved_ppm"),
    )


@q(
    """
    WITH resp AS (
      SELECT event_id % 9 AS host,
             CASE event_id % 6
               WHEN 1 THEN 'Accept-Encoding'
               WHEN 2 THEN 'User-Agent'
               WHEN 3 THEN 'Cookie'
               WHEN 4 THEN '*'
               WHEN 5 THEN 'Accept-Encoding, User-Agent'
               ELSE '' END AS vary
      FROM events),
    cls AS (
      SELECT host,
             CASE WHEN vary LIKE '%*%' THEN 'star'
                  WHEN vary LIKE '%Cookie%' THEN 'cookie'
                  WHEN vary LIKE '%User-Agent%' THEN 'user-agent'
                  WHEN vary LIKE '%Accept-Encoding%'
                    THEN 'accept-encoding'
                  ELSE '(none)' END AS vary_class
      FROM resp)
    SELECT vary_class,
           vary_class IN ('star', 'cookie', 'user-agent')
             AS is_fragmenting,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM cls GROUP BY vary_class
    """,
)
def q_vary_audit(spark, sf_dir):
    """Vary-header audit — the cache-fragmentation census a shared
    crawl cache reads before sizing itself (every Vary dimension
    multiplies the variants a url can occupy; 'Vary: User-Agent'
    against a crawler fleet with rotating agents means NO two fetches
    ever hit): responses classify by their WORST Vary member —
    precedence star ('uncacheable, full stop') > cookie (per-session
    variants — uncacheable for a cookie-less crawler but a correctness
    trap for a cookie-bearing one) > user-agent (fragmenting) >
    accept-encoding (benign — the cache keys on encoding anyway) >
    none. The multi-member arm ('Accept-Encoding, User-Agent') lands
    in user-agent: a benign member never launders a fragmenting one.

    Plan/scale: four LIKE probes in one codegen'd projection; ONE
    hash aggregate on the 5-class key."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    vary = (
        F.when(m == 1, F.lit("Accept-Encoding"))
        .when(m == 2, F.lit("User-Agent"))
        .when(m == 3, F.lit("Cookie"))
        .when(m == 4, F.lit("*"))
        .when(m == 5, F.lit("Accept-Encoding, User-Agent"))
        .otherwise(F.lit(""))
    )
    cls = ev.select(
        (F.col("event_id") % 9).alias("host"),
        F.when(vary.contains("*"), "star")
        .when(vary.contains("Cookie"), "cookie")
        .when(vary.contains("User-Agent"), "user-agent")
        .when(vary.contains("Accept-Encoding"), "accept-encoding")
        .otherwise("(none)")
        .alias("vary_class"),
    )
    return cls.groupBy("vary_class").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    ).select(
        "vary_class",
        F.col("vary_class")
        .isin("star", "cookie", "user-agent")
        .alias("is_fragmenting"),
        "n_responses",
        "n_hosts",
    )


@q(
    """
    WITH fetches AS (
      SELECT event_id % 6 AS host,
             CAST(event_id // 6 AS BIGINT) AS k,
             CASE
               WHEN (event_id % 6) % 4 = 0 THEN 200
               WHEN (event_id % 6) % 4 = 1 THEN 500
               WHEN (event_id % 6) % 4 = 2 THEN
                 CASE WHEN (event_id // 6) % 2 = 0
                   THEN 200 ELSE 500 END
               WHEN event_id // 6 = 0 THEN 500
               ELSE 200 END AS status
      FROM events),
    lagged AS (
      SELECT host, status,
             lag(status) OVER (PARTITION BY host ORDER BY k)
               AS prev_status
      FROM fetches),
    per_host AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_fetches,
             CAST(COALESCE(SUM(CASE WHEN status >= 500 THEN 1 END),
                  0) AS BIGINT) AS n_errors,
             CAST(COALESCE(SUM(CASE WHEN prev_status IS NOT NULL
                  AND status <> prev_status THEN 1 END), 0)
                  AS BIGINT) AS n_transitions
      FROM lagged GROUP BY host),
    cls AS (
      SELECT host, n_fetches, n_errors, n_transitions,
             CASE WHEN n_transitions * 4 >= n_fetches
                    THEN 'flapping'
                  WHEN n_errors * 2 > n_fetches THEN 'hard-down'
                  WHEN n_errors > 0 THEN 'degraded'
                  ELSE 'healthy' END AS stability
      FROM per_host)
    SELECT stability,
           CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(SUM(n_transitions) AS BIGINT) AS n_transitions,
           CAST(SUM(n_errors) * 1000000 // SUM(n_fetches)
                AS BIGINT) AS error_ppm
    FROM cls GROUP BY stability
    """,
)
def q_status_flap(spark, sf_dir):
    """Host status-flap detection — the retry-policy selector the
    error RATE alone cannot drive (a host at 50% errors that
    alternates per fetch needs immediate retry — the next attempt
    likely succeeds; a host at 50% because it died halfway needs
    BACKOFF — retrying burns budget): per host, a lag window counts
    status TRANSITIONS in fetch order, and the class precedence is
    flapping (transitions >= a quarter of fetches — the alternation
    signature) > hard-down (majority errors, few transitions) >
    degraded (any errors) > healthy. The synthesis keeps ALL FOUR
    arms live: an always-200 host, an always-500 host (zero
    transitions — rate says down, flap says stable-down), a
    per-fetch alternator, and a first-fetch-only error host
    (degraded; the error rule is deliberately non-periodic — a
    k-periodic error would accrue transitions proportional to n and
    flip to flapping at scale).

    Plan/scale: the lag window and the per-host aggregate share ONE
    host-keyed exchange (window partition = groupBy key); the final
    stability census is bounded by the 4-class alphabet."""
    ev = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 6
    k = F.expr("event_id DIV 6")
    fetches = ev.select(
        h.alias("host"),
        k.cast("long").alias("k"),
        # kind 3 (degraded) errors ONLY on its first fetch — a
        # k-periodic error rule would accumulate transitions
        # proportional to n and misclassify as flapping at scale
        F.when(h % 4 == 0, F.lit(200))
        .when(h % 4 == 1, F.lit(500))
        .when(
            h % 4 == 2,
            F.when(k % 2 == 0, F.lit(200)).otherwise(F.lit(500)),
        )
        .when(k == 0, F.lit(500))
        .otherwise(F.lit(200))
        .alias("status"),
    )
    w = Window.partitionBy("host").orderBy("k")
    lagged = fetches.select(
        "host",
        "status",
        F.lag("status").over(w).alias("prev_status"),
    )
    per_host = lagged.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.coalesce(
            F.sum(F.when(F.col("status") >= 500, 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_errors"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("prev_status").isNotNull()
                    & (F.col("status") != F.col("prev_status")),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_transitions"),
    )
    cls = per_host.select(
        "n_fetches",
        "n_errors",
        "n_transitions",
        F.when(
            F.col("n_transitions") * 4 >= F.col("n_fetches"),
            "flapping",
        )
        .when(F.col("n_errors") * 2 > F.col("n_fetches"), "hard-down")
        .when(F.col("n_errors") > 0, "degraded")
        .otherwise("healthy")
        .alias("stability"),
    )
    return cls.groupBy("stability").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("n_transitions").cast("long").alias("n_transitions"),
        F.expr(
            "SUM(n_errors) * 1000000 DIV SUM(n_fetches)"
        )
        .cast("long")
        .alias("error_ppm"),
    )


@q(
    """
    WITH resp AS (
      SELECT event_id % 11 AS host,
             CASE event_id % 6
               WHEN 0 THEN 'server: cloudflare' || chr(10)
                 || 'cf-ray: 8a2f1c'
               WHEN 1 THEN 'via: 1.1 varnish' || chr(10)
                 || 'x-served-by: cache-ams1'
               WHEN 2 THEN 'x-amz-cf-id: abc123' || chr(10)
                 || 'via: 1.1 xyz.cloudfront.net (CloudFront)'
               WHEN 3 THEN 'x-akamai-transformed: 9 1234 0'
               WHEN 4 THEN 'server: nginx'
               ELSE 'server: cloudflare' || chr(10)
                 || 'x-amz-cf-id: chained456'
             END AS headers
      FROM events),
    sig AS (
      SELECT host,
             headers LIKE '%cloudflare%'
               OR headers LIKE '%cf-ray%' AS is_cf,
             headers LIKE '%x-akamai-%' AS is_ak,
             headers LIKE '%x-served-by%'
               OR headers LIKE '%1.1 varnish%' AS is_fastly,
             headers LIKE '%x-amz-cf-id%'
               OR headers LIKE '%cloudfront.net%' AS is_cfront
      FROM resp),
    cls AS (
      SELECT host,
             CASE WHEN is_cf THEN 'cloudflare'
                  WHEN is_ak THEN 'akamai'
                  WHEN is_fastly THEN 'fastly'
                  WHEN is_cfront THEN 'cloudfront'
                  ELSE '(origin)' END AS cdn,
             CAST(CASE WHEN is_cf THEN 1 ELSE 0 END
                + CASE WHEN is_ak THEN 1 ELSE 0 END
                + CASE WHEN is_fastly THEN 1 ELSE 0 END
                + CASE WHEN is_cfront THEN 1 ELSE 0 END
                AS BIGINT) >= 2 AS chained
      FROM sig)
    SELECT cdn,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(COALESCE(SUM(CASE WHEN chained THEN 1 END), 0)
                AS BIGINT) AS n_chained,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM cls GROUP BY cdn
    """,
)
def q_cdn_detect(spark, sf_dir):
    """CDN fingerprinting — the infrastructure census the politeness
    scheduler reads differently from the host census (a thousand
    hostnames behind one CDN POP share real capacity; per-host
    delays against an edge cache are over-cautious, and a CDN-level
    block is a different incident than an origin block): provider
    classified from the response-header signature families
    (cloudflare server/cf-ray, akamai x-akamai-*, fastly
    x-served-by/varnish via, cloudfront x-amz-cf-id). Multi-CDN
    chaining (an edge in front of an origin shield) is real — the
    class names the EDGE (precedence order), and the chained
    marginal counts responses wearing two providers' signatures.

    Plan/scale: LIKE probes in one codegen'd projection; ONE hash
    aggregate on the provider alphabet."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    headers = (
        F.when(m == 0, F.lit("server: cloudflare\ncf-ray: 8a2f1c"))
        .when(
            m == 1,
            F.lit("via: 1.1 varnish\nx-served-by: cache-ams1"),
        )
        .when(
            m == 2,
            F.lit(
                "x-amz-cf-id: abc123\n"
                "via: 1.1 xyz.cloudfront.net (CloudFront)"
            ),
        )
        .when(m == 3, F.lit("x-akamai-transformed: 9 1234 0"))
        .when(m == 4, F.lit("server: nginx"))
        .otherwise(
            F.lit("server: cloudflare\nx-amz-cf-id: chained456")
        )
    )
    sig = ev.select(
        (F.col("event_id") % 11).alias("host"),
        (
            headers.contains("cloudflare") | headers.contains("cf-ray")
        ).alias("is_cf"),
        headers.contains("x-akamai-").alias("is_ak"),
        (
            headers.contains("x-served-by")
            | headers.contains("1.1 varnish")
        ).alias("is_fastly"),
        (
            headers.contains("x-amz-cf-id")
            | headers.contains("cloudfront.net")
        ).alias("is_cfront"),
    )
    cls = sig.select(
        "host",
        F.when(F.col("is_cf"), "cloudflare")
        .when(F.col("is_ak"), "akamai")
        .when(F.col("is_fastly"), "fastly")
        .when(F.col("is_cfront"), "cloudfront")
        .otherwise("(origin)")
        .alias("cdn"),
        (
            F.col("is_cf").cast("int")
            + F.col("is_ak").cast("int")
            + F.col("is_fastly").cast("int")
            + F.col("is_cfront").cast("int")
            >= 2
        ).alias("chained"),
    )
    return cls.groupBy("cdn").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.coalesce(F.sum(F.when(F.col("chained"), 1)), F.lit(0))
        .cast("long")
        .alias("n_chained"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH captures AS (
      SELECT event_id % 12 AS url,
             CASE (event_id % 12) % 4
               WHEN 0 THEN 'e0'
               WHEN 1 THEN 'e' || (event_id // 12)
               WHEN 2 THEN 'e' || ((event_id // 12) // 2)
               ELSE 'W/"e0"' END AS etag,
             CASE (event_id % 12) % 4
               WHEN 2 THEN 'd' || ((event_id // 12) // 2)
               ELSE 'd0' END AS digest
      FROM events),
    per_url AS (
      SELECT url,
             CAST(COUNT(*) AS BIGINT) AS n_captures,
             CAST(COUNT(DISTINCT etag) AS BIGINT) AS n_etags,
             CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_digests,
             MAX(CASE WHEN etag LIKE 'W/%' THEN 1 ELSE 0 END) = 1
               AS is_weak
      FROM captures GROUP BY url),
    cls AS (
      SELECT n_captures, n_etags, n_digests,
             CASE WHEN is_weak THEN 'weak'
                  WHEN n_etags > n_digests THEN 'etag-churn'
                  ELSE 'consistent' END AS validator_class
      FROM per_url)
    SELECT validator_class,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(n_etags - n_digests) AS BIGINT)
             AS wasted_refetches,
           CAST(SUM(n_captures) AS BIGINT) AS n_captures
    FROM cls GROUP BY validator_class
    """,
)
def q_etag_stability(spark, sf_dir):
    """ETag-stability audit — the validator-TRUST ledger behind the
    conditional-GET savings (q_conditional_get measures what 304s
    saved; this measures which hosts' validators can be BELIEVED): a
    url whose distinct-ETag count exceeds its distinct-content-digest
    count is churning validators on unchanged bytes (load-balancer
    inode ETags, gzip-variant ETags — every churn is a full refetch
    the crawler paid for nothing, counted in wasted_refetches), a
    'W/'-prefixed weak validator is its own class (usable for GET
    revalidation but not range resumption), and consistent urls are
    where conditional fetching actually pays. The honest-change arm
    (ETag and digest move TOGETHER) keeps 'consistent' live with
    churn present.

    Plan/scale: two distinct-aggs + a flag on ONE url-keyed
    exchange; the class census is 3 rows."""
    ev = _t(spark, sf_dir, "events")
    u = F.col("event_id") % 12
    k = F.expr("event_id DIV 12")
    kind = u % 4
    captures = ev.select(
        u.alias("url"),
        F.when(kind == 0, F.lit("e0"))
        .when(kind == 1, F.concat(F.lit("e"), k.cast("string")))
        .when(
            kind == 2,
            F.concat(F.lit("e"), F.expr("(event_id DIV 12) DIV 2").cast("string")),
        )
        .otherwise(F.lit('W/"e0"'))
        .alias("etag"),
        F.when(
            kind == 2,
            F.concat(F.lit("d"), F.expr("(event_id DIV 12) DIV 2").cast("string")),
        )
        .otherwise(F.lit("d0"))
        .alias("digest"),
    )
    per_url = captures.groupBy("url").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.countDistinct("etag").cast("long").alias("n_etags"),
        F.countDistinct("digest").cast("long").alias("n_digests"),
        (
            F.max(
                F.when(F.col("etag").startswith("W/"), 1).otherwise(0)
            )
            == 1
        ).alias("is_weak"),
    )
    cls = per_url.select(
        "n_captures",
        "n_etags",
        "n_digests",
        F.when(F.col("is_weak"), "weak")
        .when(F.col("n_etags") > F.col("n_digests"), "etag-churn")
        .otherwise("consistent")
        .alias("validator_class"),
    )
    return cls.groupBy("validator_class").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(F.col("n_etags") - F.col("n_digests"))
        .cast("long")
        .alias("wasted_refetches"),
        F.sum("n_captures").cast("long").alias("n_captures"),
    )


@q(
    """
    WITH resp AS (
      SELECT event_id % 7 AS host,
             CASE event_id % 5
               WHEN 0 THEN 'default-src ''self''; script-src ''self'''
               WHEN 1 THEN 'default-src ''self''; script-src ''self'''
                 || ' ''unsafe-inline'''
               WHEN 2 THEN 'script-src ''self'' ''unsafe-eval'''
               WHEN 3 THEN 'default-src *; script-src ''self'''
                 || ' ''unsafe-inline'' ''unsafe-eval'''
               ELSE '' END AS csp
      FROM events),
    sig AS (
      SELECT host, csp,
             csp LIKE '%''unsafe-inline''%' AS has_inline,
             csp LIKE '%''unsafe-eval''%' AS has_eval,
             csp LIKE '%default-src *%' AS wildcard_default
      FROM resp),
    cls AS (
      SELECT host,
             CASE WHEN csp = '' THEN 'missing'
                  WHEN has_inline AND has_eval THEN 'both-unsafe'
                  WHEN has_inline THEN 'unsafe-inline'
                  WHEN has_eval THEN 'unsafe-eval'
                  ELSE 'strict' END AS csp_class,
             wildcard_default
      FROM sig)
    SELECT csp_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COALESCE(SUM(CASE WHEN wildcard_default
                THEN 1 END), 0) AS BIGINT) AS n_wildcard_default,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM cls GROUP BY csp_class
    """,
)
def q_csp_audit(spark, sf_dir):
    """CSP directive audit — the depth the presence-bit census
    (q_security_headers) cannot reach: a Content-Security-Policy
    that allows 'unsafe-inline' script has opted out of the one
    protection CSP exists to provide, so the header's PRESENCE is a
    misleading signal without parsing its directives. Classes by
    what the policy actually permits — strict (no unsafe keywords),
    unsafe-inline (XSS protection waived), unsafe-eval (string
    execution allowed — different attack surface, different fix),
    both-unsafe, missing — plus the wildcard-default marginal
    ('default-src *' grants every unlisted fetch class). For a
    rendered-archive pipeline this is an execution-fidelity signal:
    what a capture could legally have run.

    Plan/scale: three LIKE probes over the header value in one
    codegen'd projection; ONE hash aggregate on the 5-class key."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    csp = (
        F.when(
            m == 0,
            F.lit("default-src 'self'; script-src 'self'"),
        )
        .when(
            m == 1,
            F.lit(
                "default-src 'self'; script-src 'self'"
                " 'unsafe-inline'"
            ),
        )
        .when(m == 2, F.lit("script-src 'self' 'unsafe-eval'"))
        .when(
            m == 3,
            F.lit(
                "default-src *; script-src 'self'"
                " 'unsafe-inline' 'unsafe-eval'"
            ),
        )
        .otherwise(F.lit(""))
    )
    sig = ev.select(
        (F.col("event_id") % 7).alias("host"),
        csp.alias("csp"),
        csp.contains("'unsafe-inline'").alias("has_inline"),
        csp.contains("'unsafe-eval'").alias("has_eval"),
        csp.contains("default-src *").alias("wildcard_default"),
    )
    cls = sig.select(
        "host",
        F.when(F.col("csp") == "", "missing")
        .when(F.col("has_inline") & F.col("has_eval"), "both-unsafe")
        .when(F.col("has_inline"), "unsafe-inline")
        .when(F.col("has_eval"), "unsafe-eval")
        .otherwise("strict")
        .alias("csp_class"),
        "wildcard_default",
    )
    return cls.groupBy("csp_class").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.coalesce(
            F.sum(F.when(F.col("wildcard_default"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_wildcard_default"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )
