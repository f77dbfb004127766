"""Driver-harness query registry (SURVEY.md §2.B → __spark_entry__).

Each entry pairs a Spark DataFrame callable ``(spark, sf_dir) -> DF``
with its ANSI-SQL DuckDB oracle over the same parquet tables. Column
names/aliases are IDENTICAL on both sides (the driver's compare sorts
columns by name and value-hashes). Doubles are rounded in-query on both
sides so cross-engine float formatting can't flip the hash.

Queries marked ``sql=None`` are non-SQL-expressible (the extraction
mapInPandas stage itself) → driver records rows-only.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.harness import (
    doc_url,
    html_page,
    salted_extract,
    synthetic_pages,
)


@dataclass
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Registry-wide contract: every query pins the session timezone to
    # UTC (idempotent — all queries set the same value, so results are
    # order-independent within a session; the oracle compare renders
    # timestamps in UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


REGISTRY: dict[str, QueryDef] = {}

#: Storage anchors pinned by registry queries, each held by its own
#: handle: a _persist anchor as its DataFrame, a _local_checkpoint
#: anchor as the JVM RDD behind the returned plan. release_caches frees
#: exactly these, so application caches and checkpoints (whose
#: truncated lineage cannot be recomputed, ADVICE r03) are never
#: touched, and a loop that frees a round early (_unpin) frees only
#: that round, even while other queries run in the same thread pool.
_PERSISTED: list = []


def _persist(df: DataFrame) -> DataFrame:
    """persist() an intra-query anchor AND track it for release.

    Registry queries return lazy DataFrames, so the anchor cannot be
    unpersisted before the caller materializes the result — instead the
    caller contract is: materialize, then ``release_caches(spark)``
    (bench.py does this per query; a long-lived session must too, or
    cached blocks accumulate — VERDICT r02 wrong #3)."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a localCheckpoint'ed DataFrame's blocks: the
    LogicalRDD behind its plan, for eager and lazy checkpoints alike."""
    return df._jdf.logicalPlan().rdd()


def _local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint an intra-query anchor AND track its RDD for
    release (same caller contract as _persist)."""
    out = df.localCheckpoint(eager=eager)
    _PERSISTED.append(_checkpoint_rdd(out))
    return out


def _unpin(anchor) -> None:
    """Free one anchor's storage blocks without blocking. A persisted
    DataFrame and a checkpoint's JVM RDD both take ``unpersist(False)``;
    an anchor left over from a stopped session has nothing to free."""
    try:
        anchor.unpersist(False)
    except Exception:
        pass


#: Iteration-loop sizing (VERDICT r04 #3): target rows per partition
#: for tables that iterative trainers (BPE merge loop, classifier
#: rounds, PageRank) re-read every round. Partition counts are DERIVED
#: from the table's row count at this density (floor 1) instead of
#: hard-coded constants — at sandbox scale the loops still run at the
#: low task-overhead parallelism the constants gave, and at web scale
#: a 10⁹-row vocab/rank table automatically fans out to thousands of
#: partitions instead of bottlenecking on a single task per round.
#: Module-level (not a default arg) so tests can monkeypatch it to
#: force multi-partition plans on small fixtures.
ITER_ROWS_PER_PART = 1 << 16


def _parts_for(n_rows: int, rows_per_part: Optional[int] = None) -> int:
    """Partition count for an n_rows-row iteration table (ceil, floor 1)."""
    if rows_per_part is None:
        rows_per_part = ITER_ROWS_PER_PART
    return max(1, -(-int(n_rows) // int(rows_per_part)))


def _resize(df: DataFrame, parts: int) -> DataFrame:
    """Bring df to `parts` partitions: narrow coalesce when shrinking
    (no shuffle — reads the parent, typically a persisted anchor,
    in place), full repartition only when growing."""
    cur = df.rdd.getNumPartitions()
    if parts < cur:
        return df.coalesce(parts)
    if parts > cur:
        return df.repartition(parts)
    return df


def _iterate(state, step, rounds, parts=None, probe=None):
    """The one round loop behind every DataFrame fixpoint (graph
    contraction, rank propagation, BPE merges). Each of at most
    `rounds` rounds brings the state to `parts` partitions (when
    given), anchors it with a lazy localCheckpoint, runs `probe` (the
    round's single action, if any) on the anchored state, and unless
    the probe returned true applies `step`. Returns (state, stopped):
    the anchored state when the probe stopped the loop, else the last
    step's lazy output.

    The anchor is what keeps a loop linear: a step that reads its
    state twice (a self-join, a sum beside the carry) would otherwise
    re-derive every earlier round once per reference, doubling the
    plan each round. A probe must run an action over the whole anchored
    state: that action materializes the anchor, so the previous round's
    storage is freed right there. A loop without a probe keeps every
    round pinned until release_caches, because its final lazy action
    still reads through all of them."""
    prev = None
    for _ in range(rounds):
        if parts is not None:
            state = _resize(state, parts)
        state = _local_checkpoint(state, eager=False)
        if probe is not None:
            stop = probe(state)
            if prev is not None:
                _unpin(prev)
            prev = _checkpoint_rdd(state)
            if stop:
                return state, True
        state = step(state)
    return state, False


def _unroll(template: str, rounds: int, **fields) -> str:
    """The oracle side of a fixed-round loop: `template` formatted for
    each round t = 1..rounds, with {t} the round and {p} the previous
    one, comma-joined into consecutive CTEs."""
    return ",".join(
        template.format(t=t, p=t - 1, **fields) for t in range(1, rounds + 1)
    )


def _build_concurrently(spark: SparkSession, *builders: Callable) -> list:
    """Run the zero-argument `builders` on one thread each and return
    their results in submission order. Independent builders that run
    eager jobs (a checkpoint, a training loop) overlap, so one
    builder's straggling tail back-fills the executors another left
    idle. Every thread inherits the caller's session tags and local
    properties, so the jobs a builder runs carry them too."""
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futs = [pool.submit(inherit(build)) for build in builders]
        return [f.result() for f in futs]


def release_caches(spark: SparkSession) -> None:
    """Free executor storage pinned by registry queries: every tracked
    anchor, then the SQL cache (NOTE: clearCache is session-wide;
    application DataFrame caches are dropped too, but their lineage is
    intact so they recompute — only a perf cost). clearCache does NOT
    touch checkpoint blocks, which is why checkpoints are tracked by
    handle. Only call after the query's result DataFrame is fully
    materialized."""
    while _PERSISTED:
        _unpin(_PERSISTED.pop())
    spark.catalog.clearCache()


def q(sql: Optional[str]):
    def deco(fn):
        REGISTRY[fn.__name__] = QueryDef(spark=fn, sql=sql)
        return fn

    return deco


#: Quadratic all-pairs correctness baselines (VERDICT r03 wrong #1):
#: NOT part of the driver surface — queries()/oracle_sql() never
#: expose them, so no production caller can run a scale-killer plan —
#: but still oracle-parity-tested every round via
#: tests/test_oracle_parity.py, which parametrizes over BOTH
#: registries. Each has a scale sibling in REGISTRY
#: (q_dedup_jaccard → q_dedup_lsh_verified, q_dedup_ngram_jaccard →
#: q_minhash_lsh + q_dedup_lsh_verified, q_ann_cosine →
#: q_ann_bucketed, q_dedup_embedding → q_dedup_embedding_bucketed).
BASELINE_REGISTRY: dict[str, QueryDef] = {}


def q_baseline(sql: Optional[str]):
    def deco(fn):
        BASELINE_REGISTRY[fn.__name__] = QueryDef(spark=fn, sql=sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# O-1/O-6: scan + pushed filters / projection
# ---------------------------------------------------------------------------

@q(
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE n_chars > 300 AND lang = 'en'
    """,
)
def q_scan_documents(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.col("n_chars") > 300) & (F.col("lang") == "en"))
        .select("doc_id", "lang", "n_chars")
    )


@q(
    """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang IN ('en','de','fr') GROUP BY lang
    """,
)
def q_filter_lang(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de", "fr"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# ---------------------------------------------------------------------------
# O-5: column derivations (host parse on synthesized urls)
# ---------------------------------------------------------------------------

_URL_EXPR_SQL = "'https://host' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com/orders/' || CAST(o_orderkey AS VARCHAR)"


def _order_urls(spark, sf_dir):
    """(url) of every order, the url _URL_EXPR_SQL synthesizes."""
    return _t(spark, sf_dir, "orders").select(
        F.concat(
            F.lit("https://host"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit(".example.com/orders/"),
            F.col("o_orderkey").cast("string"),
        ).alias("url")
    )


@q(
    f"""
    WITH urls AS (SELECT {_URL_EXPR_SQL} AS url FROM orders)
    SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           COUNT(*) AS n
    FROM urls GROUP BY host
    """,
)
def q_project_host(spark, sf_dir):
    urls = _order_urls(spark, sf_dir)
    return urls.select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    ).groupBy("host").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# O-7: dedup via window (latest event per user)
# ---------------------------------------------------------------------------

@q(
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q_dedup_url(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# ---------------------------------------------------------------------------
# O-12: shuffle equi-joins; O-9: broadcast join
# ---------------------------------------------------------------------------

@q(
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_orders_lineitem(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@q(
    """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# O-13: range/theta join (events into nation-derived time windows)
# ---------------------------------------------------------------------------

@q(
    """
    WITH win AS (
      SELECT n_nationkey AS win_id,
             TIMESTAMP '2024-01-01' + INTERVAL (n_nationkey) DAY AS lo,
             TIMESTAMP '2024-01-01' + INTERVAL (n_nationkey + 1) DAY AS hi
      FROM nation)
    SELECT win_id, COUNT(*) AS n_events
    FROM events JOIN win ON ts >= lo AND ts < hi
    GROUP BY win_id
    """,
)
def q_join_range(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    win = nation.select(
        F.col("n_nationkey").alias("win_id"),
        F.expr(
            "timestamp'2024-01-01' + make_interval(0,0,0,n_nationkey)"
        ).alias("lo"),
        F.expr(
            "timestamp'2024-01-01' + make_interval(0,0,0,n_nationkey+1)"
        ).alias("hi"),
    )
    events = _t(spark, sf_dir, "events")
    return (
        events.join(
            F.broadcast(win),
            (events.ts >= win.lo) & (events.ts < win.hi),
        )
        .groupBy("win_id")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# O-14/O-15: hash aggregation, exact distinct
# ---------------------------------------------------------------------------

@q(
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_agg_events(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


@q(
    """
    SELECT COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(*) AS n_events
    FROM events
    """,
)
def q_count_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# O-16: rollup / grouping sets
# ---------------------------------------------------------------------------

@q(
    """
    SELECT COALESCE(lang, '(all)') AS lang_g,
           COALESCE(source, '(all)') AS source_g,
           COUNT(*) AS n
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def q_rollup_status(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang_g"),
            F.coalesce("source", F.lit("(all)")).alias("source_g"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# O-17: window ranking + running frames
# ---------------------------------------------------------------------------

@q(
    """
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) WHERE rn <= 3
    """,
)
def q_window_topk(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars")
    )


@q(
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_value
    FROM events WHERE user_id < 10
    """,
)
def q_window_running(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
    )


# ---------------------------------------------------------------------------
# O-18: top-k sort
# ---------------------------------------------------------------------------

@q(
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


# ---------------------------------------------------------------------------
# O-19: set operations
# ---------------------------------------------------------------------------

@q(
    """
    SELECT doc_id, lang FROM documents WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, lang FROM documents WHERE n_chars > 400
    """,
)
def q_union_runs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    b = docs.filter(F.col("n_chars") > 400).select("doc_id", "lang")
    return a.unionByName(b)


@q(
    """
    SELECT doc_id FROM documents
    EXCEPT ALL
    SELECT doc_id FROM documents WHERE lang = 'en'
    """,
)
def q_except_delta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id").exceptAll(
        docs.filter(F.col("lang") == "en").select("doc_id")
    )


@q(
    """
    SELECT doc_id FROM documents WHERE n_chars > 200
    INTERSECT
    SELECT doc_id FROM documents WHERE lang IN ('en','de')
    """,
)
def q_intersect(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("n_chars") > 200)
        .select("doc_id")
        .intersect(docs.filter(F.col("lang").isin("en", "de")).select("doc_id"))
    )


# ---------------------------------------------------------------------------
# O-23: explode (UDTF-like)
# ---------------------------------------------------------------------------

@q(
    """
    SELECT term, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE length(term) >= 4
    GROUP BY term HAVING COUNT(*) >= 50
    """,
)
def q_explode_terms(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") >= 4)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
    )


# ---------------------------------------------------------------------------
# O-25/O-27: date + json scalar functions
# ---------------------------------------------------------------------------

@q(
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY day
    """,
)
def q_date_trunc(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@q(
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_props(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.get_json_object("props", "$.k").cast("bigint")
            ).alias("k_sum"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# O-10/O-11: anti/semi joins (resume pattern on harness tables)
# ---------------------------------------------------------------------------

def _resume_join(spark, sf_dir, how):
    """Events keyed by bucket = user_id % 25, joined (``how``) to the
    broadcast done buckets: the nation keys of region 0."""
    events = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 25)
    )
    done = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("bucket"))
    )
    return events.join(F.broadcast(done), on="bucket", how=how)


@q(
    """
    SELECT user_id, COUNT(*) AS n_pending
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM nation WHERE n_nationkey = e.user_id % 25
        AND n_regionkey = 0)
    GROUP BY user_id
    """,
)
def q_resume_anti(spark, sf_dir):
    return (
        _resume_join(spark, sf_dir, "left_anti")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pending"))
    )


@q(
    """
    SELECT user_id, COUNT(*) AS n_done
    FROM events e
    WHERE EXISTS (
      SELECT 1 FROM nation WHERE n_nationkey = e.user_id % 25
        AND n_regionkey = 0)
    GROUP BY user_id
    """,
)
def q_resume_semi(spark, sf_dir):
    return (
        _resume_join(spark, sf_dir, "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_done"))
    )


@q(
    """
    WITH probes AS (
      SELECT o_orderkey,
             o_custkey % 25 AS k,
             TIMESTAMP '2024-01-01'
               + INTERVAL (o_orderkey % 29) DAY
               + INTERVAL (o_custkey % 24) HOUR AS t
      FROM orders WHERE o_orderkey % 7 = 0),
    tagged AS (
      SELECT k, t, 1 AS tag, o_orderkey,
             CAST(NULL AS BIGINT) AS event_id,
             CAST(NULL AS DOUBLE) AS value
      FROM probes
      UNION ALL
      SELECT user_id % 25 AS k, ts AS t, 0 AS tag,
             CAST(NULL AS BIGINT) AS o_orderkey, event_id, value
      FROM events),
    carried AS (
      SELECT k, tag, o_orderkey,
             last_value(event_id IGNORE NULLS) OVER w AS asof_event,
             last_value(value IGNORE NULLS) OVER w AS asof_value
      FROM tagged
      WINDOW w AS (PARTITION BY k ORDER BY t, tag, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT o_orderkey, k, asof_event,
           ROUND(asof_value, 4) AS asof_value
    FROM carried WHERE tag = 1
    """,
)
def q_join_asof(spark, sf_dir):
    """AS-OF join — the operator Spark famously lacks natively: for
    each probe (order, synthesized timestamp) find the LATEST event of
    the same key at-or-before it. Implemented the scale-correct way —
    UNION both sides, one window partitioned by key ordered by
    (time, side-tag, event_id) carrying the last non-null event forward
    — so the plan is ONE shuffle keyed by the join key and a sort,
    instead of the naive inequality join (which Spark executes as a
    quadratic-per-key range join). Events sort before probes at equal
    timestamps (tag 0 < 1), so ts == t matches; ties among
    equal-timestamp events resolve to the largest event_id on both
    engines."""
    probes = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 25).alias("k"),
            F.expr(
                "timestamp'2024-01-01'"
                " + make_interval(0, 0, 0, o_orderkey % 29)"
                " + make_interval(0, 0, 0, 0, o_custkey % 24)"
            ).alias("t"),
        )
        .select(
            "k",
            "t",
            F.lit(1).alias("tag"),
            "o_orderkey",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    events = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.asc("t"), F.asc("tag"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = probes.unionByName(events).select(
        "k",
        "tag",
        "o_orderkey",
        F.last("event_id", ignorenulls=True).over(w).alias("asof_event"),
        F.last("value", ignorenulls=True).over(w).alias("asof_value"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "o_orderkey", "k", "asof_event", F.round("asof_value", 4).alias("asof_value")
    )


# ---------------------------------------------------------------------------
# O-21: scalar pandas UDF parity (host parse via Arrow batches)
# ---------------------------------------------------------------------------

@q(
    f"""
    WITH urls AS (SELECT {_URL_EXPR_SQL} AS url FROM orders)
    SELECT regexp_extract(url, '^https?://([^/:]+)', 1) AS host,
           COUNT(*) AS n
    FROM urls GROUP BY host
    """,
)
def q_udf_host(spark, sf_dir):
    from readembedability_spark.functions.pandas_udfs import host_of

    urls = _order_urls(spark, sf_dir)
    return urls.select(host_of("url").alias("host")).groupBy("host").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# TPC-H-Q1-style wide aggregation (pricing summary over lineitem)
# ---------------------------------------------------------------------------

@q(
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# O-16 cube; O-17 lag/lead analytic
# ---------------------------------------------------------------------------

@q(
    """
    SELECT COALESCE(event_type, '(all)') AS type_g,
           COALESCE(CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR),
                    '(all)') AS day_g,
           COUNT(*) AS n
    FROM events
    WHERE ts < TIMESTAMP '2024-01-04'
    GROUP BY CUBE (event_type, CAST(date_trunc('day', ts) AS DATE))
    """,
)
def q_cube_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04").cast("timestamp")
    )
    return (
        ev.cube(
            F.col("event_type"), F.to_date("ts").alias("day")
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("type_g"),
            F.coalesce(F.col("day").cast("string"), F.lit("(all)")).alias("day_g"),
            "n",
        )
    )


@q(
    """
    SELECT event_id, user_id,
           ROUND(value - LAG(value, 1, 0.0) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
    FROM events WHERE user_id < 5
    """,
)
def q_window_lag(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select(
            "event_id",
            "user_id",
            F.round(
                F.col("value") - F.lag("value", 1, 0.0).over(w), 4
            ).alias("delta"),
        )
    )


# ---------------------------------------------------------------------------
# O-22 grouped-map UDAF (applyInPandas); O-15 approx distinct (rows-only)
# ---------------------------------------------------------------------------

@q(
    """
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
           ROUND(MAX(value) - MIN(value), 4) AS value_range
    FROM events GROUP BY event_type
    """,
)
def q_grouped_pandas_stats(spark, sf_dir):
    """Grouped-map UDAF via applyInPandas (O-22): per-group stats
    computed in pandas, oracle-checked against plain SQL aggregates."""
    import pandas as pd

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "total": [round(float(v.sum()), 2)],
                "value_range": [round(float(v.max() - v.min()), 4)],
            }
        )

    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .applyInPandas(
            stats, schema="event_type string, n long, total double, value_range double"
        )
    )


@q(
    """
    SELECT CAST(abs(approx_count_distinct(user_id)
                    - count(DISTINCT user_id)) * 20
                <= count(DISTINCT user_id) AS BOOLEAN) AS users_within_tol,
           CAST(abs(approx_count_distinct(event_id)
                    - count(DISTINCT event_id)) * 20
                <= count(DISTINCT event_id) AS BOOLEAN) AS events_within_tol
    FROM events
    """,
)
def q_approx_distinct(spark, sf_dir):
    """HLL++ approximate distinct (O-15). The raw estimates are
    algorithm-specific per engine, so the cross-engine contract is a
    tolerance bound both engines can compute: |approx - exact| <= 5% * exact.
    Both sides emit the boolean, which hashes identically when each engine's
    sketch is within its advertised error."""
    return _t(spark, sf_dir, "events").agg(
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.02)
                - F.count_distinct("user_id")
            )
            * 20
            <= F.count_distinct("user_id")
        ).alias("users_within_tol"),
        (
            F.abs(
                F.approx_count_distinct("event_id", 0.02)
                - F.count_distinct("event_id")
            )
            * 20
            <= F.count_distinct("event_id")
        ).alias("events_within_tol"),
    )


@q(
    """
    SELECT event_type,
           CAST(abs(quantile_disc(value, 0.5) - quantile_cont(value, 0.5))
                <= 0.05 * abs(quantile_cont(value, 0.5)) + 0.05
                AS BOOLEAN) AS p50_within_tol,
           CAST(abs(quantile_disc(value, 0.9) - quantile_cont(value, 0.9))
                <= 0.05 * abs(quantile_cont(value, 0.9)) + 0.05
                AS BOOLEAN) AS p90_within_tol
    FROM events GROUP BY event_type
    """,
)
def q_approx_quantiles(spark, sf_dir):
    """Approximate quantiles (Greenwald-Khanna sketch, O-15 family):
    like q_approx_distinct, the raw estimates are algorithm-specific
    per engine, so the cross-engine contract is a tolerance boolean
    both engines compute — approx-p50/p90 within 5% (+0.05 absolute
    floor) of the exact interpolated quantile. Spark side: the
    mergeable approx_percentile sketch (the distributed shape — GK
    summaries merge map-side); oracle side: DuckDB's discrete quantile
    plays the 'approximation' against its exact continuous one."""
    ev = _t(spark, sf_dir, "events")
    ap = lambda p: F.expr(f"approx_percentile(value, {p}, 1000)")  # noqa: E731
    ex = lambda p: F.expr(f"percentile(value, {p})")  # noqa: E731
    tol = lambda p: (  # noqa: E731
        F.abs(ap(p) - ex(p)) <= 0.05 * F.abs(ex(p)) + 0.05
    )
    return ev.groupBy("event_type").agg(
        tol(0.5).alias("p50_within_tol"),
        tol(0.9).alias("p90_within_tol"),
    )


# ---------------------------------------------------------------------------
# O-14 extended: exact interpolated percentiles / median
# ---------------------------------------------------------------------------

@q(
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.9), 4) AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# O-16 extended: pivot (wide aggregation)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    """
    SELECT user_id % 10 AS cohort,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY cohort
    """,
)
def q_pivot_events(spark, sf_dir):
    """Pivot on event_type (explicit value list so the plan is a single
    pass — no distinct-scan job — and the schema is stable)."""
    out = (
        _t(spark, sf_dir, "events")
        .withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot yields NULL for empty cells; oracle COUNT FILTER yields 0
    return out.select(
        "cohort",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# O-27 extended: array functions over embeddings
# ---------------------------------------------------------------------------

@q(
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val,
           ROUND(list_sum(CAST(embedding AS DOUBLE[])), 4) AS sum_val
    FROM embeddings WHERE vec_id < 50
    """,
)
def q_array_funcs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(arr, 1), 4).alias("first_val"),
        F.round(F.array_max(arr), 4).alias("max_val"),
        F.round(
            F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("sum_val"),
    )


# ---------------------------------------------------------------------------
# Embedding centroids per label (the reduce step of k-means / class
# prototypes for a training-data pipeline)
# ---------------------------------------------------------------------------

@q(
    """
    SELECT label, d, ROUND(AVG(x), 4) AS centroid_val
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings)
    WHERE d <= 8
    GROUP BY label, d
    """,
)
def q_embed_centroid(spark, sf_dir):
    """Per-label centroid (first 8 dims): posexplode → partial+final avg
    per (label, dim) — the distributed mean-vector reduce that underlies
    k-means/IVF training at scale."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"pos": "d0", "col": "x"})
    return (
        dims.withColumn("d", (F.col("d0") + 1).cast("long"))
        .filter(F.col("d") <= 8)
        .groupBy("label", "d")
        .agg(F.round(F.avg("x"), 4).alias("centroid_val"))
    )


# ---------------------------------------------------------------------------
# O-17 extended: gap-based sessionization (lag + cumulative window sum)
# ---------------------------------------------------------------------------

@q(
    """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag to mark session
    starts, running sum to number sessions, then per-session counts —
    one shuffle on user_id reused by both windows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                > 1800 * 1_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("ns"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = marked.select(
        "user_id",
        "event_id",
        F.sum("ns").over(w_run).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )


# ---------------------------------------------------------------------------
# O-4/O-30 + A-5..A-8 widened: oracle-checked extraction archetypes
# (pages built and extracted by harness.py)
# ---------------------------------------------------------------------------


def _pdf_lit(txt: str) -> str:
    """Escape PDF string-literal metacharacters for the synthesis UDFs
    (ADVICE r07): a raw ``\\``, ``(`` or ``)`` in documents.text would
    corrupt the literal and fail the whole Arrow batch instead of
    hash-failing one row. The extractor unescapes these
    (pdftext._unescape_literal), so escaping here is semantically
    transparent — extracted text and the oracle's replay of the raw
    text still agree byte-for-byte."""
    return txt.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


@q(
    """
    SELECT 'https://docs.example.com/a/' || CAST(doc_id AS VARCHAR) AS url,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text || chr(10) || chr(10) || trim(substr(text, 1, 120))
                || chr(10) || chr(10) || '- ' || trim(substr(text, 1, 60))
                || chr(10) || chr(10) || '- ' || trim(substr(text, 61, 60))
             AS content_text,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_archetypes(spark, sf_dir):
    """Second oracle-checked extraction archetype (VERDICT r01 #10):
    multi-paragraph + list content, whose frozen textify form
    (paragraphs joined by blank lines, '- '-prefixed list items — rules
    1/3 of extractor/textify.py) is still SQL-expressible. Exercises
    A-4..A-8 over block structure the single-paragraph flagship never
    reaches, hash-checked by the driver against pure SQL."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    p2 = F.trim(F.substring("text", 1, 120))
    li1 = F.trim(F.substring("text", 1, 60))
    li2 = F.trim(F.substring("text", 61, 60))
    html = html_page(
        content=[
            F.lit("<p>"),
            p2,
            F.lit("</p><ul><li>"),
            li1,
            F.lit("</li><li>"),
            li2,
            F.lit("</li></ul>"),
        ]
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/a/"), html)
    return salted_extract(pages).select("url", "title", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/b/' || CAST(doc_id AS VARCHAR) AS url,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text || chr(10) || chr(10) || trim(substr(text, 1, 80))
                || chr(10) || chr(10) || trim(substr(text, 1, 50))
                || chr(10) || trim(substr(text, 51, 50))
             AS content_text,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_blocks(spark, sf_dir):
    """Third oracle-checked extraction archetype: blockquote + <br>
    content, whose frozen textify form (blockquote = its own
    \\n\\n-joined block — rule 1; <br> = a hard \\n inside its
    paragraph — rule 2 of extractor/textify.py) is still
    SQL-expressible. Together with the flagship (single <p>) and
    q_extract_archetypes (multi-<p> + <ul>/<li>), the driver now
    hash-checks three distinct block-structure paths through A-4..A-8."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    quote = F.trim(F.substring("text", 1, 80))
    l1 = F.trim(F.substring("text", 1, 50))
    l2 = F.trim(F.substring("text", 51, 50))
    html = html_page(
        content=[
            F.lit("<blockquote>"),
            quote,
            F.lit("</blockquote><p>"),
            l1,
            F.lit("<br>"),
            l2,
            F.lit("</p>"),
        ]
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/b/"), html)
    return salted_extract(pages).select("url", "title", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/t/' || CAST(doc_id AS VARCHAR) AS url,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text || chr(10) || chr(10) || 'Section ' || CAST(doc_id AS VARCHAR)
                || chr(10) || chr(10) || trim(substr(text, 1, 40))
                || chr(10) || chr(10) || trim(substr(text, 41, 40))
             AS content_text,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_table(spark, sf_dir):
    """Fourth oracle-checked extraction archetype: heading + table
    content — h2 is its own block and every table cell flushes as its
    own block (td/tr/table all in dom.BLOCK_ELEMENTS; textify rule 1
    over two levels of nested blocks), still SQL-expressible. The four
    archetypes now hash-check single-<p>, multi-<p>+list, blockquote+br
    and heading+table block structures through A-4..A-8."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    c1 = F.trim(F.substring("text", 1, 40))
    c2 = F.trim(F.substring("text", 41, 40))
    html = html_page(
        content=[
            F.lit("<h2>Section "),
            F.col("doc_id").cast("string"),
            F.lit("</h2><table><tr><td>"),
            c1,
            F.lit("</td><td>"),
            c2,
            F.lit("</td></tr></table>"),
        ]
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/t/"), html)
    return salted_extract(pages).select("url", "title", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/m/2023/'
             || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
             || '/d' || CAST(doc_id AS VARCHAR) AS url,
           CASE WHEN doc_id % 3 = 0 THEN 'OG Doc ' || CAST(doc_id AS VARCHAR)
                WHEN doc_id % 3 = 1 THEN 'TW Doc ' || CAST(doc_id AS VARCHAR)
                ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title,
           CASE WHEN doc_id % 2 = 0
                THEN 'Jane Doe, John Smith, Alice Wu' END AS authors,
           CASE WHEN doc_id % 2 = 0
                THEN CAST('2024-03-'
                       || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       || ' 12:30:00' AS TIMESTAMP)
                ELSE CAST('2023-'
                       || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                       || '-01 00:00:00' AS TIMESTAMP) END AS published_at,
           CASE WHEN doc_id % 4 = 0
                THEN 'https://canonical.example.com/c/'
                       || CAST(doc_id AS VARCHAR)
                ELSE 'https://docs.example.com/m/2023/'
                       || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                       || '/d' || CAST(doc_id AS VARCHAR) END AS canonical_url,
           CASE WHEN doc_id % 5 = 0
                THEN 'https://img.example.com/i/'
                       || CAST(doc_id AS VARCHAR) || '.jpg' END AS image,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_meta(spark, sf_dir):
    """Fifth oracle-checked extraction archetype — the METADATA chain
    (A-9..A-14 + A-18 + the A-11 url-date fallback) driver-hash-checked
    through the REAL extractor, not just goldens: per doc_id rule the
    page carries an og:title (mod 3 = 0), a twitter:title (mod 3 = 1)
    or only the <title> tag; a messy meta author list ('jane doe, John
    Smith and ALICE WU' — exercises splitting on ','/' and ',
    title-casing of all-lower/all-upper, order-preserving dedup); an
    article:published_time with an id-derived day (mod 2 = 0) or NO
    date meta at all so extraction falls through to the /YYYY/MM/ url
    path (the confidence-precedence A-22 merge picks 0.9 meta over the
    0.5 url candidate only where the meta exists); a rel=canonical
    (mod 4 = 0) vs the input-url fallback; and an og:image (mod 5 =
    0). The oracle replays every rule in pure SQL, so a regression in
    any metadata extractor, the date parser's UTC normalization, or
    the author normalizer hash-fails the driver gate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    month = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    # the id segment is prefixed 'd' so the /YYYY/MM/ url-date rule
    # always resolves to day 1 — a bare 1-2 digit trailing id would
    # itself parse as the day (and 32-99 would invalidate the date)
    url = F.concat(
        F.lit("https://docs.example.com/m/2023/"), month, F.lit("/d"), did
    )
    og_title = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit('<meta property="og:title" content="OG Doc '),
            did,
            F.lit('">'),
        ),
    ).otherwise("")
    tw_title = F.when(
        F.col("doc_id") % 3 == 1,
        F.concat(
            F.lit('<meta name="twitter:title" content="TW Doc '),
            did,
            F.lit('">'),
        ),
    ).otherwise("")
    author_meta = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit(
            '<meta name="author" content="jane doe, John Smith and ALICE WU">'
        ),
    ).otherwise("")
    pub_meta = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<meta property="article:published_time" content="2024-03-'),
            day,
            F.lit('T12:30:00Z">'),
        ),
    ).otherwise("")
    canon = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://canonical.example.com/c/'),
            did,
            F.lit('">'),
        ),
    ).otherwise("")
    img = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit('<meta property="og:image" content="https://img.example.com/i/'),
            did,
            F.lit('.jpg">'),
        ),
    ).otherwise("")
    html = html_page(
        head=[og_title, tw_title, author_meta, pub_meta, canon, img]
    )
    pages = synthetic_pages(docs, url, html)
    return salted_extract(pages).select(
        "url",
        "title",
        F.array_join("authors", ", ").alias("authors"),
        "published_at",
        "canonical_url",
        "image",
        "status",
    )


@q(
    """
    SELECT 'https://docs.example.com/j/' || CAST(doc_id AS VARCHAR) AS url,
           'LD Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CASE WHEN doc_id % 2 = 0
                THEN 'Ld Author One, Ld Author Two' END AS authors,
           CAST('2022-05-'
                  || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                  || ' 06:00:00' AS TIMESTAMP) AS published_at,
           CASE WHEN doc_id % 3 = 0
                THEN 'https://img.example.com/ld/'
                       || CAST(doc_id AS VARCHAR) || '.png' END AS image,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_jsonld(spark, sf_dir):
    """Sixth oracle-checked extraction archetype — the JSON-LD chain
    (A-15) driver-hash-checked through the REAL extractor: every page
    carries a schema.org NewsArticle block whose headline must beat
    the <title> tag in the A-22 confidence merge (0.8 > 0.6), whose
    datePublished carries a +02:00 offset the date parser must
    UTC-normalize, and whose author (present for even ids) mixes an
    object form {"name": ...} with a bare all-lowercase string — so
    the oracle locks JSON-LD node-type matching, mixed author-shape
    flattening, the author normalizer's title-casing, timezone
    normalization, and the JSON-LD image-url object form (ids % 3 =
    0). A regression anywhere in the tolerant-JSON parse or the
    Article-type filter hash-fails the gate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    author = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit(',"author":[{"name":"Ld Author One"},"ld author two"]'),
    ).otherwise("")
    image = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(',"image":{"url":"https://img.example.com/ld/'),
            did,
            F.lit('.png"}'),
        ),
    ).otherwise("")
    html = html_page(
        head=[
            F.lit(
                '<script type="application/ld+json">'
                '{"@type":"NewsArticle","headline":"LD Doc '
            ),
            did,
            F.lit('","datePublished":"2022-05-'),
            day,
            F.lit('T08:00:00+02:00"'),
            author,
            image,
            F.lit("}</script>"),
        ]
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/j/"), html)
    return salted_extract(pages).select(
        "url",
        "title",
        F.array_join("authors", ", ").alias("authors"),
        "published_at",
        "image",
        "status",
    )


@q(
    """
    SELECT 'https://docs.example.com/e/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(doc_id % 4 < 3 AS BOOLEAN) AS embed,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_embed(spark, sf_dir):
    """Seventh oracle-checked extraction archetype — embed detection
    (A-16/A-17) through the REAL extractor: per doc_id rule the page
    carries an oEmbed DISCOVERY link (mod 4 = 0 — the no-network A-16a
    path), an og:type video marker (mod 4 = 1), a dominant player
    iframe (mod 4 = 2 — video-host src marker + >=400x240 declared
    size, collected from the RAW dom before cleanup strips iframes),
    or nothing (mod 4 = 3 → embed=false). The oracle states the
    boolean per rule, so a regression in discovery-link matching,
    og:type classification or the iframe heuristic hash-fails the
    driver gate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    discovery = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit(
                '<link rel="alternate" type="application/json+oembed"'
                ' href="https://docs.example.com/oembed?url='
            ),
            did,
            F.lit('">'),
        ),
    ).otherwise("")
    og_video = F.when(
        F.col("doc_id") % 4 == 1,
        F.lit('<meta property="og:type" content="video.other">'),
    ).otherwise("")
    iframe = F.when(
        F.col("doc_id") % 4 == 2,
        F.concat(
            F.lit('<iframe src="https://www.youtube.com/embed/v'),
            did,
            F.lit('" width="560" height="315"></iframe>'),
        ),
    ).otherwise("")
    html = html_page(head=[discovery, og_video], after=[iframe])
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/e/"), html)
    return salted_extract(pages).select("url", "embed", "status")


@q(
    """
    SELECT 'https://docs.example.com/f/' || CAST(doc_id AS VARCHAR) AS url,
           CASE
             WHEN doc_id % 4 = 0 THEN 'https://docs.example.com/feed.xml'
             WHEN doc_id % 4 = 1 THEN
               'https://Feeds.example.com/atom/' || CAST(doc_id AS VARCHAR)
                 || ',https://docs.example.com/rss/' || CAST(doc_id AS VARCHAR)
             WHEN doc_id % 4 = 2 THEN
               'https://docs.example.com/rss2/' || CAST(doc_id AS VARCHAR)
           END AS feeds,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_feeds(spark, sf_dir):
    """Feed-autodiscovery archetype (F-1..F-5) through the REAL
    extractor: per doc_id rule the head carries a root-relative RSS
    link (mod 4 = 0 — exercises F-3 resolution against the page url),
    an UPPERCASE-rel/parameterized-type Atom link followed by an RSS
    link (mod 4 = 1 — case folding, `; charset` parameter stripping
    and document-order preservation), an oEmbed DISCOVERY decoy plus
    the same fragment-carrying RSS link twice (mod 4 = 2 — the
    json+oembed alternate must NOT leak in, the fragment is stripped
    and the dup collapses to one entry), or no feed at all
    (mod 4 = 3 → feeds NULL). The oracle states the resolved feed list
    per rule, so a regression in type filtering, resolution,
    normalization or ordered dedup hash-fails the driver gate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    head_links = (
        F.when(
            m == 0,
            F.lit(
                '<link rel="alternate" type="application/rss+xml"'
                ' href="/feed.xml">'
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(
                    '<link rel="ALTERNATE"'
                    ' type="APPLICATION/ATOM+XML; charset=UTF-8"'
                    ' href="https://Feeds.example.com/atom/'
                ),
                did,
                F.lit(
                    '"><link rel="alternate" type="application/rss+xml"'
                    ' href="https://docs.example.com/rss/'
                ),
                did,
                F.lit('">'),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(
                    '<link rel="alternate" type="application/json+oembed"'
                    ' href="https://docs.example.com/oembed?u='
                ),
                did,
                F.lit(
                    '"><link rel="alternate" type="application/rss+xml"'
                    ' href="https://docs.example.com/rss2/'
                ),
                did,
                F.lit(
                    '#top"><link rel="alternate"'
                    ' type="application/rss+xml"'
                    ' href="https://docs.example.com/rss2/'
                ),
                did,
                F.lit('#top">'),
            ),
        )
        .otherwise("")
    )
    html = html_page(head=[head_links])
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/f/"), html)
    return salted_extract(pages).select(
        "url", F.array_join("feeds", ",").alias("feeds"), "status"
    )


@q(
    """
    SELECT 'https://docs.example.com/c/' || CAST(doc_id AS VARCHAR) AS url,
           'Dôc ' || CAST(doc_id AS VARCHAR) AS title,
           'Café naïve nº ' || CAST(doc_id AS VARCHAR) || '. ' || text
             AS content_text,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_charset(spark, sf_dir):
    """Charset-decode archetype — A-2 through the REAL extractor with
    TRUE non-UTF-8 binary payloads: per doc_id rule the page arrives
    as ISO-8859-1 bytes with a declaring <meta charset> (mod 4 = 0 —
    the meta-scan branch), as UTF-8 with a BOM AND a LYING
    iso-8859-1 meta declaration (mod 4 = 1 — BOM precedence must beat
    the meta scan or every accent double-decodes), as UTF-16LE with
    its BOM (mod 4 = 2 — the NUL-interleaved payload the raw marker
    sniff would misroute to non_html; the BOM must also be STRIPPED,
    not leaked as U+FEFF text), or as bare UTF-8 (mod 4 = 3 — the
    fallback). Title and body carry latin-1 accents (é ï ô º), so the
    oracle's plain-text expectation hash-fails any wrong codec,
    precedence order, or BOM leak on every affected row."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    meta = (
        F.when(m == 0, F.lit('<meta charset="iso-8859-1">'))
        .when(m == 1, F.lit('<meta charset="iso-8859-1">'))  # the lie
        .otherwise("")
    )
    page = F.concat(
        F.lit("<html><head><title>Dôc "),
        did,
        F.lit("</title>"),
        meta,
        F.lit('</head><body><div class="content"><p>'
              "Café naïve nº "),
        did,
        F.lit(". "),
        F.col("text"),
        F.lit("</p></div></body></html>"),
    )
    html = (
        F.when(m == 0, F.encode(page, "ISO-8859-1"))
        .when(
            m == 1,
            F.concat(F.unhex(F.lit("EFBBBF")), F.encode(page, "UTF-8")),
        )
        .when(
            m == 2,
            F.concat(F.unhex(F.lit("FFFE")), F.encode(page, "UTF-16LE")),
        )
        .otherwise(F.encode(page, "UTF-8"))
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/c/"), html)
    return salted_extract(pages).select("url", "title", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/k/' || CAST(doc_id AS VARCHAR) AS url,
           'alpha ' || CAST(doc_id AS VARCHAR) || ', beta two, gamma'
             AS keywords,
           'Deterministic description for document '
             || CAST(doc_id AS VARCHAR)
             || ' long enough to clear the forty character floor.'
             AS summary,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_keywords(spark, sf_dir):
    """Eighth oracle-checked extraction archetype — the A-19/A-20 meta
    branches through the REAL extractor: a messy meta keywords list
    ('Alpha N, beta two; GAMMA, alpha N' — exercises [,;] splitting,
    lowercasing, whitespace normalization and order-preserving dedup)
    and a meta description long enough to clear the 40-char floor
    (summary = description verbatim; shorter descriptions would fall
    through to the sentence splitter). The oracle states the cleaned
    keyword stream and the description per doc, so a regression in
    keyword cleaning or the summary precedence rule hash-fails the
    gate. (The text-mining branch has its own driver query,
    q_extract_keywords_text.)"""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    html = html_page(
        head=[
            F.lit('<meta name="keywords" content="Alpha '),
            did,
            F.lit(", beta  two; GAMMA, alpha "),
            did,
            F.lit('"><meta name="description" content='
                  '"Deterministic description for document '),
            did,
            F.lit(' long enough to clear the forty character floor.">'),
        ]
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/k/"), html)
    return salted_extract(pages).select(
        "url",
        F.array_join("keywords", ", ").alias("keywords"),
        "summary",
        "status",
    )


def _stopwords_sql() -> str:
    """The frozen A-19 stopword list as a SQL IN-list. Contraction
    entries ("don't", "it's", …) are dropped: a \\w+ token can never
    contain an apostrophe, so they are unmatchable on BOTH sides —
    excluding them keeps the literal list parse-safe without changing
    semantics."""
    from readembedability_spark.extractor.stopwords import STOPWORDS

    return ", ".join(f"'{w}'" for w in sorted(STOPWORDS) if "'" not in w)


@q(
    """
    WITH docs0 AS (
      SELECT doc_id, text FROM documents WHERE n_chars >= 200),
    toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(text, '[a-z0-9_]+')) AS tok,
             generate_subscripts(regexp_extract_all(text, '[a-z0-9_]+'), 1)
               - 1 AS i
      FROM docs0),
    kept AS (
      SELECT doc_id, tok, i FROM toks
      WHERE len(tok) BETWEEN 3 AND 50
        AND tok NOT IN ({STOP})
        AND NOT regexp_full_match(tok, '[0-9]+')),
    uni AS (
      SELECT doc_id, tok AS term, COUNT(*) AS n, MIN(i) AS fp
      FROM kept GROUP BY doc_id, tok),
    adj AS (
      SELECT doc_id, tok, i,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS ptok,
             lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
      FROM kept),
    big AS (
      SELECT doc_id, ptok || ' ' || tok AS term,
             COUNT(*) AS n, MIN(pi) AS fp
      FROM adj WHERE pi = i - 1
      GROUP BY doc_id, ptok || ' ' || tok),
    allterms AS (
      SELECT * FROM uni UNION ALL SELECT * FROM big),
    tot AS (SELECT doc_id, COUNT(*) AS nd FROM allterms GROUP BY doc_id),
    items AS (
      SELECT a.doc_id, a.term, a.n, a.fp
      FROM allterms a JOIN tot USING (doc_id)
      WHERE a.n >= 2 OR (tot.nd < 12 AND a.term NOT LIKE '% %')),
    ranked AS (
      SELECT doc_id, term,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY n DESC, fp, term) AS rk
      FROM items),
    kw AS (
      SELECT doc_id, string_agg(term, ', ' ORDER BY rk) AS keywords
      FROM ranked WHERE rk <= 10 GROUP BY doc_id)
    SELECT 'https://docs.example.com/w/' || CAST(d.doc_id AS VARCHAR)
             AS url,
           kw.keywords,
           'ok' AS status
    FROM docs0 d LEFT JOIN kw ON kw.doc_id = d.doc_id
    """.format(STOP=_stopwords_sql()),
)
def q_extract_keywords_text(spark, sf_dir):
    """Ninth oracle-checked extraction archetype — the A-19 TEXT-MINING
    branch through the REAL extractor: pages with NO meta keywords fall
    through to deterministic term extraction over content_text
    (lowercase \\w+ tokens, 3..50-char gate, the frozen vendored
    stopword list, unigram + ADJACENT-kept-token bigram counts, the
    n>=2-or-small-vocab inclusion rule, top-10 by (freq desc,
    first-position asc, term asc)). The corpus text is pure lowercase
    ASCII + spaces, so the full rule chain — including bigram
    adjacency in the raw token stream and the first-position
    tie-breaks — is replayed exactly in SQL (window lag for
    adjacency); the stopword list is interpolated from the SAME frozen
    module the extractor uses, so the two sides cannot drift. Docs
    whose every candidate is excluded get NULL keywords on both sides
    (left join vs the extractor's empty-list→unset A-22 rule)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    pages = synthetic_pages(
        docs, doc_url("https://docs.example.com/w/"), html_page()
    )
    return salted_extract(pages).select(
        "url",
        F.array_join("keywords", ", ").alias("keywords"),
        "status",
    )


@q(
    """
    SELECT 'https://docs.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
           'Doc ' || CAST(doc_id AS VARCHAR) || ': ' || text || '.'
             || CASE WHEN trim(substr(text, 1, 40)) <> ''
                     THEN chr(10) || trim(substr(text, 1, 40))
                     ELSE '' END
             AS content_text,
           'pdf' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_pdf(spark, sf_dir):
    """Tenth oracle-checked extraction archetype — the A-21 PDF text
    path through the REAL extractor at its declared scope: every page
    is a synthesized uncompressed PDF whose content stream carries two
    BT..ET text blocks planted in REVERSED stream order — the TJ-array
    line (`[(…) -250 (…)] TJ`, kerning numbers skipped, literals
    concatenate) comes FIRST in the stream but is positioned LOWER on
    the page (72 600 Td), while the three chained `(…) Tj` literal
    shows come second but sit HIGHER (72 700 Td). Layout ordering
    (VERDICT r06 #3: Td/TD line positions sorted columns-then-
    descending-y) must re-order them top-first; stream-order extraction
    would emit the lines reversed and hash-fail. The extractor must
    also sniff the %PDF- magic (A-1 kind dispatch) and quarantine the
    row with status='pdf'; the oracle replays the construction in SQL.
    Compressed filter chains get their own gate (q_extract_pdf_flate)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    s1 = F.substring("text", 1, 20)
    s2 = F.substring("text", 21, 20)
    pdf = F.encode(
        F.concat(
            F.lit(
                "%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n"
                "BT 72 600 Td [("
            ),
            s1,
            F.lit(") -250 ("),
            s2,
            F.lit(")] TJ ET\nBT 72 700 Td (Doc "),
            did,
            F.lit(": ) Tj ("),
            F.col("text"),
            F.lit(") Tj (.) Tj ET\nendstream\nendobj\n%%EOF"),
        ),
        "UTF-8",
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/p/"), pdf)
    return salted_extract(pages).select("url", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/pf/' || CAST(doc_id AS VARCHAR) AS url,
           'Flate Doc ' || CAST(doc_id AS VARCHAR) || ': ' || text || '.'
             || CASE WHEN trim(substr(text, 41, 40)) <> ''
                     THEN chr(10) || trim(substr(text, 41, 40))
                     ELSE '' END
             AS content_text,
           'pdf' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_pdf_flate(spark, sf_dir):
    """Eleventh oracle-checked extraction archetype — the COMPRESSED
    A-21 path end-to-end (VERDICT r06 #2: nearly every real-world PDF
    stream is FlateDecode, and that inflate path was unit-locked
    only): every page's content stream — the same two-BT layout as
    q_extract_pdf, positioned top line at 72 700 Td and the TJ-array
    line one leading below at 72 686 Td — is zlib-DEFLATED at
    synthesis time inside an Arrow-batched pandas UDF and wrapped in a
    ``/Filter /FlateDecode`` stream dict, so the REAL extractor must
    sniff %PDF-, find the stream, read the filter chain from the dict,
    inflate (capped — the zip-bomb guard), and only then parse BT/ET
    + Tj/TJ (extractor/pdftext.py _decode_stream → _inflate_capped).
    A pure-SQL oracle cannot deflate — it doesn't need to: the
    compressed bytes never reach the compare, only the round-tripped
    text does, and inflate(deflate(x)) ≡ x for ANY conforming zlib, so
    the oracle just replays the PRE-compression construction from
    documents.text. The synthesis UDF is test scaffolding (vectorized,
    Arrow-batched — never per-row Python); extraction itself stays the
    one mapInPandas stage."""
    import zlib

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)

    @F.pandas_udf("binary")
    def flate_pdf(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for did, txt in zip(doc_id, text):
            t = _pdf_lit(txt)
            content = (
                f"BT 72 700 Td (Flate Doc {did}: ) Tj ({t}) Tj (.) Tj "
                f"ET\nBT 72 686 Td [({_pdf_lit(txt[40:60])}) -250 "
                f"({_pdf_lit(txt[60:80])})] TJ ET"
            ).encode("latin-1", errors="replace")
            comp = zlib.compress(content)
            out.append(
                b"%PDF-1.4\n1 0 obj\n<< /Length "
                + str(len(comp)).encode()
                + b" /Filter /FlateDecode >>\nstream\n"
                + comp
                + b"\nendstream\nendobj\n%%EOF"
            )
        return pd.Series(out)

    pdf = flate_pdf(F.col("doc_id"), F.col("text"))
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/pf/"), pdf)
    return salted_extract(pages).select("url", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/pc/' || CAST(doc_id AS VARCHAR) AS url,
           trim('Chain Doc ' || CAST(doc_id AS VARCHAR) || ': '
                || substr(text, 81, 40)) AS content_text,
           'pdf' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_pdf_chain(spark, sf_dir):
    """Twelfth oracle-checked extraction archetype — a multi-filter
    PDF stream chain end-to-end: the content stream is deflated THEN
    ASCII85-armored at synthesis time and declared as
    ``/Filter [/ASCII85Decode /FlateDecode]`` (PDF application order:
    un-armor first, inflate second), so the REAL extractor must parse
    the filter ARRAY from the stream dict and apply both decoders in
    declaration order (extractor/pdftext.py _decode_stream — the
    chain loop, previously unit-locked only). Oracle trick as
    q_extract_pdf_flate: encoded bytes never reach the compare, the
    SQL replays the pre-encoding construction. The trim() is
    load-bearing in BOTH engines: the extractor python-strips each
    layout line."""
    import base64
    import zlib

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)

    @F.pandas_udf("binary")
    def chain_pdf(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for did, txt in zip(doc_id, text):
            content = (
                f"BT 72 700 Td (Chain Doc {did}: ) Tj "
                f"({_pdf_lit(txt[80:120])}) Tj ET"
            ).encode("latin-1", errors="replace")
            enc = base64.a85encode(zlib.compress(content), adobe=True)
            out.append(
                b"%PDF-1.4\n1 0 obj\n<< /Filter [/ASCII85Decode "
                b"/FlateDecode] >>\nstream\n"
                + enc
                + b"\nendstream\nendobj\n%%EOF"
            )
        return pd.Series(out)

    pdf = chain_pdf(F.col("doc_id"), F.col("text"))
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/pc/"), pdf)
    return salted_extract(pages).select("url", "content_text", "status")


@q(
    """
    SELECT 'https://docs.example.com/pt/' || CAST(doc_id AS VARCHAR) AS url,
           'Tm Doc ' || CAST(doc_id AS VARCHAR) || ': ' || text || '.'
             || CASE WHEN trim(substr(text, 1, 40)) <> ''
                     THEN chr(10) || trim(substr(text, 1, 40))
                     ELSE '' END
             || CASE WHEN trim(substr(text, 41, 40)) <> ''
                     THEN chr(10) || trim(substr(text, 41, 40))
                     ELSE '' END
             AS content_text,
           'pdf' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_pdf_tm(spark, sf_dir):
    """Thirteenth oracle-checked extraction archetype — Tm-positioned
    layout end-to-end (VERDICT r07 #4: generated reports commonly
    position every line exclusively via the ``Tm`` text matrix, which
    previously fell back to stream order): the synthesized content
    stream plants its BOTTOM block FIRST — ``2 0 0 2 72 600 Tm`` with
    non-identity scale components that must be parsed past and ignored
    (D-7: translation-only) — then the TOP block anchored by
    ``1 0 0 1 72 700 Tm`` whose second line advances with a RELATIVE
    ``0 -14 Td`` off the Tm anchor. Layout ordering must emit top
    (y=700), its continuation (686), then the bottom block (600);
    stream-order extraction, or an extractor that ignores Tm, would
    hash-fail every row. Pure-SQL synthesis (uncompressed stream, no
    UDF); the oracle replays the construction."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    s1 = F.substring("text", 1, 40)
    s2 = F.substring("text", 41, 40)
    pdf = F.encode(
        F.concat(
            F.lit(
                "%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n"
                "BT 2 0 0 2 72 600 Tm ("
            ),
            s2,
            F.lit(") Tj ET\nBT 1 0 0 1 72 700 Tm (Tm Doc "),
            did,
            F.lit(": ) Tj ("),
            F.col("text"),
            F.lit(") Tj (.) Tj 0 -14 Td ("),
            s1,
            F.lit(") Tj ET\nendstream\nendobj\n%%EOF"),
        ),
        "UTF-8",
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/pt/"), pdf)
    return salted_extract(pages).select("url", "content_text", "status")


#: An RE2 run of the characters Python's str.split() treats as
#: whitespace — the extractor collapses each run to one space.
_PY_WS_RUN = (
    r"[\t-\r\x1c-\x20\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)


@q(
    f"""
    SELECT CASE WHEN doc_id % 13 = 0 THEN 'empty'
                WHEN doc_id % 13 = 1 THEN 'non_html'
                WHEN doc_id % 13 = 2 THEN 'pdf'
                ELSE 'ok' END AS status,
           COUNT(*) AS n_pages,
           CAST(SUM(CASE WHEN doc_id % 13 > 2
                         THEN length(trim(regexp_replace(
                                text, '{_PY_WS_RUN}', ' ', 'g')))
                         ELSE 0 END)
                AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def q_metrics_rollup(spark, sf_dir):
    """Metrics rollup surfaced as an oracle-checked query (VERDICT r01
    #8 / SURVEY O-4/O-30): a mixed-status page corpus (empty, non-HTML,
    PDF, ok — all statuses deterministic from doc_id) runs through the
    REAL extract stage, then rolls up per-status page counts and
    extracted-char totals — the same aggregation shape the run-level
    metrics table records per partition."""
    docs = _t(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 13
    ok_html = html_page()
    html = (
        F.when(mod == 0, F.lit(None).cast("binary"))
        .when(mod == 1, F.encode(F.lit("GIF89a\x01\x00"), "UTF-8"))
        .when(mod == 2, F.encode(F.lit("%PDF-1.4\n%%EOF"), "UTF-8"))
        .otherwise(ok_html)
    )
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/m/"), html)
    extracted = salted_extract(pages)
    return extracted.groupBy("status").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.coalesce(F.length("content_text"), F.lit(0)))
        .cast("bigint")
        .alias("total_chars"),
    )


@q(
    """
    SELECT 'https://docs.example.com/cm/d' || CAST(doc_id AS VARCHAR)
             AS url,
           CASE doc_id % 3
             WHEN 0 THEN 'en-us'
             WHEN 1 THEN 'de'
             ELSE NULL END AS declared_lang,
           CASE doc_id % 5
             WHEN 0 THEN 'https://docs.example.com/next/d'
                         || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'https://hop.example.com/h'
                         || CAST(doc_id AS VARCHAR)
             ELSE NULL END AS refresh_url,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_clientmeta(spark, sf_dir):
    """Client-side metadata gate — the M-1/M-2 chain (declared
    language + meta-refresh redirect) driver-hash-checked through the
    REAL extractor: per doc_id rule the page carries a relative
    refresh ('0;url=/next/…' — must absolutize against the page url),
    a QUOTED uppercase-key refresh ("5; URL='https://hop…'" — the
    WHATWG parse accepts both separators, key case and quoting), a
    pure timed reload ('300' — NOT a redirect, must stay NULL), or no
    refresh at all; and an ``<html lang="EN-us">`` that must BEAT a
    contradicting Content-Language meta (precedence + lowercasing), a
    meta-only multi-value header ('de, en' — first entry wins), or
    neither. The oracle replays every rule in closed form, so a
    refresh parser that mis-splits the url clause, keeps timed
    reloads, skips absolutization, or a lang chain with inverted
    precedence hash-fails the gate.

    Plan/scale: identical cost class to every extraction archetype —
    synthesize html row-locally, one salted mapInPandas extract pass,
    project four columns. No join, no window."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    m3 = F.col("doc_id") % 3
    m5 = F.col("doc_id") % 5
    html_open = (
        F.when(m3 == 0, F.lit('<html lang="EN-us">'))
        .otherwise(F.lit("<html>"))
    )
    lang_meta = (
        F.when(
            m3 == 0,
            F.lit('<meta http-equiv="content-language" content="fr">'),
        )
        .when(
            m3 == 1,
            F.lit('<meta http-equiv="Content-Language" content="de, en">'),
        )
        .otherwise(F.lit(""))
    )
    refresh_meta = (
        F.when(
            m5 == 0,
            F.concat(
                F.lit('<meta http-equiv="refresh" content="0;url=/next/d'),
                did,
                F.lit('">'),
            ),
        )
        .when(
            m5 == 1,
            F.concat(
                F.lit(
                    '<meta http-equiv="Refresh"'
                    " content=\"5; URL='https://hop.example.com/h"
                ),
                did,
                F.lit("'\">"),
            ),
        )
        .when(
            m5 == 2,
            F.lit('<meta http-equiv="refresh" content="300">'),
        )
        .otherwise(F.lit(""))
    )
    html = html_page(head=[lang_meta, refresh_meta], html_tag=html_open)
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/cm/d"), html)
    return salted_extract(pages).select(
        "url", "declared_lang", "refresh_url", "status"
    )


@q(
    """
    SELECT 'https://docs.example.com/rm/d' || CAST(doc_id AS VARCHAR)
             AS url,
           doc_id % 4 IN (0, 2) AS robots_noindex,
           doc_id % 4 IN (1, 2) AS robots_nofollow,
           CASE WHEN doc_id % 6 = 0
                THEN 'https://docs.example.com/amp/d'
                     || CAST(doc_id AS VARCHAR) END AS amp_url,
           'ok' AS status
    FROM documents WHERE n_chars >= 200
    """,
)
def q_extract_robotsmeta(spark, sf_dir):
    """Page-level compliance gate — the M-3/M-4 chain (robots meta
    directives + rel=amphtml alternate) driver-hash-checked through
    the REAL extractor: per doc_id rule the page carries
    'noindex, follow' (index gate only), an UPPERCASE bare 'NOFOLLOW'
    (case-insensitivity + single directive), the 'none' shorthand
    (must set BOTH flags — the spec'd contraction a naive
    contains-check misses), or no robots meta at all (permissive
    default: both false, never NULL); every 6th page declares a
    RELATIVE amphtml alternate that must come back absolutized. The
    oracle replays the rules closed-form, so a directive parser that
    misses 'none', case-folds wrong, defaults to null, or an AMP link
    that skips resolution hash-fails.

    robots.txt gates FETCHING (q_frontier_robots / q_robots_crawl_debt);
    this meta gates INDEXING and ENDORSING — the page-level layer a
    compliant index purge (r9 consumer) keys on.

    Plan/scale: the extraction-archetype cost class — row-local
    synthesis, one salted mapInPandas pass, project five columns."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    did = F.col("doc_id").cast("string")
    m4 = F.col("doc_id") % 4
    robots_meta = (
        F.when(
            m4 == 0, F.lit('<meta name="robots" content="noindex, follow">')
        )
        .when(m4 == 1, F.lit('<meta name="robots" content="NOFOLLOW">'))
        .when(m4 == 2, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit(""))
    )
    amp_link = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(F.lit('<link rel="amphtml" href="/amp/d'), did, F.lit('">')),
    ).otherwise(F.lit(""))
    html = html_page(head=[robots_meta, amp_link])
    pages = synthetic_pages(docs, doc_url("https://docs.example.com/rm/d"), html)
    return salted_extract(pages).select(
        "url", "robots_noindex", "robots_nofollow", "amp_url", "status"
    )
