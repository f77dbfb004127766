"""Row-local text signals over a documents table, each rule written once.

The registry queries (``textops/``), the batch jobs (``jobs/``) and
the streaming ingest call these instead of restating them:

- ``doc_tokens``: the space tokenizer with empty tokens dropped;
- ``alpha_ratio`` and ``quality_blend``: the q_quality_score terms;
- ``seeded_hex6`` and ``seeded_uniform``: the seeded md5 membership
  hash of the sampling and split rules;
- ``feature_bucket``: the 256-way hashed token feature;
- ``gopher_labels``: per-doc token count and the Gopher pass label;
- ``synthetic_host``: the doc_id-derived host of the host-grain queries;
- ``head_split_join``: the Zipf-head skew split of a token-count join;
- ``word_ngrams``: the sliding word n-grams of a token array.

The DuckDB oracle texts keep their own SQL copy of each rule, one
fragment per rule in the textops family that uses it; the oracle
parity tests hold the two sides together.
Nothing here registers a query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readembedability_spark.queries import _persist

#: Size of the broadcast frequency-table head in ``head_split_join``.
#: Every Zipf-hot token/bigram lives in the head by construction, so
#: the tail shuffle join has a flat key distribution. At web scale
#: ~100k entries (a few MB broadcast) cover most of the token mass.
_PPLX_HEAD_K = 4096


def doc_tokens(docs: DataFrame, *keep) -> DataFrame:
    """(*keep, w): one row per space-separated token of ``text`` with
    empty tokens dropped (the oracles' ``unnest(string_split(text, ' '))
    … WHERE w <> ''``). ``keep`` are the columns carried per token."""
    return docs.select(
        *keep, F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")


def word_ngrams(arr, n: int, each=lambda gram: gram) -> Column:
    """The sliding word n-grams of the token array ``arr``, in order:
    tokens k..k+n-1 joined by one space, mapped through ``each`` (a
    per-gram hash keeps its one lambda). Defined for size(arr) >= n;
    the caller guards shorter arrays, for which the sequence runs
    backwards."""
    return F.transform(
        F.sequence(F.lit(1), F.size(arr) - (n - 1)),
        lambda k: each(F.concat_ws(" ", F.slice(arr, k, F.lit(n)))),
    )


def alpha_ratio() -> Column:
    """ASCII letters per character of ``text``; NULL for an empty text."""
    return F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.nullif(
        F.length("text").cast("double"), F.lit(0.0)
    )


def quality_blend(n_tokens: Column, alpha: Column) -> Column:
    """The [0, 1] quality score: half a token-count term saturating at
    100 tokens, half the alpha ratio. The caller chooses its token count
    and whether a NULL alpha counts as 0."""
    return F.least(F.lit(1.0), n_tokens / 100.0) * 0.5 + alpha * 0.5


def seeded_hex6(seed: str, key: Column) -> Column:
    """md5(seed ‖ key)[:6] as a long in [0, 16^6): a membership hash
    with no RNG state, identical across engines, runs and cluster sizes."""
    digest = F.md5(
        F.encode(F.concat(F.lit(seed), key.cast("string")), "UTF-8")
    )
    return F.conv(F.substring(digest, 1, 6), 16, 10).cast("long")


def seeded_uniform(seed: str, key: Column) -> Column:
    """``seeded_hex6`` scaled to a uniform draw in [0, 1)."""
    return seeded_hex6(seed, key) / F.lit(16777216.0)


def feature_bucket(w="w") -> Column:
    """A token's hashed feature: the first 2 hex chars of md5(w), 256
    buckets."""
    return F.substring(F.md5(F.encode(w, "UTF-8")), 1, 2)


def gopher_labels(toks: DataFrame) -> DataFrame:
    """(doc_id, n_tok, y) over (doc_id, w) tokens: the token count and
    the Gopher pass label, y = 1 iff the mean word length is in [3, 10]
    and the token count in [50, 100000]."""
    return (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.avg(F.length("w")).alias("mwl"))
        .select(
            "doc_id",
            "n_tok",
            (
                F.col("mwl").between(3, 10)
                & F.col("n_tok").between(50, 100000)
            )
            .cast("int")
            .alias("y"),
        )
    )


def synthetic_host() -> Column:
    """'host<doc_id % 50>.example.com': the host the registry's
    host-grain queries derive from doc_id (the test tables carry none)."""
    return F.concat(
        F.lit("host"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com"),
    )


def head_split_join(
    rows: DataFrame, counts: DataFrame, keys: list[str]
) -> DataFrame:
    """``rows`` ⋈ ``counts`` on ``keys``, split against Zipf skew
    (VERDICT r03 #7). The top-``_PPLX_HEAD_K`` rows of ``counts`` by
    ``c`` are broadcast to their hits, and only the tail keys go through
    the shuffle join, whose key distribution is then flat. Values are
    the same whichever side a key lands on, so the split is a pure plan
    change. The head is persisted: it feeds three joins."""
    order = [F.desc("c")] + [F.asc(k) for k in keys]
    head = _persist(counts.orderBy(*order).limit(_PPLX_HEAD_K))
    tail = counts.join(F.broadcast(head.select(*keys)), keys, "left_anti")
    hit = rows.join(F.broadcast(head), keys)
    miss = rows.join(
        F.broadcast(head.select(*keys)), keys, "left_anti"
    ).join(tail, keys)
    return hit.unionByName(miss)
