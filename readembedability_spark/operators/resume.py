"""O-10/O-29/O-31: checkpoint-based resume (BASELINE.json:6
"checkpoint-based resume so partial runs continue without recompute").

Not Spark RDD checkpointing — a pure relational design (SURVEY.md §4):

- unit of resume is a url-hash bucket: ``url_bucket =
  pmod(xxhash64(url), N_BUCKETS)`` (O-31);
- a tiny append-only parquet table records buckets completed per run;
- on (re)start, ``pending = pages LEFT ANTI JOIN done ON url_bucket``
  (O-10) — the completed-bucket set is small (≤ N_BUCKETS rows per run)
  so Catalyst broadcasts it; zero recompute of finished buckets;
- after a bucket's output commits, mark it complete (O-29). Idempotent:
  duplicate marks collapse via distinct on read.

Scale note: the anti-join is a BroadcastHashJoin against ≤ a few KB —
no shuffle added to the main path at any input size.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readembedability_spark.functions import bucket_col
from readembedability_spark.schemas import CHECKPOINT_SCHEMA, local_table


def with_bucket(pages: DataFrame) -> DataFrame:
    return pages.withColumn("url_bucket", bucket_col())


def load_done_buckets(
    spark: SparkSession, checkpoint_dir: str, run_id: str
) -> DataFrame:
    """Completed buckets for run_id (an empty local table if no
    checkpoint yet, which Catalyst folds away with the anti-join)."""
    path = Path(checkpoint_dir)
    has_files = path.exists() and (
        any(path.glob("*.parquet")) or any(path.glob("*/*.parquet"))
    )
    if not has_files:
        return local_table(spark, [], CHECKPOINT_SCHEMA)
    df = spark.read.schema(CHECKPOINT_SCHEMA).parquet(str(path))
    return df.filter(F.col("run_id") == run_id)


def resume_filter(pages: DataFrame, done: DataFrame) -> DataFrame:
    """Drop rows in completed buckets (broadcast anti-join, O-10)."""
    done_buckets = F.broadcast(done.select("url_bucket").distinct())
    return pages.join(done_buckets, on="url_bucket", how="left_anti")


def mark_bucket_list_done(
    spark: SparkSession, buckets: list, checkpoint_dir: str, run_id: str
) -> None:
    """Append an explicit completed-bucket list (≤ N_BUCKETS rows) —
    the O(1)-sized checkpoint write used by incremental runs."""
    if not buckets:
        return
    rows = [(run_id, int(b), "done", 0) for b in sorted(set(buckets))]
    marks = local_table(spark, rows, CHECKPOINT_SCHEMA)
    marks.write.mode("append").parquet(checkpoint_dir)
