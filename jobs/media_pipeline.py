"""spark-submit entry point for the multimodal media pipeline:
an asset table (doc_id, payload, modality) → ONE persisted scan →
three modality branches (image thumbnail-fit, video frame sampling,
audio chunking), each calling the registry's core for its modality
(readembedability_spark.textops.image_thumbs_from / video_frames_from
/ audio_chunks_from, which q_image_resize, q_video_frame_sample and
q_audio_chunks return) → per-modality parquet artifacts → a manifest
rolled up from the WRITTEN files (not the lineage) + one JSON stats
line.

This composes the multimodal plumbing family (q_image_resize,
q_video_frame_sample, q_audio_chunks, q_multimodal_meta) into the job
a multimodal-training team actually runs: decode-shaped work happens
once per asset in its own modality branch (an image decoder never
reads audio rows), features land in modality-grained tables, and the
manifest is the ingest contract downstream embedding/packing jobs
consume.

Scale shape (100 TB of media): the asset scan is persisted once and
each branch filters its modality BEFORE the Python stage, so every
byte crosses the Arrow boundary at most once; the fan-out (frames,
chunks) happens inside the batches (no explode shuffle); digests are
derived JVM-side after the UDF; the three writes inherit scan
partitioning (no shuffle at all in the whole job — repartition only
if downstream wants a different file grain). The manifest re-reads
the written parquet, so its numbers certify the artifacts.

The decode steps are the stubbed deterministic fakes (real
image/audio/video libs are absent in this environment — SURVEY.md §0,
deviation D-10); a deployment swaps each stub for the codec call at
the same batch position.

Local smoke (synthesizes a deterministic asset table):
    python jobs/media_pipeline.py --assets 300 \\
        --output /tmp/media --master 'local[8]'

Cluster (real asset table):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/media_pipeline.py --input s3://…/assets.parquet --output .../media
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


_MODALITIES = ("image", "video", "audio")


def synth_assets(spark, n: int):
    """Deterministic synthetic asset table (doc_id, payload, modality):
    payload bytes derive from repeated md5 hex of the id with a
    modular length rule (16..266 bytes) so every stub decode sees
    varied dimensions/frame counts/sample counts; modality round-
    robins over image/video/audio. No RNG (resume-safe)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.encode(
            F.substring(
                F.repeat(F.md5(F.col("id").cast("string").cast("binary")), 9),
                1,
                (F.col("id") % 251 + 16).cast("int"),
            ),
            "UTF-8",
        ).alias("payload"),
        F.element_at(
            F.array(*[F.lit(m) for m in _MODALITIES]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )


def run_pipeline(spark, assets, out: Path) -> None:
    """assets → written images/frames/audio_chunks artifacts. Each
    branch filters its modality before the Python stage and calls the
    registry's core for it (textops.image_thumbs_from /
    video_frames_from / audio_chunks_from). Writes only — the caller
    assembles stats from the written files."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops import (
        audio_chunks_from,
        image_thumbs_from,
        video_frames_from,
    )

    src = _persist(assets.select("doc_id", "payload", "modality"))
    for table, modality, core in (
        ("images", "image", image_thumbs_from),
        ("frames", "video", video_frames_from),
        ("audio_chunks", "audio", audio_chunks_from),
    ):
        core(src.filter(F.col("modality") == modality)).write.mode(
            "overwrite"
        ).parquet(str(out / table))


def build_manifest(spark, out: Path):
    """Per-modality manifest rolled up from the WRITTEN artifacts —
    asset counts, emitted unit counts (thumbs / frames / chunks) and a
    modality-native mass column (thumb pixels / sampled frames' span /
    chunked samples) — the ingest contract downstream jobs read."""
    def _roll(table: str, modality: str, mass):
        return (
            spark.read.parquet(str(out / table))
            .agg(
                F.countDistinct("doc_id").cast("long").alias("n_assets"),
                F.count("*").cast("long").alias("n_units"),
                F.sum(mass).cast("long").alias("mass"),
            )
            .select(F.lit(modality).alias("modality"), "*")
        )

    img = _roll("images", "image", F.col("thumb_w") * F.col("thumb_h"))
    # video mass = SOURCE frames per asset counted once (n_frames
    # repeats on every emitted row, so a flat sum would be
    # sampling-weighted, not source coverage)
    vid = (
        spark.read.parquet(str(out / "frames"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("units"),
            F.max("n_frames").cast("long").alias("nf"),
        )
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("units").cast("long").alias("n_units"),
            F.sum("nf").cast("long").alias("mass"),
        )
        .select(F.lit("video").alias("modality"), "*")
    )
    aud = _roll("audio_chunks", "audio", F.col("chunk_n"))
    return img.unionByName(vid).unionByName(aud)


def run(spark, args) -> dict:
    out = Path(args.output)
    assets = (
        spark.read.parquet(args.input)
        if args.input
        else synth_assets(spark, args.assets)
    )
    stats: dict = {"assets": assets.count()}

    run_pipeline(spark, assets, out)
    manifest = build_manifest(spark, out)
    manifest.write.mode("overwrite").parquet(str(out / "manifest"))
    for r in spark.read.parquet(str(out / "manifest")).collect():
        stats[r["modality"]] = {
            "n_assets": r["n_assets"],
            "n_units": r["n_units"],
            "mass": r["mass"],
        }
    return stats


def main() -> None:
    ap = job_parser(
        "--assets",
        input_help="asset parquet (doc_id, payload, modality)",
        synth_help="synthesize N assets (smoke/test path)",
    )
    run_job("media-pipeline", ap, run)


if __name__ == "__main__":
    main()
