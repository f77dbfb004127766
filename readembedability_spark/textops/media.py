"""Multimodal plumbing: binary page payloads, Arrow batch metadata,
the oEmbed provider join, image resize, video frame sampling and
audio chunking (mapInPandas cores shared with the media job), and
MIME sniffing by magic bytes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from readembedability_spark.queries import (
    _t,
    q,
)
from readembedability_spark.schemas import local_table


def _doc_payloads(spark, sf_dir):
    """(doc_id, payload): each document's UTF-8 text as an opaque
    binary media blob, the input of the multimodal plumbing queries."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )


@q(
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           octet_length(encode(text)) % 640 + 1 AS width,
           (octet_length(encode(text)) * 7) % 480 + 1 AS height,
           3 AS channels
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: treat a binary payload column as an opaque
    media blob and extract typed metadata via mapInPandas over Arrow
    batches. The decode itself is a deterministic fake (real image/audio
    libs absent in this sandbox — SURVEY.md §0); schema, partitioning,
    UDF signature and batch shape are real and oracle-checked."""
    import pandas as pd

    def meta_batches(batches):
        for pdf in batches:
            n_bytes = pdf["payload"].map(
                lambda b: len(b) if b is not None else 0
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": (n_bytes % 640 + 1).astype("int64"),
                    "height": (n_bytes * 7 % 480 + 1).astype("int64"),
                    "channels": 3,
                }
            )

    return _doc_payloads(spark, sf_dir).mapInPandas(
        meta_batches,
        schema="doc_id long, n_bytes long, width long, height long, channels int",
    )

def _providers_values_sql() -> str:
    from readembedability_spark.extractor.oembed import OEMBED_PROVIDERS

    return ", ".join(
        f"('{host}', '{name}')" for host, name, _ in OEMBED_PROVIDERS
    )


@q(
    f"""
    WITH urls AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN 'youtube.com'
                  WHEN event_id % 7 = 1 THEN 'vimeo.com'
                  WHEN event_id % 7 = 2 THEN 'host' || CAST(event_id % 50 AS VARCHAR) || '.example.com'
                  WHEN event_id % 7 = 3 THEN 'soundcloud.com'
                  ELSE 'site' || CAST(event_id % 25 AS VARCHAR) || '.example.org'
             END AS host
      FROM events),
    providers(host, provider) AS (VALUES {{PROVIDERS}})
    SELECT COALESCE(p.provider, '(none)') AS provider, COUNT(*) AS n
    FROM urls u LEFT JOIN providers p ON u.host = p.host
    GROUP BY provider
    """.replace("{PROVIDERS}", _providers_values_sql()),
)
def q_join_oembed_providers(spark, sf_dir):
    """O-9: big fact (synthesized hosts) LEFT-broadcast-joined to the
    static oEmbed providers registry (extractor/oembed.py) — the exact
    shape of the pipeline's provider lookup at 10^12 rows."""
    from readembedability_spark.extractor.oembed import OEMBED_PROVIDERS

    providers = local_table(
        spark,
        [(h, n) for h, n, _ in OEMBED_PROVIDERS], "host string, provider string"
    )
    ev = _t(spark, sf_dir, "events")
    host = (
        F.when(F.col("event_id") % 7 == 0, F.lit("youtube.com"))
        .when(F.col("event_id") % 7 == 1, F.lit("vimeo.com"))
        .when(
            F.col("event_id") % 7 == 2,
            F.concat(
                F.lit("host"),
                (F.col("event_id") % 50).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .when(F.col("event_id") % 7 == 3, F.lit("soundcloud.com"))
        .otherwise(
            F.concat(
                F.lit("site"),
                (F.col("event_id") % 25).cast("string"),
                F.lit(".example.org"),
            )
        )
    )
    urls = ev.select("event_id", host.alias("host"))
    return (
        urls.join(F.broadcast(providers), "host", "left")
        .groupBy(F.coalesce("provider", F.lit("(none)")).alias("provider"))
        .agg(F.count("*").alias("n"))
    )


def _image_resize_batches(batches):
    """Stub decode + aspect-preserving 64-box thumbnail fit — the batch
    body of `image_thumbs_from`."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        n = (pdf["payload"].str.len().fillna(0).astype("int64")).to_numpy()
        w = (n % 640 + 1).astype("int64")
        h = (n * 7 % 480 + 1).astype("int64")
        tw = np.where(w >= h, 64, np.maximum(1, w * 64 // h))
        th = np.where(w >= h, np.maximum(1, h * 64 // w), 64)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w,
                "height": h,
                "thumb_w": tw.astype("int64"),
                "thumb_h": th.astype("int64"),
            }
        )


def _video_frame_batches(batches):
    """Stub decode + stride frame sampling with in-batch fan-out — the
    batch body of `video_frames_from`."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        n = (pdf["payload"].str.len().fillna(0).astype("int64")).to_numpy()
        nf = (n % 240 + 1).astype("int64")
        stride = (nf + 7) // 8
        reps = (nf - 1) // stride + 1
        if len(pdf):
            idx = np.concatenate(
                [np.arange(0, f, s) for f, s in zip(nf, stride)]
            ).astype("int64")
        else:
            idx = np.array([], dtype="int64")
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), reps),
                "n_frames": np.repeat(nf, reps),
                "frame_idx": idx,
            }
        )


def _audio_chunk_batches(batches):
    """Stub PCM decode + 400-sample window chunking with exact integer
    energy/peak — the batch body of `audio_chunks_from`."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        nbytes = (
            pdf["payload"].str.len().fillna(0).astype("int64")
        ).to_numpy()
        ns = nbytes * 3 % 2000 + 400
        dids = pdf["doc_id"].to_numpy()
        out_id, out_ns, out_ci, out_cn, out_en, out_pk = (
            [], [], [], [], [], []
        )
        for did, n in zip(dids, ns):
            v = (did * 31 + np.arange(n, dtype="int64") * 7) % 1997 - 998
            bounds = np.arange(0, n, 400)
            k = len(bounds)
            out_id.append(np.full(k, did, dtype="int64"))
            out_ns.append(np.full(k, n, dtype="int64"))
            out_ci.append(np.arange(k, dtype="int64"))
            sizes = np.diff(np.append(bounds, n))
            out_cn.append(sizes.astype("int64"))
            out_en.append(np.add.reduceat(v * v, bounds))
            out_pk.append(np.maximum.reduceat(np.abs(v), bounds))
        cat = (
            lambda parts: np.concatenate(parts)
            if parts
            else np.array([], dtype="int64")
        )
        yield pd.DataFrame(
            {
                "doc_id": cat(out_id),
                "n_samples": cat(out_ns),
                "chunk_idx": cat(out_ci),
                "chunk_n": cat(out_cn),
                "energy": cat(out_en),
                "peak": cat(out_pk),
            }
        )


def _hex8_md5(*parts):
    """First 8 hex chars of md5 over the concatenated string parts."""
    return F.substring(F.md5(F.concat(*parts).cast("binary")), 1, 8)


def image_thumbs_from(assets):
    """(doc_id, width, height, thumb_w, thumb_h, thumb_digest) for any
    (doc_id, payload) asset table: the thumbnail-fit batch body, then a
    JVM-side digest of doc_id:WxH. q_image_resize and
    jobs/media_pipeline.py both run this."""
    dims = assets.mapInPandas(
        _image_resize_batches,
        schema=(
            "doc_id long, width long, height long,"
            " thumb_w long, thumb_h long"
        ),
    )
    digest = _hex8_md5(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("thumb_w").cast("string"), F.lit("x"),
        F.col("thumb_h").cast("string"),
    )
    return dims.select(
        "doc_id", "width", "height", "thumb_w", "thumb_h",
        digest.alias("thumb_digest"),
    )


def video_frames_from(assets):
    """(doc_id, n_frames, frame_idx, ts_us, frame_digest) for any
    (doc_id, payload) asset table: the frame-sampling batch body, the
    24 fps timestamp and a JVM-side digest of doc_id:frame_idx.
    q_video_frame_sample and jobs/media_pipeline.py both run this."""
    frames = assets.mapInPandas(
        _video_frame_batches,
        schema="doc_id long, n_frames long, frame_idx long",
    )
    digest = _hex8_md5(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("frame_idx").cast("string"),
    )
    return frames.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        F.expr("frame_idx * 1000000 DIV 24").alias("ts_us"),
        digest.alias("frame_digest"),
    )


def audio_chunks_from(assets):
    """(doc_id, n_samples, chunk_idx, chunk_n, energy, peak) for any
    (doc_id, payload) asset table: the 400-sample chunking batch body.
    q_audio_chunks and jobs/media_pipeline.py both run this."""
    return assets.mapInPandas(
        _audio_chunk_batches,
        schema=(
            "doc_id long, n_samples long, chunk_idx long,"
            " chunk_n long, energy long, peak long"
        ),
    )


@q(
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) % 640 + 1 AS width,
             (octet_length(encode(text)) * 7) % 480 + 1 AS height
      FROM documents),
    t AS (
      SELECT doc_id, width, height,
             CASE WHEN width >= height THEN 64
                  ELSE GREATEST(1, (width * 64) // height) END AS thumb_w,
             CASE WHEN width >= height
                  THEN GREATEST(1, (height * 64) // width)
                  ELSE 64 END AS thumb_h
      FROM m)
    SELECT doc_id, width, height, thumb_w, thumb_h,
           substr(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(thumb_w AS VARCHAR) || 'x'
                      || CAST(thumb_h AS VARCHAR)), 1, 8) AS thumb_digest
    FROM t
    """,
)
def q_image_resize(spark, sf_dir):
    """Multimodal RESIZE plumbing: opaque binary payloads flow through
    mapInPandas (Arrow batches), the stubbed decode yields per-image
    dimensions (the q_multimodal_meta deterministic fake — real
    imaging libs absent, SURVEY.md §0), and the thumbnail-fit math —
    aspect-preserving integer scale into a 64x64 box, floor division,
    1-pixel floor on the short side — runs vectorized inside the UDF.
    The thumbnail content digest is then derived JVM-side (md5 over
    doc_id:WxH) so only the decode-shaped work pays the Python toll;
    a real deployment swaps the digest for the encoded thumbnail
    bytes at the same column position.

    Plan/scale: one mapInPandas pass (numpy-vectorized body, no
    per-row Python), then row-local JVM string/hash functions in
    whole-stage codegen. Nothing shuffles; partitioning is inherited
    from the scan, exactly like the extract stage."""
    return image_thumbs_from(_doc_payloads(spark, sf_dir))


@q(
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) % 240 + 1 AS n_frames
      FROM documents),
    s AS (
      SELECT doc_id, n_frames, (n_frames + 7) // 8 AS stride FROM m),
    f AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, n_frames - 1, stride))
               AS frame_idx
      FROM s)
    SELECT doc_id, n_frames, frame_idx,
           frame_idx * 1000000 // 24 AS ts_us,
           substr(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(frame_idx AS VARCHAR)), 1, 8)
             AS frame_digest
    FROM f
    """,
)
def q_video_frame_sample(spark, sf_dir):
    """Multimodal FRAME-SAMPLE plumbing: an opaque binary payload is
    treated as a 24 fps video whose frame count the stubbed decode
    derives deterministically (n_bytes % 240 + 1 — real codecs absent,
    SURVEY.md §0); the UDF samples at a stride that yields at most 8
    frames per video (stride = ceil(n_frames / 8)) and FANS OUT one
    row per sampled frame — the rows-out > rows-in batch shape a real
    frame extractor has. Per frame: the sampled index, its exact
    integer-microsecond timestamp at 24 fps, and a content digest
    derived JVM-side (a deployment replaces it with the frame bytes).

    Plan/scale: the fan-out happens INSIDE the Arrow batch (numpy
    repeat/arange — no explode shuffle, no per-row Python UDF), then
    row-local JVM hash/string work. Output is at most 8x the input
    row count and partitioning is inherited from the scan; downstream
    consumers (per-frame embedding, dedup) shuffle on their own keys."""
    return video_frames_from(_doc_payloads(spark, sf_dir))


#: claimed Content-Type per synthetic kind index (doc_id % 6) — the
#: mapping both the Spark synthesis and the closed-form oracle share
_MIME_BY_KIND = [
    "application/pdf",
    "application/gzip",
    "image/gif",
    "application/zip",
    "text/html",
    "text/plain",
]

#: magic-byte hex prefix per kind index (pdf, gzip, gif89a, zip, html;
#: kind 5 = no magic, raw text)
_MAGIC_HEX = [
    "255044462D312E34",          # %PDF-1.4
    "1F8B08",                    # gzip member header
    "474946383961",              # GIF89a
    "504B0304",                  # PK\x03\x04 (zip local file header)
    "3C68746D6C3E3C626F64793E",  # <html><body>
    "",
]


@q(
    """
    WITH k AS (
      SELECT doc_id % 6 AS kind,
             CASE WHEN doc_id % 7 = 0 THEN 'text/html'
                  WHEN doc_id % 6 = 0 THEN 'application/pdf'
                  WHEN doc_id % 6 = 1 THEN 'application/gzip'
                  WHEN doc_id % 6 = 2 THEN 'image/gif'
                  WHEN doc_id % 6 = 3 THEN 'application/zip'
                  WHEN doc_id % 6 = 4 THEN 'text/html'
                  ELSE 'text/plain' END AS claimed_type,
             CASE WHEN doc_id % 6 = 0 THEN 'application/pdf'
                  WHEN doc_id % 6 = 1 THEN 'application/gzip'
                  WHEN doc_id % 6 = 2 THEN 'image/gif'
                  WHEN doc_id % 6 = 3 THEN 'application/zip'
                  WHEN doc_id % 6 = 4 THEN 'text/html'
                  ELSE 'text/plain' END AS sniffed_type
      FROM documents)
    SELECT claimed_type, sniffed_type,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           claimed_type <> sniffed_type AS is_mismatch
    FROM k GROUP BY claimed_type, sniffed_type
    """,
)
def q_mime_sniff(spark, sf_dir):
    """Content-type sniffing audit — the corpus-wide version of the
    extractor's A-1 kind dispatch: servers lie about Content-Type
    (the classic failure is everything claimed as text/html), so a
    WARC-scale pipeline sniffs magic bytes and routes on the SNIFFED
    kind, and this audit reports the claimed x sniffed confusion
    matrix that tells it how much the headers can be trusted. The
    sniffer inspects the payload's leading bytes JVM-side (hex-prefix
    compare — %PDF-, gzip 1F 8B, GIF8, PK 03 04) and falls back to a
    byte-preserving ISO-8859-1 decode of the head for the <html> /
    <!doctype marker, else text/plain; no Python touches the bytes.

    Synthesis: doc_id % 6 picks the real payload kind (magic prefix +
    the document's own text via unhex, so payloads are true BINARY
    with non-UTF-8 magics); the claimed header is correct except every
    7th doc claims text/html (the misconfigured-server rule). The
    oracle states the confusion matrix in closed form, so a sniffer
    that misreads any magic, case-folds wrong, or mis-groups the
    matrix hash-fails.

    Plan/scale: payload synthesis and sniffing are row-local
    whole-stage-codegen expressions (unhex/hex/substring/startswith
    on binary + one bounded charset decode); ONE hash aggregate on
    the (claimed, sniffed) pair — at most |types|^2 groups — with
    map-side partials. At 10^12 captures this is a scan plus a
    trivially small shuffle; no UDF, no join, no window."""
    docs = _t(spark, sf_dir, "documents")
    kind = F.col("doc_id") % 6
    magic = F.when(kind == 0, F.lit(_MAGIC_HEX[0]))
    for j in range(1, 6):
        magic = magic.when(kind == j, F.lit(_MAGIC_HEX[j]))
    payload = F.unhex(
        F.concat(magic, F.hex(F.encode(F.substring("text", 1, 8), "UTF-8")))
    )
    correct = F.when(kind == 0, F.lit(_MIME_BY_KIND[0]))
    for j in range(1, 6):
        correct = correct.when(kind == j, F.lit(_MIME_BY_KIND[j]))
    claimed = F.when(F.col("doc_id") % 7 == 0, F.lit("text/html")).otherwise(
        correct
    )
    hexp = F.hex(F.substring(payload, 1, 12))
    head = F.lower(F.decode(F.substring(payload, 1, 16), "ISO-8859-1"))
    sniffed = (
        F.when(hexp.startswith("255044462D"), F.lit("application/pdf"))
        .when(hexp.startswith("1F8B"), F.lit("application/gzip"))
        .when(hexp.startswith("47494638"), F.lit("image/gif"))
        .when(hexp.startswith("504B0304"), F.lit("application/zip"))
        .when(
            head.startswith("<html") | head.startswith("<!doctype"),
            F.lit("text/html"),
        )
        .otherwise(F.lit("text/plain"))
    )
    return (
        docs.select(claimed.alias("claimed_type"), sniffed.alias("sniffed_type"))
        .groupBy("claimed_type", "sniffed_type")
        .agg(F.count("*").alias("n_pages"))
        .withColumn(
            "is_mismatch", F.col("claimed_type") != F.col("sniffed_type")
        )
    )


@q(
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) * 3 % 2000 + 400 AS n
      FROM documents),
    c AS (
      SELECT doc_id, n,
             unnest(range(0, (n + 399) // 400)) AS chunk_idx
      FROM m),
    s AS (
      SELECT doc_id, n, chunk_idx,
             list_transform(
               range(chunk_idx * 400, least(n, chunk_idx * 400 + 400)),
               s -> (doc_id * 31 + s * 7) % 1997 - 998) AS vs
      FROM c)
    SELECT doc_id,
           n AS n_samples,
           chunk_idx,
           CAST(len(vs) AS BIGINT) AS chunk_n,
           CAST(list_aggregate(list_transform(vs, v -> v * v), 'sum')
                AS BIGINT) AS energy,
           CAST(list_aggregate(list_transform(vs, v -> abs(v)), 'max')
                AS BIGINT) AS peak
    FROM s
    """,
)
def q_audio_chunks(spark, sf_dir):
    """Multimodal AUDIO plumbing — the third modality next to
    q_image_resize / q_video_frame_sample: an opaque binary payload is
    treated as 16 kHz PCM whose decoded sample count and sample values
    the stubbed codec derives deterministically (n = 3*n_bytes % 2000
    + 400 samples; sample s = (doc_id*31 + s*7) % 1997 - 998 — real
    audio libs absent, SURVEY.md §0), and the UDF window-chunks the
    stream into fixed 400-sample frames (25 ms at 16 kHz, last frame
    ragged) FANNING OUT one row per chunk with exact integer signal
    stats: chunk length, energy (sum of squares — the VAD/silence
    gate every speech pipeline runs first) and peak amplitude (the
    clipping detector). A deployment swaps the fake decode for the
    codec call at the same batch position; the chunk grain, fan-out
    shape and stats schema are the real plumbing under test.

    Plan/scale: one mapInPandas pass; inside each Arrow batch the
    per-document sample vector is materialized once and both stats
    come from numpy reduceat over the SAME chunk boundaries (no
    per-sample Python, no second decode), with the rows-out > rows-in
    fan-out inside the batch — no explode shuffle. Output inherits
    the scan partitioning; downstream per-chunk consumers (ASR
    embedding, dedup) shuffle on their own keys."""
    return audio_chunks_from(_doc_payloads(spark, sf_dir))
