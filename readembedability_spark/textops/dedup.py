"""Near-duplicate detection over the documents table: exact hashing,
unigram and shingle Jaccard, MinHash-LSH candidates and their verified
pairs, connected components over pair edges, SimHash, line- and
substring-level dedup, winnowing, content-defined chunking, and the
LSH recall, band-tuning and calibration audits.

The family's cores are imported from here by the other families: the
word and shingle tables (_words_df, _shingles_from), the MinHash
profile and bands (_minhash_minima, _lsh_bands, _lsh_candidates,
_capped_bucket_pairs), the verified-pair plan (_verified_pairs_from),
connected components (_connected_components), the word n-gram table
(_grams_from) and the newline-bearing text (_ml_text_col).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.queries import (
    _iterate,
    _persist,
    _t,
    q,
    q_baseline,
)
from readembedability_spark.text_signals import (
    doc_tokens,
    word_ngrams,
)


@q(
    """
    SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
    FROM documents GROUP BY h
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy; keeper = min doc_id per group."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.encode("text", "UTF-8")).alias("h"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
    )


_WORDS_SQL = """
    words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '')
"""


def _words_df(spark, sf_dir):
    # NOTE: no _spread here — measured A/B (interleaved, warm): the extra
    # exchange costs more than parallelizing the explode saves; the
    # distinct() shuffle already spreads all downstream work.
    return doc_tokens(_t(spark, sf_dir, "documents"), "doc_id").distinct()


def _with_sizes(pairs, sizes):
    """(a, b, …) pair rows with each side's set size from a (doc_id, sz)
    table attached as sza and szb."""
    for k in "ab":
        side = sizes.select(
            F.col("doc_id").alias(k), F.col("sz").alias(f"sz{k}")
        )
        pairs = pairs.join(side, k)
    return pairs


def _pair_union():
    """|A ∪ B| of a pair row (i = |A ∩ B|, sza, szb)."""
    return F.col("sza") + F.col("szb") - F.col("i")


def _jaccard():
    """|A ∩ B| / |A ∪ B| of a pair row (i, sza, szb)."""
    return F.col("i") / _pair_union()


@q_baseline(
    f"""
    WITH {_WORDS_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM words GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT a, b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """Near-dup pairs by unigram-set Jaccard ≥ 0.8 (inverted-index join —
    only pairs sharing ≥1 token are ever materialized)."""
    words = _words_df(spark, sf_dir)
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("sz"))
    wa = words.alias("wa")
    wb = words.alias("wb")
    inter = (
        wa.join(
            wb,
            (F.col("wa.w") == F.col("wb.w"))
            & (F.col("wa.doc_id") < F.col("wb.doc_id")),
        )
        .groupBy(
            F.col("wa.doc_id").alias("a"), F.col("wb.doc_id").alias("b")
        )
        .agg(F.count("*").alias("i"))
    )
    jac = _jaccard()
    return (
        _with_sizes(inter, sizes)
        .filter(jac >= 0.8)
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )


_N_MINHASH = 8
_N_BANDS = 2  # 2 bands × 4 rows

#: 3-gram shingles — the textbook MinHash unit. Shingle universe is
#: |vocab|^3, so unrelated documents share almost none and LSH buckets
#: stay small (unigrams over a small vocabulary collide pathologically:
#: measured 5.2M candidate pairs on the sf0.1 synthetic corpus vs ~10k
#: with shingles).
def _shingles_sql(src: str) -> str:
    """DuckDB CTE fragment `shingles(doc_id, sh)` over any relation
    `src` with (doc_id, text) columns."""
    return f"""
    shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(arr) - 1),
                      k -> array_to_string(list_slice(arr, k, k + 2), ' ')))
                 AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM {src}))
      WHERE sh <> '')
"""


_SHINGLES_SQL = _shingles_sql("documents")


def _shingles_from(docs):
    """(doc_id, sh) distinct 3-gram shingles from any (doc_id, text) DF."""
    docs = docs.select("doc_id", F.split("text", " ").alias("arr"))
    sh = F.when(F.size("arr") >= 3, word_ngrams("arr", 3)).otherwise(
        F.array().cast("array<string>")
    )
    return (
        docs.select("doc_id", F.explode(sh).alias("sh"))
        .filter(F.col("sh") != "")
        .distinct()
    )


def _shingles_df(spark, sf_dir):
    return _shingles_from(_t(spark, sf_dir, "documents"))


#: Degenerate-bucket guard: a bucket of k ids would otherwise emit
#: O(k^2) candidate pairs — a scale-killer on mostly-duplicate corpora
#: (k=10^6 identical docs → 5·10^11 pairs from ONE bucket). We emit all
#: pairs among the `_MAX_BUCKET_IDS` smallest doc_ids ("head") plus one
#: star pair (head-min, t) for every overflow id t, which preserves
#: dedup connectivity (every doc in the bucket stays linked to the
#: keeper) while keeping output linear in bucket size beyond the cap.
_MAX_BUCKET_IDS = 64

#: Oracle CTE pair `hashes(doc_id, i, mh)` → `bands(doc_id, band,
#: band_sig)` over `shingles`: the hash family and band split the
#: Spark side computes in _minhash_minima + _lsh_bands.
_MINHASH_BANDS_SQL = f"""hashes AS (
      SELECT doc_id, i,
             MIN(substr(md5(sh), i * 4 + 1, 4)) AS mh
      FROM shingles CROSS JOIN generate_series(0, {_N_MINHASH - 1}) t(i)
      GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // {_N_MINHASH // _N_BANDS} AS band,
             string_agg(mh, ',' ORDER BY i) AS band_sig
      FROM hashes GROUP BY doc_id, band)"""

#: Reusable CTE chain ending in `cand(a, b)` — the capped MinHash-LSH
#: candidate pairs (consumed by q_minhash_lsh and q_dedup_lsh_verified).
#: The ranked/ROW_NUMBER formulation is value-equivalent to the Spark
#: side's sorted-array head/tail split: within a bucket rn orders by
#: doc_id, so `x.rn<=CAP AND (y.rn<=CAP OR x.rn=1)` = head×head pairs
#: plus (min, tail) star pairs.
def _minhash_cand_sql(src: str) -> str:
    return f"""
    {_shingles_sql(src)},
    {_MINHASH_BANDS_SQL},
    ranked AS (
      SELECT doc_id, band, band_sig,
             ROW_NUMBER() OVER (PARTITION BY band, band_sig
                                ORDER BY doc_id) AS rn
      FROM bands),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM ranked x JOIN ranked y
        ON x.band = y.band AND x.band_sig = y.band_sig
       AND x.doc_id < y.doc_id
      WHERE x.rn <= {{cap}}
        AND (y.rn <= {{cap}} OR x.rn = 1))
""".replace("{cap}", str(_MAX_BUCKET_IDS))


_MINHASH_CAND_SQL = _minhash_cand_sql("documents")


@q(
    f"""
    WITH {_MINHASH_CAND_SQL}
    SELECT a, b FROM cand
    """,
)
def q_minhash_lsh(spark, sf_dir):
    """MinHash(8) over 3-gram shingles + LSH banding (2 bands × 4 rows):
    candidate near-dup pairs sharing a full band signature, with the
    degenerate-bucket cap (_MAX_BUCKET_IDS). Hash family = the 8
    4-hex-char slices of ONE md5(shingle) digest — engine portable,
    deterministic, and 8× cheaper than a per-family digest."""
    return _lsh_candidates(_minhash_minima(_shingles_df(spark, sf_dir)))


def _minhash_minima(shingles, *extra_aggs):
    """(doc_id, *extra_aggs, m0..m{N-1}) — the MinHash core: ONE
    doc-keyed aggregate over a (doc_id, sh) shingle DF yielding the
    _N_MINHASH component minima as longs.

    Hash family = 4-hex-char SLICES of ONE md5 per shingle (the
    digest's chunks are independent uniform 16-bit hashes — standard
    trick): 1 digest instead of _N_MINHASH per shingle row, projected
    BEFORE the aggregate so it is evaluated once per row. All minima
    are parallel aggregate expressions of the same groupBy(doc_id) —
    no crossJoin(range(N)) row blowup, no groupBy(doc_id, i) pass.

    The minima are taken over LONG-decoded slices, not the hex
    strings (r9): MIN(string) carries a string aggregation buffer,
    which demotes the aggregate to SortAggregate — two full sorts of
    the corpus-sized shingle table. Fixed-length lowercase hex is
    order-isomorphic to its numeric value, so the decoded minimum IS
    the hex minimum; _lsh_bands re-hexes it with %04x. With the decode
    inline in MIN (not a pre-projected column), Catalyst sees only
    duplicate-insensitive aggregates over the shingle DISTINCT and
    drops that distinct's corpus-sized shuffle on the lean path.

    `extra_aggs` ride the same fold: the per-doc dedup profile
    (_doc_profiles_from) passes the shingle array and its size; the
    lean banding path (q_minhash_lsh, q_lsh_bucket_stats,
    q_dedup_incremental) passes none, so no shingle arrays are
    collected."""
    hashed = shingles.select(
        "doc_id", "sh", F.md5(F.encode("sh", "UTF-8")).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *extra_aggs,
        *[
            F.min(F.conv(F.substring("h", i * 4 + 1, 4), 16, 10).cast("long"))
            .alias(f"m{i}")
            for i in range(_N_MINHASH)
        ],
    )


def _lsh_bands(df):
    """(doc_id, band, band_sig) LSH band signatures from any DF carrying
    _minhash_minima's m0..m{N-1}: _N_BANDS bands of consecutive
    components, each band_sig the %04x re-hexed minima joined by ','
    — byte-identical to the oracle's string_agg over hex-slice MINs."""
    rows_per_band = _N_MINHASH // _N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.format_string(
                            "%04x", F.col(f"m{b * rows_per_band + j}")
                        )
                        for j in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for b in range(_N_BANDS)
        ]
    )
    return df.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", "bs.band", "bs.band_sig"
    )


def _lsh_candidates(df):
    """Capped LSH candidate pairs (a, b) from any DF carrying the
    MinHash minima. Pair generation is a bucket groupBy, not a
    self-join: one pass over the band table, and the bucket is the
    shuffle key — the scale-out shape for LSH candidate generation."""
    buckets = _lsh_bands(df).groupBy("band", "band_sig").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    return _capped_bucket_pairs(buckets)


def _capped_bucket_pairs(buckets):
    """(a, b) candidate pairs from a DF with a sorted-id-array column
    `ids`, one row per LSH bucket. Degenerate buckets (mostly-duplicate
    corpora) are capped: full pairs among the _MAX_BUCKET_IDS smallest
    ids, star pairs (min, t) for the overflow — output linear in bucket
    size beyond the cap, dedup connectivity preserved."""
    head = F.slice(F.col("ids"), 1, _MAX_BUCKET_IDS)
    tail = F.slice(
        F.col("ids"),
        _MAX_BUCKET_IDS + 1,
        F.greatest(F.size("ids") - _MAX_BUCKET_IDS, F.lit(0)),
    )
    head_pairs = F.flatten(
        F.transform(
            head,
            lambda x, i: F.transform(
                F.slice(
                    head,
                    i + F.lit(2),
                    F.greatest(F.size(head) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    star_pairs = F.transform(
        tail,
        lambda t: F.struct(
            F.element_at(F.col("ids"), 1).alias("a"), t.alias("b")
        ),
    )
    pairs = buckets.filter(F.size("ids") > 1).select(
        F.explode(F.concat(head_pairs, star_pairs)).alias("p")
    )
    return pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()


#: CTE chain ending in `vpairs(a, b, jaccard)` — the LSH-verified
#: near-dup pairs, shared by q_dedup_lsh_verified, q_dedup_clusters and
#: (over the gated subset) q_curation_pipeline_lsh.
def _verified_pairs_sql(src: str) -> str:
    return f"""
    {_minhash_cand_sql(src)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.a
      JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
      GROUP BY c.a, c.b),
    vpairs AS (
      SELECT a, b, ROUND(i * 1.0 / (za.sz + zb.sz - i), 4) AS jaccard
      FROM inter
      JOIN sizes za ON za.doc_id = a
      JOIN sizes zb ON zb.doc_id = b
      WHERE i * 1.0 / (za.sz + zb.sz - i) >= 0.2)
"""


_VERIFIED_PAIRS_SQL = _verified_pairs_sql("documents")


@q(
    f"""
    WITH {_VERIFIED_PAIRS_SQL}
    SELECT a, b, jaccard FROM vpairs
    """,
)
def q_dedup_lsh_verified(spark, sf_dir):
    """The composed scale path for shingle dedup: MinHash-LSH candidate
    pairs (q_minhash_lsh) → exact Jaccard computed ONLY for candidates.
    The shingle joins are keyed by the candidate pair set (equi-joins on
    doc_id then (doc_id, sh)), never a full shingle×shingle self-join —
    at 100 TB the candidate set is ~linear in corpus size, so the verify
    stage is too (vs the full-corpus quadratic q_dedup_ngram_jaccard)."""
    return _verified_pairs_df(spark, sf_dir)


def _verified_pairs_df(spark, sf_dir):
    return _verified_pairs_from(_shingles_df(spark, sf_dir))


def _doc_profiles_from(shingles):
    """Persisted per-doc dedup profile (doc_id, shs, sz, m0..m{N-1}):
    the doc's distinct-shingle array and its size riding the
    _minhash_minima fold — ONE doc-keyed aggregate over the shingle
    table, shared by candidate generation, verify, sizes and the
    estimator audit, so the corpus-sized signature pass runs exactly
    once per query. The profile is the shingle table's only reader, so
    the shingles themselves need no persist. Tracked for
    release_caches (caller frees after materializing)."""
    return _persist(
        _minhash_minima(
            shingles,
            F.collect_list("sh").alias("shs"),
            F.count("*").alias("sz"),
        )
    )


def _pair_intersections(prof):
    """inter(a, b, i, sza, szb, a0..a{N-1}, b0..b{N-1}) — exact
    shingle-intersection counts for the capped MinHash-LSH candidate
    pairs of a per-doc profile (_doc_profiles_from), with both sides'
    sizes and component minima attached. The shared verify core,
    consumed by _verified_pairs_from (Jaccard ≥ 0.2),
    q_dedup_containment, q_dedup_recall, q_minhash_calibration and
    q_minhash_band_tuning, so every dup detector walks the SAME
    candidate universe and a cap/banding change reaches all of them;
    columns a consumer does not select are pruned from the joins.

    Each candidate pair's intersection is computed ROW-LOCALLY with
    array_intersect over the two profile rows — never a
    shingle×shingle self-join, no postings shuffle by (doc_id, sh).
    Counts equal the join form because per-doc shingles are distinct;
    pairs with an empty intersection carry i=0, which every consumer
    handles (the oracles' COALESCE / >= filters)."""
    def side(k):
        return prof.select(
            F.col("doc_id").alias(k),
            F.col("shs").alias(f"sh{k}"),
            F.col("sz").alias(f"sz{k}"),
            *[F.col(f"m{i}").alias(f"{k}{i}") for i in range(_N_MINHASH)],
        )

    return (
        _lsh_candidates(prof)
        .join(side("a"), "a")
        .join(side("b"), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sha", "shb")).cast("long").alias("i"),
            "sza",
            "szb",
            *[f"{k}{i}" for k in "ab" for i in range(_N_MINHASH)],
        )
    )


def _verified_pairs_from(shingles):
    """vpairs(a, b, jaccard ≥ 0.2) from a shingle DF: capped
    MinHash-LSH candidates → exact Jaccard on candidates only."""
    inter = _pair_intersections(_doc_profiles_from(shingles))
    jac = _jaccard()
    return inter.filter(jac >= 0.2).select(
        "a", "b", F.round(jac, 4).alias("jaccard")
    )


#: dedup-recall gate: probe-doc bound (exact side cost = probe docs ×
#: shingle postings — linear, NOT the quarantined all-pairs shape) and
#: the recall floor vs the measured sf0.01 value.
#: q_dedup_recall probe sizing (VERDICT r06 #6): the probe-doc count
#: DERIVES from the corpus — max(PROBE, min(CAP, N // 20)) — so the
#: recall floor keeps bite as the corpus grows (a fixed 100-doc probe
#: at sf0.1+ under-samples exactly where banding degeneracy shows)
#: while the exact ground-truth side stays bounded by CAP at any N.
_DEDUP_RECALL_PROBE = 100
_DEDUP_RECALL_PROBE_CAP = 1024
_DEDUP_RECALL_FLOOR = 0.75


def _dedup_recall_probe(n_docs: int) -> int:
    """Derived probe size — same arithmetic the oracle's pv CTE runs."""
    return max(
        _DEDUP_RECALL_PROBE, min(_DEDUP_RECALL_PROBE_CAP, n_docs // 20)
    )


@q(
    f"""
    WITH {_VERIFIED_PAIRS_SQL},
    pv AS (
      SELECT GREATEST({_DEDUP_RECALL_PROBE},
                      LEAST({_DEDUP_RECALL_PROBE_CAP}, COUNT(*) // 20))
               AS p
      FROM documents),
    pint AS (
      SELECT sp.doc_id AS a, st.doc_id AS b, COUNT(*) AS i
      FROM shingles sp JOIN shingles st ON sp.sh = st.sh
      WHERE sp.doc_id < (SELECT p FROM pv)
        AND (st.doc_id >= (SELECT p FROM pv)
             OR st.doc_id > sp.doc_id)
      GROUP BY 1, 2),
    exactp AS (
      SELECT a, b FROM pint
      JOIN sizes za ON za.doc_id = a
      JOIN sizes zb ON zb.doc_id = b
      WHERE i * 1.0 / (za.sz + zb.sz - i) >= 0.2),
    lshp AS (
      SELECT a, b FROM vpairs
      WHERE a < (SELECT p FROM pv) OR b < (SELECT p FROM pv)),
    hit AS (SELECT COUNT(*) AS nh FROM lshp JOIN exactp USING (a, b)),
    tot AS (SELECT COUNT(*) AS nt FROM exactp)
    SELECT 'dedup_lsh_verified' AS method,
           CAST(nt AS BIGINT) AS n_exact,
           CAST(nh AS BIGINT) AS n_found,
           ROUND(nh * 1.0 / NULLIF(nt, 0), 4) AS recall,
           nh * 1.0 / NULLIF(nt, 0) >= {_DEDUP_RECALL_FLOOR} AS passed
    FROM hit CROSS JOIN tot
    """,
)
def q_dedup_recall(spark, sf_dir):
    """Recall of the production LSH-verified dedup path vs EXACT
    Jaccard ground truth, as a driver-checked number (the
    q_ann_recall pattern applied to dedup): ground truth = all exact
    Jaccard ≥ 0.2 pairs touching the first max({_DEDUP_RECALL_PROBE},
    min({_DEDUP_RECALL_PROBE_CAP}, N//20)) probe docs — DERIVED from
    the corpus size (VERDICT r06 #6) so the floor keeps bite as the
    corpus grows — computed by an inverted-shingle join whose probe
    side is BOUNDED (cost = probe docs × postings, probe capped —
    linear in the corpus, never the quarantined all-pairs shape);
    found = q_dedup_lsh_verified's pairs restricted to the same probe
    set. A banding or bucket-cap parameter tune that silently starts
    missing true near-dups flips recall/passed and hash-fails the
    gate — recall claims no longer live only in test asserts. The
    probe count is one bounded driver-side scalar (a parquet-metadata
    count), mirrored by the oracle's pv CTE."""
    docs_n = _t(spark, sf_dir, "documents").count()
    shingles = _persist(_shingles_df(spark, sf_dir))
    p = _dedup_recall_probe(docs_n)
    sp = shingles.filter(F.col("doc_id") < p).select(
        F.col("doc_id").alias("a"), "sh"
    )
    st = shingles.select(F.col("doc_id").alias("b"), "sh")
    # the probe side is BOUNDED by construction (≤ CAP docs × shingles
    # per doc), so broadcast it — the corpus-sized posting table then
    # never shuffles by shingle; only the matched pair rows move (r9)
    pint = (
        st.join(F.broadcast(sp), "sh")
        .filter((F.col("b") >= p) | (F.col("b") > F.col("a")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    # doc sizes ride on the persisted verify-core profile — no second
    # corpus-sized sizes rollup (r9)
    prof = _doc_profiles_from(shingles)
    jac = _jaccard()
    exact = (
        _with_sizes(pint, prof.select("doc_id", "sz"))
        .filter(jac >= 0.2)
        .select("a", "b")
    )
    lsh = (
        _pair_intersections(prof)
        .filter(jac >= 0.2)
        .filter((F.col("a") < p) | (F.col("b") < p))
        .select("a", "b")
    )
    hits = lsh.join(exact, ["a", "b"]).agg(F.count("*").alias("nh"))
    tot = exact.agg(F.count("*").alias("nt"))
    # try_divide: an all-unique corpus has ZERO ground-truth pairs —
    # Spark ANSI throws on the zero divisor where DuckDB's NULLIF
    # yields NULL (SCALE.md round-7 note; same class as length drift)
    recall = F.try_divide(F.col("nh").cast("double"), F.col("nt"))
    return hits.crossJoin(tot).select(
        F.lit("dedup_lsh_verified").alias("method"),
        F.col("nt").cast("long").alias("n_exact"),
        F.col("nh").cast("long").alias("n_found"),
        F.round(recall, 4).alias("recall"),
        (recall >= F.lit(_DEDUP_RECALL_FLOOR)).alias("passed"),
    )


@q(
    f"""
    WITH RECURSIVE {_VERIFIED_PAIRS_SQL},
    edges AS (SELECT a, b FROM vpairs UNION SELECT b, a FROM vpairs),
    walk(node, reach) AS (
      SELECT a AS node, a AS reach FROM edges
      UNION
      SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a),
    reps AS (SELECT node, MIN(reach) AS rep FROM walk GROUP BY node)
    SELECT node AS doc_id, rep,
           CAST(COUNT(*) OVER (PARTITION BY rep) AS BIGINT)
             AS component_size
    FROM reps
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Connected-components dedup clustering — the actual dedup
    DELIVERABLE: near-dup PAIRS (q_dedup_lsh_verified) folded into one
    canonical representative per document (component minimum), so a
    pipeline can keep exactly one doc per cluster. Spark side is
    alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round is two
    groupBy-min + join passes over the O(E) edge rows and the edge set
    contracts toward a star forest in O(log n) rounds — vs the O(diameter)
    rounds of plain min-label propagation (VERDICT r02 #9). The loop
    runs to an EXACT fixpoint (edge-set equality, not a checksum) and
    raises on round exhaustion instead of silently emitting unconverged
    labels (ADVICE r02); each round's localCheckpoint blocks are freed
    as soon as the next round is materialized (VERDICT r02 wrong #3).
    component_size = members per component, via a window over the
    converged labels. Oracle = recursive CTE computing min reachable
    node; both emit (doc_id, rep, component_size) identically."""
    edges = _verified_pairs_df(spark, sf_dir).select("a", "b")
    labels = _connected_components(spark, edges)
    w_sz = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("rep"),
        F.count("*").over(w_sz).cast("long").alias("component_size"),
    )


def _large_star(edges):
    """One large-star round: for every node u, connect each strictly
    larger neighbor to min(Γ(u) ∪ {u}). Two shuffles (groupBy-min on u,
    join back on u), output size ≤ input size (symmetrized)."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges):
    """One small-star round: orient each edge larger→smaller, then for
    every node u connect each smaller neighbor AND u itself to
    min(Γ⁻(u) ∪ {u}). Output edges are (child, parent) with parent <
    child — a star forest once converged."""
    o = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    mins = o.groupBy("a").agg(F.min("b").alias("m"))  # m < a
    moved = (
        o.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edges = mins.select("a", F.col("m").alias("b"))
    return moved.union(self_edges).distinct()


_CC_MAX_ROUNDS = 50


def _contract(edges):
    """One large-star + small-star contraction round."""
    return _small_star(_large_star(edges))


def _is_star_forest(edges):
    """True when no node of the (child a, parent b) edges is both a
    child and a parent: the exact fixpoint of the alternating
    contraction (a star forest is invariant under both star operations,
    and any deeper tree is rewritten). One node-keyed aggregate over
    both ends of every edge, no checksums."""
    ends = F.array(
        F.struct(F.col("a").alias("n"), F.lit(False).alias("parent")),
        F.struct(F.col("b").alias("n"), F.lit(True).alias("parent")),
    )
    return (
        edges.select(F.inline(ends))
        .groupBy("n")
        .agg((F.min("parent") != F.max("parent")).alias("both"))
        .filter("both")
        .isEmpty()
    )


def _connected_components(spark, edges):
    """(node, label) rows — label = component-minimum node id — for
    every node appearing in `edges` (columns a, b). Alternating
    large-star/small-star rounds on the round-loop core until the
    edges form a star forest; prior rounds' storage freed as each
    probe materializes the next. The loop starts from the symmetric
    edge set, whose every node is both a child and a parent: on it the
    star-forest probe is exactly the emptiness test, and its anchor
    freezes the input so no round replays the upstream pipeline."""
    both = F.array(
        F.struct("a", "b"),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
    )
    sym = edges.filter(F.col("a") != F.col("b")).select(F.inline(both))
    rounds = _CC_MAX_ROUNDS + 1  # the emptiness round, then the cap
    cur, converged = _iterate(
        sym.distinct(), _contract, rounds, probe=_is_star_forest
    )
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ROUNDS} "
            "large-star/small-star rounds"
        )
    children = cur.select(F.col("a").alias("node"), F.col("b").alias("label"))
    roots = (
        cur.select(F.col("b").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    return children.union(roots).distinct()


@q(
    f"""
    WITH newdocs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9),
    index_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
    {_shingles_sql("newdocs").replace("shingles", "nsh")},
    {_shingles_sql("index_docs").replace("shingles", "ish")},
    nmh AS (
      SELECT doc_id, i, MIN(substr(md5(sh), i * 4 + 1, 4)) AS mh
      FROM nsh CROSS JOIN generate_series(0, {_N_MINHASH - 1}) t(i)
      GROUP BY doc_id, i),
    imh AS (
      SELECT doc_id, i, MIN(substr(md5(sh), i * 4 + 1, 4)) AS mh
      FROM ish CROSS JOIN generate_series(0, {_N_MINHASH - 1}) t(i)
      GROUP BY doc_id, i),
    nbands AS (
      SELECT doc_id, i // {_N_MINHASH // _N_BANDS} AS band,
             string_agg(mh, ',' ORDER BY i) AS band_sig
      FROM nmh GROUP BY doc_id, band),
    ibands AS (
      SELECT doc_id, i // {_N_MINHASH // _N_BANDS} AS band,
             string_agg(mh, ',' ORDER BY i) AS band_sig
      FROM imh GROUP BY doc_id, band),
    matches AS (
      SELECT DISTINCT n.doc_id AS new_doc, x.doc_id AS index_doc
      FROM nbands n JOIN ibands x
        ON n.band = x.band AND n.band_sig = x.band_sig)
    SELECT new_doc, MIN(index_doc) AS matched_keeper,
           CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM matches GROUP BY new_doc
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup — the shape every RUNNING crawl pipeline needs:
    a NEW batch (here doc_id % 10 = 9) is near-dup-matched against the
    EXISTING index only, never against itself (new×new pairs belong to
    the next full-corpus pass; new×index is what decides admission).
    MinHash band signatures on both sides, equi-join keyed by
    (band, band_sig) with the new side the small probe — at 100 TB the
    index's band table is a bucketed Iceberg table the daily batch
    joins against, so incremental admission costs O(batch), not
    O(corpus). Emits each matched new doc with its lowest-id index
    match (the keeper it duplicates) and the match count."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new_sh = _shingles_from(docs.filter(F.col("doc_id") % 10 == 9))
    idx_sh = _shingles_from(docs.filter(F.col("doc_id") % 10 != 9))
    nb = _lsh_bands(_minhash_minima(new_sh)).withColumnRenamed(
        "doc_id", "new_doc"
    )
    ib = _lsh_bands(_minhash_minima(idx_sh)).withColumnRenamed(
        "doc_id", "index_doc"
    )
    # No explicit broadcast hint: a production daily batch is unbounded
    # and force-broadcasting it would OOM the driver (ADVICE r03). AQE
    # broadcasts the probe side when it measures small and falls back
    # to a shuffle join keyed by (band, band_sig) when it doesn't —
    # still O(batch + matched index buckets), never O(corpus) scans.
    matches = (
        ib.join(nb, ["band", "band_sig"])
        .select("new_doc", "index_doc")
        .distinct()
    )
    return matches.groupBy("new_doc").agg(
        F.min("index_doc").alias("matched_keeper"),
        F.count("*").cast("long").alias("n_matches"),
    )


_N_SIMHASH_BITS = 16


#: Reusable CTE chain ending in `sigs(doc_id, simhash)` — shared by
#: q_simhash (signatures) and q_simhash_pairs (banded pair generation).
_SIMHASH_SQL = f"""
    {_WORDS_SQL},
    bits AS (
      SELECT doc_id, i,
             CASE WHEN SUM(CASE WHEN substr(md5(w), i + 1, 1)
                    IN ('0','1','2','3','4','5','6','7')
                  THEN 1 ELSE -1 END) > 0
                  THEN '1' ELSE '0' END AS bit
      FROM words CROSS JOIN generate_series(0, {_N_SIMHASH_BITS - 1}) t(i)
      GROUP BY doc_id, i),
    sigs AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash
      FROM bits GROUP BY doc_id)
"""


@q(
    f"""
    WITH {_SIMHASH_SQL}
    SELECT doc_id, simhash FROM sigs
    """,
)
def q_simhash(spark, sf_dir):
    """SimHash(16 planes): bit_i = majority over tokens of the MSB of
    the i-th hex digit of md5(token) (one digest per token, 16
    independent plane signs). Emits the signature per doc;
    q_simhash_pairs runs the banded pair generation over these
    signatures."""
    return _simhash_df(spark, sf_dir)


def _simhash_df(spark, sf_dir):
    # One groupBy(doc_id) with _N_SIMHASH_BITS parallel SUM expressions
    # (the plane family is compile-time constant) — no broadcast
    # row-expansion join, single shuffle, map-side partial agg. Plane
    # family = hex digits of ONE md5(word) digest (each digit's MSB is
    # an independent fair coin): 1 digest per word row instead of 16.
    words = _words_df(spark, sf_dir).select(
        "doc_id", F.md5(F.encode("w", "UTF-8")).alias("h")
    )

    def sign(i):
        digit = F.substring("h", i + 1, 1)
        return F.when(
            digit.isin("0", "1", "2", "3", "4", "5", "6", "7"), F.lit(1)
        ).otherwise(F.lit(-1))

    totals = words.groupBy("doc_id").agg(
        *[F.sum(sign(i)).alias(f"t{i}") for i in range(_N_SIMHASH_BITS)]
    )
    simhash = F.concat(
        *[
            F.when(F.col(f"t{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(_N_SIMHASH_BITS)
        ]
    )
    return totals.select("doc_id", simhash.alias("simhash"))


_N_SIMHASH_BANDS = 4  # 4 bands × 4 bits → 100% recall for hamming ≤ 3


@q(
    f"""
    WITH {_SIMHASH_SQL},
    sub AS (SELECT * FROM sigs WHERE doc_id < 100),
    sbands AS (
      SELECT doc_id, simhash, t.band,
             substr(simhash,
                    t.band * {_N_SIMHASH_BITS // _N_SIMHASH_BANDS} + 1,
                    {_N_SIMHASH_BITS // _N_SIMHASH_BANDS}) AS bsig
      FROM sub CROSS JOIN generate_series(0, {_N_SIMHASH_BANDS - 1}) t(band)),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                      x.simhash AS sa, y.simhash AS sb
      FROM sbands x JOIN sbands y
        ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id)
    SELECT a, b,
           CAST(len(list_filter(range(1, {_N_SIMHASH_BITS + 1}),
                i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS BIGINT)
             AS hamming
    FROM cand
    WHERE len(list_filter(range(1, {_N_SIMHASH_BITS + 1}),
              i -> substr(sa, i, 1) <> substr(sb, i, 1))) <= 1
    """,
)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs end-to-end: band the 16-bit signature
    (4 bands × 4 bits — pigeonhole guarantees every hamming≤3 pair shares
    a band, so recall is exact for our hamming≤1 output), generate
    candidates per bucket, verify by exact Hamming distance. Pair
    generation is the same groupBy-bucket explode as q_minhash_lsh (one
    pass, bucket = shuffle key). At 100 TB you'd widen to a 64-bit
    signature (4×16-bit bands) for bucket selectivity; the 16-bit family
    here is the cross-engine-deterministic md5 variant. doc_id<100 keeps
    the gate output bounded on the near-dup-heavy synthetic corpus."""
    sigs = _simhash_df(spark, sf_dir).filter(F.col("doc_id") < 100)
    bits_per_band = _N_SIMHASH_BITS // _N_SIMHASH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.substring(
                    "simhash", b * bits_per_band + 1, bits_per_band
                ).alias("bsig"),
            )
            for b in range(_N_SIMHASH_BANDS)
        ]
    )
    sbands = sigs.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bs")
    ).select("doc_id", "simhash", "bs.band", "bs.bsig")
    buckets = sbands.groupBy("band", "bsig").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"),
                    i + F.lit(2),
                    F.greatest(F.size("ds") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("a"),
                    y["doc_id"].alias("b"),
                    x["simhash"].alias("sa"),
                    y["simhash"].alias("sb"),
                ),
            ),
        )
    )
    cand = (
        buckets.filter(F.size("ds") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.*")
        .distinct()
    )
    ham = F.aggregate(
        F.sequence(F.lit(1), F.lit(_N_SIMHASH_BITS)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.substr(F.col("sa"), i, F.lit(1))
            != F.substr(F.col("sb"), i, F.lit(1)),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= 1)
        .select("a", "b", "hamming")
    )


@q_baseline(
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM shingles a JOIN shingles b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT a, b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-gram-shingle Jaccard (inverted-index join on
    the shingle — the exact-verify stage run after MinHash-LSH candidate
    generation at scale)."""
    shingles = _shingles_df(spark, sf_dir)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa_ = shingles.alias("sa_")
    sb_ = shingles.alias("sb_")
    inter = (
        sa_.join(
            sb_,
            (F.col("sa_.sh") == F.col("sb_.sh"))
            & (F.col("sa_.doc_id") < F.col("sb_.doc_id")),
        )
        .groupBy(F.col("sa_.doc_id").alias("a"), F.col("sb_.doc_id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    jac = _jaccard()
    return (
        _with_sizes(inter, sizes)
        .filter(jac >= 0.2)
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )


@q(
    """
    WITH heads AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')
               AS head,
             md5(array_to_string(list_slice(string_split(text, ' '), 1, 2), ' '))
               AS blk
      FROM documents),
    cand AS (
      SELECT x.doc_id AS a, y.doc_id AS b, x.head AS ha, y.head AS hb
      FROM heads x JOIN heads y
        ON x.blk = y.blk
       AND abs(length(x.head) - length(y.head)) <= 4
       AND x.doc_id < y.doc_id)
    SELECT a, b, CAST(levenshtein(ha, hb) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(ha, hb) <= 4
    """,
)
def q_dedup_editdistance(spark, sf_dir):
    """Edit-distance near-dup on short fields (title-style dedup): the
    6-word head of each doc, candidates BLOCKED on the md5 fingerprint
    of the FIRST TWO words (VERDICT r02 #5 — a raw first-word key goes
    quadratic on real text where a handful of words like "the"/"a"
    dominate; the 2-word fingerprint spreads those into |vocab| distinct
    blocks, trading recall only for pairs that differ inside the first
    two words) with a length-difference prefilter (|len diff| > k ⇒
    levenshtein > k, so the filter is lossless within a block), then
    exact Levenshtein ≤ 4 on candidates only. The quadratic Levenshtein
    DP runs only on blocked candidate pairs; the block fingerprint is
    the shuffle key."""
    docs = _t(spark, sf_dir, "documents")
    # heads anchors both sides of the blocking self-join - persist so
    # the text column is scanned once
    heads = _persist(
        docs.select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 6)).alias("head"),
            F.md5(
                F.encode(
                    F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2)),
                    "UTF-8",
                )
            ).alias("blk"),
        )
    )
    x = heads.select(
        F.col("doc_id").alias("a"), F.col("head").alias("ha"), "blk"
    )
    y = heads.select(
        F.col("doc_id").alias("b"), F.col("head").alias("hb"), "blk"
    )
    cand = x.join(y, "blk").filter(
        (F.abs(F.length("ha") - F.length("hb")) <= 4) & (F.col("a") < F.col("b"))
    )
    dist = F.levenshtein("ha", "hb")
    return (
        cand.filter(dist <= 4)
        .select("a", "b", dist.cast("long").alias("dist"))
    )


def _grams_sql(src: str, n: int) -> str:
    """DuckDB CTE fragment `grams(doc_id, g)` — DISTINCT word n-grams
    over any (doc_id, text) relation; docs shorter than n tokens emit
    nothing."""
    return f"""
    arrs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM {src}),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(arr) - {n - 2}),
                    k -> array_to_string(list_slice(arr, k, k + {n - 1}), ' ')))
               AS g
      FROM arrs WHERE len(arr) >= {n})
"""


def _grams_from(docs, n: int):
    """(doc_id, g) DISTINCT word n-grams from a (doc_id, text) DF."""
    arrs = docs.select("doc_id", F.split("text", " ").alias("arr")).filter(
        F.size("arr") >= n
    )
    grams = word_ngrams("arr", n)
    return arrs.select("doc_id", F.explode(grams).alias("g")).distinct()


@q(
    f"""
    WITH {_grams_sql("documents", 8)},
    gh AS (SELECT DISTINCT doc_id, substr(md5(g), 1, 8) AS g FROM grams),
    gdf AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM gh GROUP BY g),
    per AS (
      SELECT gh.doc_id,
             COUNT(*) AS total,
             SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS dup
      FROM gh JOIN gdf USING (g) GROUP BY gh.doc_id)
    SELECT doc_id, CAST(total AS BIGINT) AS n_grams,
           CAST(dup AS BIGINT) AS dup_grams,
           ROUND(dup * 1.0 / total, 4) AS dup_frac
    FROM per
    """,
)
def q_dedup_substring(spark, sf_dir):
    """Cross-document duplicated-substring signal (the ExactSubstr-dedup
    family, Lee et al. "Deduplicating Training Data Makes Language
    Models Better"): per document, the fraction of its distinct 8-grams
    that also occur in ANOTHER document — high values flag boilerplate
    mirrored across the corpus (the within-doc analogue is
    q_doc_repetition). Plan: grams are HASHED to 8-hex-char ids before
    the shuffle (the gram table is ≈ n_tokens rows at 100 TB; 8-byte
    keys instead of ~50-byte strings cut the document-frequency
    exchange ~6×; 32-bit collision noise on the dup fraction is
    ~|grams|²/2³³ — a handful of grams corpus-wide), then one groupBy(g)
    document-frequency shuffle, join back keyed by the gram id, and a
    groupBy(doc_id) rollup. A true suffix-array ExactSubstr is a
    different (offline) algorithm this signal approximates."""
    grams = _grams_from(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), 8
    )
    gh = _persist(
        grams.select(
            "doc_id", F.substring(F.md5(F.encode("g", "UTF-8")), 1, 8).alias("g")
        ).distinct()
    )
    gdf = gh.groupBy("g").agg(F.count_distinct("doc_id").alias("nd"))
    per = (
        gh.join(gdf, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("dup"),
        )
    )
    return per.select(
        "doc_id",
        F.col("total").cast("long").alias("n_grams"),
        F.col("dup").cast("long").alias("dup_grams"),
        F.round(F.col("dup") / F.col("total"), 4).alias("dup_frac"),
    )


@q(
    """
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    posg AS (
      SELECT doc_id,
             unnest(range(1, len(arr) - 6)) AS k,
             unnest(list_transform(range(1, len(arr) - 6),
                    k -> md5(array_to_string(list_slice(arr, k, k + 7), ' '))))
               AS gh
      FROM arrs WHERE len(arr) >= 8),
    owner AS (SELECT gh, MIN(doc_id) AS owner FROM posg GROUP BY gh),
    dup AS (
      SELECT p.doc_id, p.k FROM posg p JOIN owner USING (gh)
      WHERE owner.owner < p.doc_id),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(k, k + 8)) AS p FROM dup),
    tokens AS (
      SELECT doc_id, generate_subscripts(arr, 1) AS p, unnest(arr) AS w
      FROM arrs),
    joined AS (
      SELECT t.doc_id, t.p, t.w, c.p AS cp FROM tokens t
      LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.p)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(cp) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(list(w ORDER BY p)
                                        FILTER (WHERE cp IS NULL), ' '),
                        '')) AS clean_md5
    FROM joined GROUP BY doc_id
    """,
)
def q_dedup_substring_removed(spark, sf_dir):
    """Cross-document duplicated-substring REMOVAL (VERDICT r03 #1 —
    the transform a pretraining pipeline actually ships, vs the
    q_dedup_substring flag): token spans covered by any 8-gram that
    FIRST occurred in a lower-id document are excised; the owner doc
    (corpus-minimum doc_id per gram) keeps all its occurrences, every
    later doc loses them. This is the distributed approximation of
    ExactSubstr dedup (Lee et al.) on word 8-grams. Plan: positional
    grams are md5-hashed map-side; one groupBy(gh) finds each gram's
    owner (map-side-combining MIN); the gh-keyed join back keeps only
    duplicated starts (tiny vs corpus — AQE skew-split covers
    boilerplate-hot grams); dup starts aggregate to a per-doc array;
    the excision itself is ROW-LOCAL (indexed HOF filter over the
    token array, like q_dedup_lines_within) — no token-level shuffle,
    no reassembly exchange. Output hash-checks the cleaned BYTES via
    md5, not just counts."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    arrs = docs.select("doc_id", F.split("text", " ").alias("arr"))
    joined, kept = dup_substring_excised(arrs)
    return joined.select(
        "doc_id",
        F.size("arr").cast("long").alias("n_tokens"),
        (F.size("arr") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.encode(F.concat_ws(" ", kept), "UTF-8")).alias("clean_md5"),
    )


#: word n-gram length of the duplicated-substring span rule
_SPAN_N = 8


def dup_substring_excised(arrs):
    """(joined, kept): the cross-doc duplicated-substring excision
    plan over any (doc_id, arr, …) DF — owner = corpus-min doc_id per
    gram, duplicated starts per doc, row-local indexed HOF excision.
    Returns the arrs⋈starts DF (all arrs columns preserved) plus the
    `kept` column expression (the excised token array). The SINGLE
    implementation behind q_dedup_substring_removed and
    jobs/pretrain_prep.remove_dup_substrings — the _pagerank sharing
    pattern, so a future change to the span rule cannot diverge the
    two call sites."""
    posg = (
        arrs.filter(F.size("arr") >= _SPAN_N)
        .select(
            "doc_id",
            F.posexplode(
                word_ngrams(
                    "arr", _SPAN_N, lambda g: F.md5(F.encode(g, "UTF-8"))
                )
            ),
        )
        .select("doc_id", (F.col("pos") + 1).alias("k"), F.col("col").alias("gh"))
    )
    owner = posg.groupBy("gh").agg(F.min("doc_id").alias("owner"))
    dup = (
        posg.join(owner, "gh")
        .filter(F.col("owner") < F.col("doc_id"))
        .select("doc_id", "k")
    )
    starts = dup.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("k")).alias("starts")
    )
    st = F.coalesce("starts", F.array().cast("array<int>"))
    kept = F.filter(
        F.col("arr"),
        lambda w, i: ~F.exists(
            st, lambda s: (s <= i + 1) & (i + 1 <= s + (_SPAN_N - 1))
        ),
    )
    return arrs.join(starts, "doc_id", "left"), kept


@q(
    """
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    lined AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(arr) / 10.0) AS BIGINT)),
                 k -> array_to_string(
                      list_slice(arr, k * 10 + 1, k * 10 + 10), ' '))
               AS lines
      FROM arrs),
    cleaned AS (
      SELECT doc_id, len(lines) AS n_lines,
             list_filter(lines,
                 (x, i) -> list_position(lines, x) = i) AS kept
      FROM lined)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_lines - len(kept) AS BIGINT) AS n_removed,
           md5(array_to_string(kept, chr(10))) AS cleaned_md5
    FROM cleaned
    """,
)
def q_dedup_lines_within(spark, sf_dir):
    """Within-document repeated-line REMOVAL (the cleanup action behind
    Gopher's dup-line signal — q_doc_repetition_ngrams measures it,
    this transform fixes it): keep only the first occurrence of each
    line (10-token pseudo-lines on this newline-free corpus, same
    deviation D-14), emit the removal count and the md5 of the cleaned
    text so both engines prove byte-identical output. Entirely
    row-local higher-order functions (filter by first list_position) —
    zero shuffle, rides the scan at any corpus size."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    n_lines_expr = F.ceil(F.size("arr") / F.lit(10.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines_expr - 1),
        lambda k: F.concat_ws(" ", F.slice("arr", k * 10 + 1, F.lit(10))),
    )
    return _first_lines_kept(docs.select("doc_id", lines.alias("lines")))


def _first_lines_kept(lined):
    """(doc_id, n_lines, n_removed, cleaned_md5) of a (doc_id, lines)
    table: each doc keeps the first occurrence of every line, and the
    md5 is over the kept lines joined by newlines. The row-local rule
    of q_dedup_lines_within and q_dedup_lines_within_ml."""
    kept = F.filter(
        F.col("lines"),
        lambda x, i: F.array_position(F.col("lines"), x) == i + 1,
    )
    return lined.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        (F.size("lines") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.encode(F.array_join(kept, "\n"), "UTF-8")).alias(
            "cleaned_md5"
        ),
    )


_WINNOW_K = 4  # k-gram size
_WINNOW_W = 5  # winnowing window (guarantee: any match ≥ w+k-1 tokens shares a fingerprint)


@q(
    f"""
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      WHERE len(string_split(text, ' ')) >= {_WINNOW_K + _WINNOW_W - 1}),
    grams AS (
      SELECT doc_id, i,
             substr(md5(array_to_string(
                    list_slice(arr, i, i + {_WINNOW_K - 1}), ' ')), 1, 8) AS h
      FROM (SELECT doc_id, arr,
                   unnest(range(1, len(arr) - {_WINNOW_K - 2})) AS i
            FROM arrs)),
    stats AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    sel AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT g.doc_id, g.i, s.n,
               MIN(h) OVER (PARTITION BY g.doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW
                            AND {_WINNOW_W - 1} FOLLOWING) AS fp
        FROM grams g JOIN stats s ON s.doc_id = g.doc_id)
      WHERE i <= n - {_WINNOW_W - 1})
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           MIN(fp) AS min_fp, MAX(fp) AS max_fp
    FROM sel GROUP BY doc_id
    """,
)
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): hash every 4-gram, slide a 5-hash window, keep each
    window's minimum — the selected set is position-robust and
    guarantees any shared run of ≥ w+k-1 tokens yields a shared
    fingerprint (the local-similarity dedup family, between exact-hash
    q_fingerprint and set-based MinHash). Variant note: ties select the
    lexicographic min (not MOSS's rightmost) so both engines agree.
    Plan: one doc_id-keyed sort window over the gram stream + distinct
    + per-doc rollup — every exchange keyed by doc_id."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("arr"))
        .filter(F.size("arr") >= _WINNOW_K + _WINNOW_W - 1)
    )
    grams_arr = word_ngrams(
        "arr",
        _WINNOW_K,
        lambda g: F.substring(F.md5(F.encode(g, "UTF-8")), 1, 8),
    )
    grams = docs.select("doc_id", F.posexplode(grams_arr)).withColumnsRenamed(
        {"pos": "i0", "col": "h"}
    )
    w_cnt = Window.partitionBy("doc_id")
    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("i0")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    sel = (
        grams.withColumn("n", F.count("*").over(w_cnt))
        .withColumn("fp", F.min("h").over(w_min))
        .filter(F.col("i0") <= F.col("n") - _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


#: the corpus text made genuinely newline-bearing: kept verbatim when
#: it already contains newlines, else deterministically wrapped into
#: 8-token lines. Downstream line ops then run the REAL
#: split(text, '\n') path either way.
_ML_TEXT_SQL = """
      CASE WHEN contains(text, chr(10)) THEN text
           ELSE array_to_string(
             list_transform(
               range(0, greatest(CAST(ceil(
                 len(string_split(text, ' ')) / 8.0) AS BIGINT), 1)),
               k -> array_to_string(
                 list_slice(string_split(text, ' '),
                            k * 8 + 1, k * 8 + 8), ' ')),
             chr(10))
      END"""


def _ml_text_col():
    words = F.split("text", " ")
    nlines = F.greatest(
        F.ceil(F.size(words) / F.lit(8.0)).cast("bigint"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0).cast("bigint"), nlines - 1),
        lambda k: F.array_join(
            F.slice(words, (k * 8 + 1).cast("int"), 8), " "
        ),
    )
    return F.when(F.col("text").contains("\n"), F.col("text")).otherwise(
        F.array_join(lines, "\n")
    )


@q(
    f"""
    WITH ml AS (
      SELECT doc_id, string_split({_ML_TEXT_SQL}, chr(10)) AS lines
      FROM documents),
    cleaned AS (
      SELECT doc_id, len(lines) AS n_lines,
             list_filter(lines,
                 (x, i) -> list_position(lines, x) = i) AS kept
      FROM ml)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_lines - len(kept) AS BIGINT) AS n_removed,
           md5(array_to_string(kept, chr(10))) AS cleaned_md5
    FROM cleaned
    """,
)
def q_dedup_lines_within_ml(spark, sf_dir):
    """Within-doc repeated-LINE removal on real newline semantics
    (closes DEVIATIONS D-14): lines come from split(text, '\\n') —
    genuinely newline-bearing docs are split verbatim; the
    single-line synthetic corpus is first deterministically wrapped
    into 8-token lines so both engines see the same multiline text.
    Keep-first-occurrence via a row-local indexed HOF filter (the
    q_dedup_lines_within shape) — zero shuffle, cleaned-bytes md5
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    return _first_lines_kept(
        docs.select("doc_id", F.split(_ml_text_col(), "\n").alias("lines"))
    )


@q(
    f"""
    WITH ml AS (
      SELECT doc_id, string_split({_ML_TEXT_SQL}, chr(10)) AS lines
      FROM documents)
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
             AS n_dup_lines,
           ROUND((len(lines) - len(list_distinct(lines)))
                 * 1.0 / len(lines), 4) AS dup_line_frac
    FROM ml
    """,
)
def q_doc_repetition_lines_ml(spark, sf_dir):
    """Per-doc duplicated-LINE fraction over real newline lines (the
    Gopher/C4 dup_line_frac signal on split(text, '\\n') — DEVIATIONS
    D-14 closed). Entirely ROW-LOCAL (array_distinct inside the row),
    zero Exchange: at 100 TB this is a pure map over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id", F.split(_ml_text_col(), "\n").alias("lines")
    )
    ndup = F.size("lines") - F.size(F.array_distinct("lines"))
    return lined.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        ndup.cast("long").alias("n_dup_lines"),
        F.round(ndup * F.lit(1.0) / F.size("lines"), 4).alias(
            "dup_line_frac"
        ),
    )


def line_owner_flags_from(docs):
    """(doc_id, li, line, kept): every line of every doc of ``docs``
    (doc_id, text), flagged kept when this occurrence is the line's
    corpus-wide owner — the lexicographically first (doc_id, li). Line
    keys are md5'd map-side, one combining groupBy(h) MIN finds each
    owner, one h-keyed join flags the occurrences. The owner key is a
    STRUCT min (field-by-field ordering), so any 63-bit doc_id works
    with no arithmetic overflow."""
    lx = (
        docs.select("doc_id", F.posexplode(F.split(_ml_text_col(), "\n")))
        .withColumnsRenamed({"pos": "li0", "col": "line"})
        .select(
            "doc_id",
            (F.col("li0") + 1).alias("li"),
            "line",
            F.md5(F.encode("line", "UTF-8")).alias("h"),
        )
        .withColumn("k", F.struct("doc_id", "li"))
    )
    own = lx.groupBy("h").agg(F.min("k").alias("ok"))
    return lx.join(own, "h").select(
        "doc_id", "li", "line", (F.col("k") == F.col("ok")).alias("kept")
    )


@q(
    f"""
    WITH ml AS (
      SELECT doc_id, string_split({_ML_TEXT_SQL}, chr(10)) AS lines
      FROM documents),
    lx AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS li,
             unnest(lines) AS line
      FROM ml),
    lh AS (SELECT doc_id, li, line, md5(line) AS h,
                  (doc_id, li) AS k FROM lx),
    own AS (SELECT h, MIN(k) AS ok FROM lh GROUP BY h),
    flagged AS (
      SELECT lh.doc_id, lh.li, lh.line, lh.k = own.ok AS kept
      FROM lh JOIN own USING (h))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           md5(COALESCE(array_to_string(
                 list(line ORDER BY li) FILTER (WHERE kept), chr(10)),
               '')) AS clean_md5
    FROM flagged GROUP BY doc_id
    """,
)
def q_dedup_lines_global(spark, sf_dir):
    """CROSS-document line-level dedup with removal (the C4 rule:
    every line/paragraph is kept exactly once corpus-wide; later
    occurrences — in other docs or further down the same doc — are
    excised). Owner = lexicographically first (doc_id, line_idx).
    Plan: lines are md5-hashed map-side (fixed-size shuffle keys, the
    q_dedup_substring trick), one map-side-combining groupBy(h) MIN
    finds each line's owner, one h-keyed join flags occurrences, one
    doc rollup reconstructs the cleaned text in line order.
    Boilerplate-hot lines skew the h key at 100 TB — AQE skew-split
    covers the join, and the owner agg combines map-side by
    construction."""
    flagged = line_owner_flags_from(_t(spark, sf_dir, "documents"))
    kept_lines = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("kept"), F.struct("li", "line"))
            )
        ),
        lambda s: s["line"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1))
        .cast("long")
        .alias("n_removed"),
        F.md5(F.encode(F.array_join(kept_lines, "\n"), "UTF-8")).alias(
            "clean_md5"
        ),
    )


@q(
    f"""
    WITH RECURSIVE {_VERIFIED_PAIRS_SQL},
    edges AS (SELECT a, b FROM vpairs UNION SELECT b, a FROM vpairs),
    walk(node, reach) AS (
      SELECT a AS node, a AS reach FROM edges
      UNION
      SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a),
    reps AS (SELECT node, MIN(reach) AS rep FROM walk GROUP BY node),
    quality AS (
      SELECT r.node, r.rep, d.n_chars
      FROM reps r JOIN documents d ON d.doc_id = r.node)
    SELECT node AS doc_id, rep,
           CAST(COUNT(*) OVER (PARTITION BY rep) AS BIGINT)
             AS component_size,
           FIRST_VALUE(node) OVER (
             PARTITION BY rep ORDER BY n_chars DESC, node) AS keeper,
           node = FIRST_VALUE(node) OVER (
             PARTITION BY rep ORDER BY n_chars DESC, node) AS kept
    FROM quality
    """,
)
def q_dedup_clusters_best(spark, sf_dir):
    """Quality-keeper dedup clustering: same near-dup connected
    components as q_dedup_clusters, but the survivor per cluster is
    the HIGHEST-QUALITY member (largest n_chars, doc_id tie-break) —
    the rule production dedup actually ships, since the earliest-id
    doc is often the worst-extracted copy. One doc-keyed join of the
    component labels against the documents table plus one
    rep-partitioned window; components are near-dup clusters, so the
    window partitions are tiny by construction (no skew risk)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    edges = _verified_pairs_df(spark, sf_dir).select("a", "b")
    labels = _connected_components(spark, edges)
    q_ = labels.join(
        docs, labels["node"] == docs["doc_id"]
    ).select("node", F.col("label").alias("rep"), "n_chars")
    w_sz = Window.partitionBy("rep")
    w_best = (
        Window.partitionBy("rep")
        .orderBy(F.desc("n_chars"), F.asc("node"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keeper = F.first("node").over(w_best)
    return q_.select(
        F.col("node").alias("doc_id"),
        "rep",
        F.count("*").over(w_sz).cast("long").alias("component_size"),
        keeper.alias("keeper"),
        (F.col("node") == keeper).alias("kept"),
    )


@q(
    f"""
    WITH {_SHINGLES_SQL},
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    pres AS (
      SELECT DISTINCT LEAST(9, s.doc_id * 10 // mx.m) AS batch, s.sh
      FROM shingles s CROSS JOIN mx),
    fst AS (SELECT sh, MIN(batch) AS fb FROM pres GROUP BY sh),
    per AS (
      SELECT pres.batch,
             CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
             CAST(SUM(CASE WHEN fst.fb = pres.batch THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_shingles
      FROM pres JOIN fst USING (sh) GROUP BY pres.batch)
    SELECT batch, distinct_shingles, new_shingles,
           ROUND(new_shingles * 1.0 / distinct_shingles, 4) AS novelty_rate,
           CAST(SUM(new_shingles) OVER (ORDER BY batch) AS BIGINT)
             AS cum_distinct
    FROM per
    """,
)
def q_novelty_curve(spark, sf_dir):
    """Marginal-novelty curve: split the crawl into 10 equal doc-id
    batches (crawl order) and measure, per batch, how many distinct
    3-gram shingles are NEW (first seen in that batch) vs merely
    present — the diminishing-returns curve that answers "is crawling
    MORE of this source still buying new data?" (the data-constrained
    regime's first question, and the aggregate twin of
    q_dedup_incremental's per-doc admission). novelty_rate falling
    toward 0 means additional crawl re-treads existing text.

    Plan/scale: shingle explode (the same unit MinHash uses) → ONE
    distinct over (batch, sh) → shingle-keyed MIN(batch) combining agg
    → 10-key rollup; the final cumulative sum is a window over the
    TEN-row curve (explicitly bounded — batch count is a constant,
    never corpus-sized). Every corpus-sized exchange is shingle- or
    (batch, shingle)-keyed, flat under Zipf skew because the key
    includes the shingle text; the 1-row max-id broadcast pins batch
    boundaries without a sort."""
    docs = _t(spark, sf_dir, "documents")
    sh = _shingles_from(docs)
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    pres = (
        sh.crossJoin(F.broadcast(mx))
        .select(
            F.expr("least(9, doc_id * 10 div m)").alias("batch"), "sh"
        )
        .distinct()
    )
    pres = _persist(pres)
    fst = pres.groupBy("sh").agg(F.min("batch").alias("fb"))
    per = (
        pres.join(fst, "sh")
        .groupBy("batch")
        .agg(
            F.count("*").cast("long").alias("distinct_shingles"),
            F.sum((F.col("fb") == F.col("batch")).cast("int"))
            .cast("long")
            .alias("new_shingles"),
        )
    )
    w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 10-row curve: the global window is constant-sized by design
    return per.select(
        "batch",
        "distinct_shingles",
        "new_shingles",
        F.round(
            F.col("new_shingles") * F.lit(1.0) / F.col("distinct_shingles"),
            4,
        ).alias("novelty_rate"),
        F.sum("new_shingles").over(w).cast("long").alias("cum_distinct"),
    )


@q(
    f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_BANDS_SQL},
    bsz AS (
      SELECT band, band_sig, CAST(COUNT(*) AS BIGINT) AS k
      FROM bands GROUP BY band, band_sig),
    cls AS (
      SELECT CAST(length(bin(k)) - 1 AS BIGINT) AS size_class, k,
             LEAST(k, {_MAX_BUCKET_IDS}) AS h
      FROM bsz)
    SELECT size_class,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k > {_MAX_BUCKET_IDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_capped,
           CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS pairs_uncapped,
           CAST(SUM(h * (h - 1) // 2 + (k - h)) AS BIGINT)
             AS pairs_emitted
    FROM cls GROUP BY size_class
    """,
)
def q_lsh_bucket_stats(spark, sf_dir):
    """Banding-skew audit of the MinHash-LSH candidate generator: the
    bucket-size distribution in power-of-two classes (size_class =
    ⌊log2 k⌋ via exact binary-string length — no float log), how many
    buckets exceed the degenerate-bucket cap, and the quadratic pair
    count the cap AVOIDED (pairs_uncapped = Σ k(k−1)/2) vs the linear
    per-bucket emission count (head pairs + star pairs). NOTE
    (ADVICE r07): pairs_emitted sums per-bucket counts BEFORE the
    generator's cross-band DISTINCT, so when the same pair co-occurs
    in several bands it is counted once per band here — read it as an
    upper bound on distinct candidate pairs, tight when band
    collisions are rare. This is the
    operational artifact you read before tuning _MAX_BUCKET_IDS or the
    band/row split: on a mostly-duplicate crawl the top class shows a
    single bucket whose uncapped pair count would dominate the whole
    job, and the emitted column proves the cap holds output linear.

    Plan/scale: the shared lean _minhash_minima + _lsh_bands pass (one
    groupBy(doc_id) with parallel min aggregates), then a COUNT-only
    groupBy(band, band_sig) — crucially NOT the collect_list bucket
    materialization the pair generator needs, so the audit runs on
    corpora whose largest bucket would not fit an executor — and a
    ≤64-key class rollup. All counts exact integers."""
    bands = _lsh_bands(_minhash_minima(_shingles_df(spark, sf_dir)))
    bsz = bands.groupBy("band", "band_sig").agg(
        F.count("*").cast("long").alias("k")
    )
    cls = bsz.select(
        (F.length(F.conv(F.col("k"), 10, 2)) - 1)
        .cast("long")
        .alias("size_class"),
        "k",
        F.least(F.col("k"), F.lit(_MAX_BUCKET_IDS)).alias("h"),
    )
    return cls.groupBy("size_class").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("k").cast("long").alias("n_docs"),
        F.sum((F.col("k") > _MAX_BUCKET_IDS).cast("int"))
        .cast("long")
        .alias("n_capped"),
        F.sum(F.expr("k * (k - 1) div 2")).cast("long").alias("pairs_uncapped"),
        F.sum(F.expr("h * (h - 1) div 2 + (k - h)"))
        .cast("long")
        .alias("pairs_emitted"),
    )


@q(
    f"""
    WITH {_MINHASH_CAND_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.a
      JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
      GROUP BY c.a, c.b)
    SELECT a, b, CAST(i AS BIGINT) AS n_shared,
           ROUND(i * 1.0 / (za.sz + zb.sz - i), 4) AS jaccard,
           ROUND(i * 1.0 / LEAST(za.sz, zb.sz), 4) AS containment,
           i * 10 >= LEAST(za.sz, zb.sz) * 9
             AND i * 5 < za.sz + zb.sz - i AS subset_only
    FROM inter
    JOIN sizes za ON za.doc_id = a
    JOIN sizes zb ON zb.doc_id = b
    WHERE i * 2 >= LEAST(za.sz, zb.sz)
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric-containment near-dup detection: for the SAME capped
    MinHash-LSH candidate pairs the Jaccard verifier walks, compute
    containment = |A∩B| / min(|A|,|B|) — the fraction of the SMALLER
    document's shingles inside the larger. This is the dedup signal
    symmetric Jaccard structurally misses: a short article pasted into
    a long aggregator page (quote-wrap, boilerplate-wrap, syndication
    with added chrome) has containment ≈ 1 while Jaccard ≈ |A|/|B| —
    arbitrarily low — so a Jaccard-thresholded pipeline keeps both
    copies. `subset_only` flags exactly those pairs (containment ≥ 0.9
    yet Jaccard < 0.2, BOTH as exact integer cross-multiplications —
    10·i ≥ 9·min, 5·i < union — no float threshold edge), the rows a
    containment-aware curation removes on top of q_dedup_lsh_verified.
    Emitted universe: candidates with containment ≥ 1/2 (2·i ≥ min).

    Plan/scale: identical shape to q_dedup_lsh_verified — banded+capped
    candidate generation (linear in corpus size), intersection counted
    ONLY for candidate pairs via two candidate-keyed equi-joins, then
    two size-table joins; no new corpus-sized exchange. One LSH caveat
    inherited by design and documented here: banding probability is
    driven by the Jaccard similarity, so a tiny-doc-in-huge-doc pair
    with near-zero Jaccard may never share a band — at scale the
    recall path for those is the ExactSubstr family
    (q_dedup_substring), while this query catches the
    moderate-asymmetry regime the bands do surface."""
    prof = _doc_profiles_from(_shingles_df(spark, sf_dir))
    inter = _pair_intersections(prof)
    mn = F.least("sza", "szb")
    uni = _pair_union()
    return (
        inter.filter(F.col("i") * 2 >= mn)
        .select(
            "a",
            "b",
            F.col("i").cast("long").alias("n_shared"),
            F.round(_jaccard(), 4).alias("jaccard"),
            F.round(F.col("i") / mn, 4).alias("containment"),
            (
                (F.col("i") * 10 >= mn * 9) & (F.col("i") * 5 < uni)
            ).alias("subset_only"),
        )
    )


@q(
    f"""
    WITH {_SHINGLES_SQL},
    ds AS (
      SELECT DISTINCT d.source, s.sh
      FROM shingles s JOIN documents d USING (doc_id)),
    ns AS (SELECT sh, COUNT(*) AS n_src FROM ds GROUP BY sh)
    SELECT ds.source,
           CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
           CAST(SUM(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS exclusive_shingles,
           ROUND(SUM(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS exclusivity_rate
    FROM ds JOIN ns USING (sh)
    GROUP BY ds.source
    """,
)
def q_source_novelty(spark, sf_dir):
    """Per-source marginal novelty — the crawl-budget allocator's view
    of q_novelty_curve's time axis: for each source, how many of its
    distinct 3-gram shingles appear in NO other source
    (exclusive_shingles) vs merely appear (distinct_shingles). A
    source whose exclusivity_rate has collapsed toward 0 is re-serving
    text the rest of the crawl already has (syndication mirror, feed
    aggregator) and its crawl budget should move to high-exclusivity
    sources — the per-source answer to "crawl MORE of what?", where
    q_novelty_curve only answers "crawl more AT ALL?".

    Plan/scale: shingle explode → ONE distinct over (source, sh) —
    the same reduction novelty's (batch, sh) pass runs — then a
    shingle-keyed combining source-count agg and a |sources|-key
    rollup. Every corpus-sized exchange carries the shingle text in
    its key, so Zipf-skewed shingle frequency lands in the combining
    aggregates, not a hot partition; the ds table is persisted once
    and feeds both its consumers."""
    docs = _t(spark, sf_dir, "documents")
    sh = _shingles_from(docs)
    ds = _persist(
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "sh")
        .distinct()
    )
    ns = ds.groupBy("sh").agg(F.count("*").alias("n_src"))
    excl = F.sum((F.col("n_src") == 1).cast("int"))
    return (
        ds.join(ns, "sh")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("distinct_shingles"),
            excl.cast("long").alias("exclusive_shingles"),
            F.round(excl * F.lit(1.0) / F.count("*"), 4).alias(
                "exclusivity_rate"
            ),
        )
    )


@q(
    f"""
    WITH RECURSIVE {_VERIFIED_PAIRS_SQL},
    edges AS (SELECT a, b FROM vpairs UNION SELECT b, a FROM vpairs),
    walk(node, reach) AS (
      SELECT a AS node, a AS reach FROM edges
      UNION
      SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a),
    reps AS (SELECT node, MIN(reach) AS rep FROM walk GROUP BY node),
    mem AS (
      SELECT r.rep, r.node, d.source, d.lang
      FROM reps r JOIN documents d ON d.doc_id = r.node),
    sc AS (
      SELECT rep, source, COUNT(*) AS c FROM mem GROUP BY rep, source),
    dom AS (
      SELECT rep, source AS dom_source, c AS dom_n FROM (
        SELECT rep, source, c,
               ROW_NUMBER() OVER (PARTITION BY rep
                                  ORDER BY c DESC, source) AS rn
        FROM sc) WHERE rn = 1),
    agg AS (
      SELECT rep,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM mem GROUP BY rep)
    SELECT agg.rep, n_members, n_sources, n_langs,
           dom.dom_source,
           ROUND(dom.dom_n * 1.0 / n_members, 4) AS dom_share,
           n_sources >= 3 AS syndication_suspect
    FROM agg JOIN dom USING (rep)
    """,
)
def q_cluster_homogeneity(spark, sf_dir):
    """Near-dup cluster homogeneity audit: for every dedup cluster
    q_dedup_clusters would collapse, how many distinct sources and
    languages its members span, the dominant source and its share.
    The curation read: a WITHIN-source cluster is an ordinary re-post
    (dedup freely), while a cluster spanning ≥3 sources
    (syndication_suspect) is either wire-service syndication — where
    dedup should keep the ORIGINATING copy, not an arbitrary minimum
    — or shared template boilerplate that per-doc dedup should leave
    to the line-level rules (q_dedup_lines_global) instead of
    deleting whole near-identical-chrome pages. Cross-LANG clusters
    flag machine translation (the q_host_lang_entropy signal at
    cluster grain).

    Plan/scale: members = the CC label table joined to doc metadata
    (doc-keyed equi-join); then one (rep, source) combining rollup,
    a top-1 window whose partitions are each cluster's DISTINCT-
    source count rows (already reduced — a 10^6-member boilerplate
    cluster contributes its distinct sources once each, sorted in
    one task, linear not quadratic), and a rep-keyed rollup + join.
    Everything upstream (capped candidates → verify → star CC) is
    the production dedup path reused verbatim."""
    edges = _verified_pairs_df(spark, sf_dir).select("a", "b")
    labels = _connected_components(spark, edges)
    docs = _t(spark, sf_dir, "documents")
    mem = _persist(
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("rep"))
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
    )
    sc = mem.groupBy("rep", "source").agg(F.count("*").alias("c"))
    w = Window.partitionBy("rep").orderBy(F.desc("c"), F.asc("source"))
    dom = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("rep", F.col("source").alias("dom_source"), F.col("c").alias("dom_n"))
    )
    agg = mem.groupBy("rep").agg(
        F.count("*").cast("long").alias("n_members"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    return agg.join(dom, "rep").select(
        "rep",
        "n_members",
        "n_sources",
        "n_langs",
        "dom_source",
        F.round(F.col("dom_n") * F.lit(1.0) / F.col("n_members"), 4).alias(
            "dom_share"
        ),
        (F.col("n_sources") >= 3).alias("syndication_suspect"),
    )


@q(
    f"""
    WITH {_MINHASH_CAND_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.a
      JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
      GROUP BY c.a, c.b),
    comp AS (
      SELECT c.a, c.b,
             CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS est_m
      FROM cand c
      JOIN hashes ha ON ha.doc_id = c.a
      JOIN hashes hb ON hb.doc_id = c.b AND hb.i = ha.i
      GROUP BY c.a, c.b),
    pj AS (
      SELECT comp.est_m,
             CAST(ROUND(COALESCE(n.i, 0) * 1000000.0
                        / (za.sz + zb.sz - COALESCE(n.i, 0)))
                  AS BIGINT) AS jac_micro
      FROM comp
      LEFT JOIN inter n ON n.a = comp.a AND n.b = comp.b
      JOIN sizes za ON za.doc_id = comp.a
      JOIN sizes zb ON zb.doc_id = comp.b)
    SELECT est_m,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(est_m * 125000 / 1000000.0, 4) AS est_jaccard,
           ROUND(SUM(jac_micro) * 1.0 / COUNT(*) / 1000000.0, 4)
             AS mean_jaccard,
           ROUND(SUM(ABS(est_m * 125000 - jac_micro)) * 1.0
                 / COUNT(*) / 1000000.0, 4) AS mae
    FROM pj GROUP BY est_m
    """,
)
def q_minhash_calibration(spark, sf_dir):
    """MinHash-estimator calibration: for every capped LSH candidate
    pair, compare the {_N_MINHASH}-component MinHash Jaccard ESTIMATE
    (matching components / {_N_MINHASH}) against the EXACT shingle
    Jaccard, bucketed by matching-component count — n_pairs, the
    estimate each bucket implies, the mean true Jaccard, and the mean
    absolute error. This is the audit that justifies the pipeline's
    core design split: with only {_N_MINHASH} components the
    estimator's per-pair σ ≈ √(J(1−J)/{_N_MINHASH}) ≈ 0.17 — far too
    noisy to THRESHOLD on — which is exactly why banding uses the
    sketch only to GENERATE candidates and q_dedup_lsh_verified
    recomputes exact Jaccard before any dedup decision. The numbers
    here (per-bucket MAE) make that precision budget a measured
    artifact instead of folklore, and re-gate it if a future sketch
    change (fewer components, cheaper hash) silently degrades the
    estimator the banding probabilities are derived from.

    Exactness: per-pair true Jaccard is micro-quantized via ONE
    correctly-rounded double division (the repo's fixed-point
    pattern), so per-bucket sums are exact BIGINTs and both engines
    hash identically — no float-summation order anywhere; est/8 in
    micro units is the exact integer est_m·125000.

    Plan/scale: reuses the shared verify core (_pair_intersections
    over the persisted per-doc profile — the same minima banding
    re-hexes), then ONE ≤{_N_MINHASH}+1-key combining rollup. No new
    corpus-sized exchange beyond the verify pass it audits."""
    # the verify core carries both sides' component minima: the
    # estimator only compares them for equality, so the longs never
    # need re-hexing; absent intersections surface as i=0 — the value
    # the oracle's COALESCE gives
    prof = _doc_profiles_from(_shingles_df(spark, sf_dir))
    est = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(_N_MINHASH)
    ).cast("long")
    pj = _pair_intersections(prof).select(
        est.alias("est_m"),
        F.round(F.col("i") * F.lit(1000000.0) / _pair_union())
        .cast("long")
        .alias("jac_micro"),
    )
    agg = pj.groupBy("est_m").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum("jac_micro") * F.lit(1.0) / F.count("*") / F.lit(1000000.0),
            4,
        ).alias("mean_jaccard"),
        F.round(
            F.sum(F.abs(F.col("est_m") * 125000 - F.col("jac_micro")))
            * F.lit(1.0)
            / F.count("*")
            / F.lit(1000000.0),
            4,
        ).alias("mae"),
    )
    return agg.select(
        "est_m",
        "n_pairs",
        F.round(F.col("est_m") * 125000 / F.lit(1000000.0), 4).alias(
            "est_jaccard"
        ),
        "mean_jaccard",
        "mae",
    )


def _pow2_expr(expr: str, n: int) -> str:
    """expr**n for power-of-two n via repeated squaring — a FIXED
    multiplication tree, so Spark and DuckDB evaluate the identical
    IEEE sequence (libm POWER could differ in the last ulp; chained
    multiplication cannot)."""
    out = expr
    while n > 1:
        out = f"({out} * {out})"
        n //= 2
    return out


#: candidate (bands, rows) factorizations of the _N_MINHASH-component
#: sketch, with the EXACT P=1/2 similarity threshold
#: s½ = (1 − 2^(−1/b))^(1/r) precomputed in Python and injected as a
#: literal into BOTH engines (no runtime root-taking anywhere).
_BAND_CONFIGS = [
    (b, _N_MINHASH // b, round((1 - 0.5 ** (1 / b)) ** (b / _N_MINHASH), 6))
    for b in (1, 2, 4, 8)
]


def _band_tuning_tail_sql() -> str:
    parts = []
    for b, r, s_half in _BAND_CONFIGS:
        catch = f"(1.0 - {_pow2_expr(f'(1.0 - {_pow2_expr(chr(115), r)})', b)})"
        cur = "TRUE" if b == _N_BANDS else "FALSE"
        parts.append(
            f"""SELECT CAST({b} AS BIGINT) AS bands,
               CAST({r} AS BIGINT) AS rows_per_band,
               CAST({s_half:.6f} AS DOUBLE) AS s_half,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(CAST(SUM(CAST(ROUND({catch} * 1000000.0) AS BIGINT))
                          AS BIGINT) * 1.0 / COUNT(*) / 1000000.0, 4)
                 AS mean_catch_prob,
               {cur} AS current
        FROM ps"""
        )
    return "\n    UNION ALL\n    ".join(parts)


@q(
    f"""
    WITH {_MINHASH_CAND_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.a
      JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
      GROUP BY c.a, c.b),
    pj AS (
      SELECT CAST(ROUND(COALESCE(n.i, 0) * 1000000.0
                        / (za.sz + zb.sz - COALESCE(n.i, 0)))
                  AS BIGINT) AS jac_micro
      FROM cand c
      LEFT JOIN inter n ON n.a = c.a AND n.b = c.b
      JOIN sizes za ON za.doc_id = c.a
      JOIN sizes zb ON zb.doc_id = c.b),
    ps AS (SELECT jac_micro / 1000000.0 AS s FROM pj)
    {_band_tuning_tail_sql()}
    """,
)
def q_minhash_band_tuning(spark, sf_dir):
    """Banding-parameter tuner: for every (bands, rows) factorization
    of the {_N_MINHASH}-component MinHash sketch, the S-curve catch
    probability P(s) = 1 − (1 − s^r)^b evaluated at the EXACT Jaccard
    of every observed capped-LSH candidate pair — the expected recall
    each configuration would deliver on THIS corpus's near-dup
    similarity profile — plus the exact P = ½ threshold
    s½ = (1 − 2^(−1/b))^(1/r). Read together with q_lsh_bucket_stats
    (skew side) and q_minhash_calibration (estimator-noise side),
    this is the knob-turning artifact for the banding split: move a
    config's mean_catch_prob and you know what a re-band buys BEFORE
    re-running dedup.

    Cross-engine determinism: the only non-integer inputs are
    s = jac_micro/10⁶ (an exact BIGINT divided by a constant) and the
    powers — computed by a FIXED repeated-squaring multiplication
    tree generated ONCE and interpolated into both engines' plans
    (`_pow2_expr`; libm pow could differ in the last ulp, chained
    multiplies cannot); per-pair P is micro-quantized before the sum.
    s½ is precomputed in Python and injected as the same literal into
    both. Plan/scale: the shared capped-candidate + exact-intersection
    core (the verify pass it tunes), then ONE pass over the pair
    table computing all four configs' micro sums in parallel
    aggregates — no per-config rescan, no new corpus-sized shuffle."""
    # the fused verify core already yields every capped candidate pair
    # with its exact intersection (i=0 for empty — the value the
    # oracle's LEFT JOIN + COALESCE produces) and both sizes in one pass
    prof = _doc_profiles_from(_shingles_df(spark, sf_dir))
    inter = _pair_intersections(prof)
    ps = inter.select(
        (
            F.round(F.col("i") * F.lit(1000000.0) / _pair_union()).cast("long")
            / F.lit(1000000.0)
        ).alias("s")
    )
    sums = [F.count("*").cast("long").alias("n_pairs")]
    for b, r, _ in _BAND_CONFIGS:
        catch = f"(1.0 - {_pow2_expr(f'(1.0 - {_pow2_expr(chr(115), r)})', b)})"
        sums.append(
            F.sum(
                F.expr(f"CAST(ROUND({catch} * 1000000.0) AS BIGINT)")
            )
            .cast("long")
            .alias(f"pm{b}")
        )
    one = ps.agg(*sums)
    rows = [
        F.struct(
            F.lit(b).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            F.lit(s_half).alias("s_half"),
            F.col("n_pairs"),
            F.round(
                F.col(f"pm{b}") * F.lit(1.0) / F.col("n_pairs") / F.lit(1000000.0),
                4,
            ).alias("mean_catch_prob"),
            F.lit(b == _N_BANDS).alias("current"),
        )
        for b, r, s_half in _BAND_CONFIGS
    ]
    return one.select(F.explode(F.array(*rows)).alias("c")).select("c.*")


@q(
    """
    WITH base AS (
      SELECT a.doc_id,
             CASE WHEN a.doc_id % 7 = 0 THEN a.text ELSE h.text END
               AS text
      FROM documents a
      JOIN documents h ON h.doc_id = a.doc_id - a.doc_id % 4
    ), arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM base
    ), toks AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos, arr[p] AS w,
             CASE WHEN p >= 4 AND p < len(arr)
                       AND substr(md5(array_to_string(arr[p-3:p], ' ')),
                                  1, 1) = '0'
                  THEN 1 ELSE 0 END AS b
      FROM arrs, UNNEST(generate_series(1, len(arr))) AS t(p)
    ), assigned AS (
      SELECT doc_id, pos, w,
             CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
      FROM toks
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_digest,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM assigned GROUP BY doc_id, chunk_id
    ), per_digest AS (
      SELECT chunk_digest,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(MIN(n_words) AS BIGINT) AS n_words
      FROM chunks GROUP BY chunk_digest
    )
    SELECT n_docs >= 2 AS is_reused,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(n_occ) AS BIGINT) AS n_occurrences,
           CAST(SUM(n_occ * n_words) AS BIGINT) AS token_mass,
           CAST(SUM((n_occ - 1) * n_words) AS BIGINT)
             AS dedup_savings_tokens
    FROM per_digest GROUP BY n_docs >= 2
    """,
)
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking audit — the rsync/FastCDC idea at
    word grain: chunk boundaries are declared wherever the rolling
    content fingerprint (md5 of the 4-gram ending at each position)
    lands in a 1/16 hex bucket, so INSERTIONS only reshape the chunks
    they touch — unlike fixed-size chunking, where one shifted word
    re-digests the whole tail. The audit then measures cross-document
    chunk reuse: distinct chunks, occurrences, token mass and the
    exact token savings chunk-level dedup would bank, split by
    reused-vs-unique. Synthesis plants reuse (non-solo docs share
    their doc_id DIV 4 family head's text; every-7th solo docs stay
    unique) so both classes fire.

    Plan/scale: boundaries are computed INSIDE array land (one
    transform over each doc's token array — no self-join, no carried
    duplicate array) and exploded once; chunk assignment is a per-doc
    lagged running sum (window bounded by document length, never
    corpus size); chunk digests are one (doc, chunk) aggregate whose
    string_agg state is bounded by the expected chunk size (16
    words); reuse is one digest-keyed aggregate — the same shuffle
    key exact dedup pays. At 10^12 docs: explode + three keyed
    exchanges, all bounded-state. The boundary fingerprint is md5 for
    CROSS-ENGINE determinism (the gate's requirement); a production
    run would swap in a polynomial rolling hash (one multiply-add per
    token instead of a digest over the re-materialized 4-gram) with
    identical boundary semantics — the plan shape does not change."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select("doc_id", "text")
    h = docs.select(
        F.col("doc_id").alias("hid"), F.col("text").alias("htext")
    )
    base = a.join(
        h, h.hid == a.doc_id - a.doc_id % 4
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.col("text"))
        .otherwise(F.col("htext"))
        .alias("text"),
    )
    # r9: chunking stays entirely in array land. A boundary at position
    # q (the oracle's b=1) starts a new chunk at q+1, so the chunk
    # start list is [1] ++ [q+1 for boundary q]; each chunk's digest is
    # md5 over the words between consecutive starts. This replaces the
    # per-token explode (corpus-token rows), the per-doc lagged-cumsum
    # window (an exchange + sort) and the (doc, chunk) collect_list
    # re-aggregate (another exchange) with row-local array transforms +
    # ONE explode of chunk rows — byte-identical digests, 3 fewer
    # corpus-sized exchanges.
    arr0 = F.split("text", " ")
    narr = F.size("arr")
    is_boundary = lambda p: (  # noqa: E731 — the oracle's b=1 rule
        (p >= 4)
        & (p < narr)
        & (
            F.substring(
                F.md5(
                    F.concat_ws(" ", F.slice("arr", p - 3, 4)).cast(
                        "binary"
                    )
                ),
                1,
                1,
            )
            == "0"
        )
    )
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(
            F.filter(
                F.sequence(F.lit(1), narr), lambda p: is_boundary(p)
            ),
            lambda q: q + 1,
        ),
    )
    base2 = base.select("doc_id", arr0.alias("arr")).select(
        "doc_id", "arr", starts.alias("st")
    )
    # chunk i spans [st[i], nxt-1] where nxt = st[i+1] (or n+1 at the
    # tail); F.get is 0-based and null-safe past the end (ANSI-safe)
    chunk_structs = F.transform(
        F.col("st"),
        lambda s, i: F.struct(
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "arr",
                        s,
                        F.coalesce(F.get("st", i + 1), narr + 1) - s,
                    ),
                ).cast("binary")
            ).alias("chunk_digest"),
            (F.coalesce(F.get("st", i + 1), narr + 1) - s)
            .cast("long")
            .alias("n_words"),
        ),
    )
    chunks = base2.select(
        "doc_id", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "c.chunk_digest", "c.n_words")
    per_digest = chunks.groupBy("chunk_digest").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_occ"),
        F.min("n_words").cast("long").alias("n_words"),
    )
    return per_digest.groupBy(
        (F.col("n_docs") >= 2).alias("is_reused")
    ).agg(
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.sum(F.col("n_occ") * F.col("n_words"))
        .cast("long")
        .alias("token_mass"),
        F.sum("n_occ").cast("long").alias("n_occurrences"),
        F.sum((F.col("n_occ") - 1) * F.col("n_words"))
        .cast("long")
        .alias("dedup_savings_tokens"),
    ).select(
        "is_reused",
        "n_distinct_chunks",
        "n_occurrences",
        "token_mass",
        "dedup_savings_tokens",
    )


@q(
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok WHERE w <> '' GROUP BY w),
    cells AS (
      SELECT i.i,
             CAST('0x' || substr(md5(w), i.i * 8 + 1, 8) AS BIGINT)
               % 64 AS cell,
             CAST(SUM(n) AS BIGINT) AS v
      FROM tf CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
      GROUP BY 1, 2),
    top AS (SELECT w, n FROM tf ORDER BY n DESC, w LIMIT 8),
    probe AS (
      SELECT t.w, t.n, MIN(c.v) AS est
      FROM top t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
      JOIN cells c
        ON c.i = i.i
       AND c.cell = CAST('0x' || substr(md5(t.w), i.i * 8 + 1, 8)
                         AS BIGINT) % 64
      GROUP BY t.w, t.n)
    SELECT w AS token, n AS exact_n,
           CAST(est AS BIGINT) AS cms_est,
           CAST(est - n AS BIGINT) AS overestimate
    FROM probe
    """,
)
def q_countmin_sketch(spark, sf_dir):
    """Count-min sketch audit — the fixed-memory heavy-hitter
    structure a streaming ingest keeps when the exact term table no
    longer fits (d=4 rows x w=64 counters here; the real deployment
    scales w, never the algebra): each row hashes every token into a
    counter via a DIGEST SLICE (8 hex chars of md5 per row — four
    independent 32-bit hashes from one digest, the repo's
    cross-engine hash idiom), a token's estimate is the MIN over its
    four cells, and the audit compares that estimate against exact
    counts for the top-8 heavy hitters. The estimate NEVER
    underestimates (each cell contains the token's own mass plus
    collisions) — the per-row overestimate column is the collision
    mass, the number a capacity planner reads to size w. Build-side
    trick: cells are summed from the AGGREGATED (token, n) table,
    not the raw token stream — mathematically identical to the
    streaming build (addition commutes) but the 4x fan-out touches
    only distinct tokens.

    Plan/scale: one hash aggregate on token (the only heavy
    exchange; map-side partials collapse the stream in the scan),
    then the 4-slot fan-out and 256-cell sketch are
    dimension-sized; the probe joins top-8 against the broadcast
    sketch."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        doc_tokens(docs)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n"))
    )

    def hash_i(col, i):
        return (
            F.conv(
                F.substring(F.md5(F.col(col).cast("binary")), i * 8 + 1, 8),
                16,
                10,
            ).cast("long")
            % 64
        )

    def slots(col):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), hash_i(col, i).alias("cell")
                    )
                    for i in range(4)
                ]
            )
        )

    cells = (
        tf.select("n", slots("w").alias("s"))
        .select("n", F.col("s.i").alias("i"), F.col("s.cell").alias("cell"))
        .groupBy("i", "cell")
        .agg(F.sum("n").cast("long").alias("v"))
    )
    top = tf.orderBy(F.col("n").desc(), "w").limit(8)
    probe = (
        top.select("w", "n", slots("w").alias("s"))
        .select("w", "n", F.col("s.i").alias("i"), F.col("s.cell").alias("cell"))
        .join(F.broadcast(cells), ["i", "cell"])
        .groupBy("w", "n")
        .agg(F.min("v").alias("est"))
    )
    return probe.select(
        F.col("w").alias("token"),
        F.col("n").alias("exact_n"),
        F.col("est").cast("long").alias("cms_est"),
        (F.col("est") - F.col("n")).cast("long").alias("overestimate"),
    )
