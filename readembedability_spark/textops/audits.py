"""Page-content audits over synthetic HTML: class censuses (_class_census)
for soft 404s, paywalls, crawl traps and image alt text, and the
entity, readability, license, code, tag, heading, tracker, title,
citation, social-card, encoding, truncation, date, parked-domain,
JSON-LD, resource-hint, AMP, DOM, rendering, hidden-text, CMS,
subresource-integrity and mixed-content checks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.queries import (
    _t,
    q,
)
from readembedability_spark.schemas import local_table
from readembedability_spark.text_signals import doc_tokens


_ENTITY_NAMES = (
    "Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace"
)
_ENTITY_CITIES = (
    "Paris", "Oslo", "Lima", "Quito", "Cairo", "Dakar",
    "Hanoi", "Kyoto", "Accra", "Bogota", "Tunis"
)


@q(
    """
    WITH names(nm, ni) AS (
      SELECT * FROM (VALUES
        ('Alice', 0), ('Bob', 1), ('Carol', 2), ('Dave', 3),
        ('Erin', 4), ('Frank', 5), ('Grace', 6)) t),
    cities(ct, ci) AS (
      SELECT * FROM (VALUES
        ('Paris', 0), ('Oslo', 1), ('Lima', 2), ('Quito', 3),
        ('Cairo', 4), ('Dakar', 5), ('Hanoi', 6), ('Kyoto', 7),
        ('Accra', 8), ('Bogota', 9), ('Tunis', 10)) t),
    d AS (
      SELECT doc_id, source,
             'The ' || n1.nm || ' report visited ' || c1.ct
             || ' and NASA . Later ' || n2.nm || ' slept .' AS txt
      FROM documents
      JOIN names n1 ON n1.ni = doc_id % 7
      JOIN names n2 ON n2.ni = (doc_id + 3) % 7
      JOIN cities c1 ON c1.ci = doc_id % 11),
    tok AS (
      SELECT doc_id, source, string_split(txt, ' ') AS toks FROM d),
    ent AS (
      SELECT doc_id, source, toks,
             list_filter(
               list_transform(toks, (t, i) -> CASE
                 WHEN regexp_matches(t, '^[A-Z][a-z]+$')
                      AND NOT regexp_matches(
                            CASE WHEN i = 1 THEN '.'
                                 ELSE toks[i - 1] END, '[.!?]$')
                 THEN t ELSE NULL END),
               x -> x IS NOT NULL) AS ents
      FROM tok),
    flat AS (
      SELECT source, unnest(ents) AS e FROM ent),
    base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
             CAST(SUM(len(ents)) AS BIGINT) AS n_entities
      FROM ent GROUP BY source),
    dist AS (
      SELECT source, CAST(COUNT(DISTINCT e) AS BIGINT)
               AS n_distinct_entities
      FROM flat GROUP BY source)
    SELECT base.source, n_docs, n_tokens, n_entities,
           CAST(n_entities * 1000000 // n_tokens AS BIGINT)
             AS entity_ppm,
           n_distinct_entities
    FROM base JOIN dist ON base.source = dist.source
    """,
)
def q_entity_density(spark, sf_dir):
    """Named-entity density audit (capitalization-proxy NER) — the
    cheap entity signal a curation pipeline uses to prefer
    information-dense documents before any model-based NER exists: a
    token counts as an entity mention iff it is Capitalized-with-
    lowercase-tail AND NOT sentence-initial (the previous token does
    not end a sentence — the classic trap that makes naive casing
    counters score 'The' and 'Later' as entities). The rule runs
    entirely in array land with a shifted-by-one comparison: the
    position-indexed lambda looks at token i-1 (sentinel '.' at the
    document start, so position 1 is sentence-initial by definition).
    The synthesis plants all four branches live per doc: true
    mid-sentence entities (names/cities), a sentence-initial
    capitalized decoy after '.', the document-initial 'The', and an
    all-caps 'NASA' the [A-Z][a-z]+ shape rejects. Per source: doc
    count, token/entity mass, density ppm, distinct entity strings.

    Plan/scale: tokenization + the entity rule are row-local (no lag
    window, no per-token explode for the rule itself); the ONLY
    explode is over the ~3 matched entities per doc for the DISTINCT
    count, then two source-keyed aggregates joined on the tiny source
    grain. At 100 TB: one corpus scan + two bounded-output exchanges."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    names = "array(%s)" % ", ".join(f"'{n}'" for n in _ENTITY_NAMES)
    cities = "array(%s)" % ", ".join(f"'{c}'" for c in _ENTITY_CITIES)
    txt = F.expr(
        f"concat('The ', element_at({names}, CAST(doc_id % 7 + 1 AS INT)),"
        f" ' report visited ',"
        f" element_at({cities}, CAST(doc_id % 11 + 1 AS INT)),"
        f" ' and NASA . Later ',"
        f" element_at({names}, CAST((doc_id + 3) % 7 + 1 AS INT)),"
        f" ' slept .')"
    )
    tok = docs.select(
        "source", F.split(txt, " ").alias("toks")
    )
    ent = tok.withColumn(
        "ents",
        F.expr(
            "filter(zip_with(toks,"
            " concat(array('.'), slice(toks, 1, size(toks) - 1)),"
            " (t, p) -> CASE WHEN t RLIKE '^[A-Z][a-z]+$'"
            "   AND NOT p RLIKE '[.!?]$' THEN t END),"
            " x -> x IS NOT NULL)"
        ),
    )
    base = ent.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.sum(F.size("ents")).cast("long").alias("n_entities"),
    )
    dist = (
        ent.select("source", F.explode("ents").alias("e"))
        .groupBy("source")
        .agg(F.countDistinct("e").cast("long").alias("n_distinct_entities"))
    )
    return base.join(dist, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_entities",
        F.expr("n_entities * 1000000 DIV n_tokens").alias("entity_ppm"),
        "n_distinct_entities",
    )


@q(
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    sylls AS (
      SELECT doc_id,
             GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))) AS s
      FROM toks WHERE w <> ''),
    d AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_mono,
             SUM(CASE WHEN s >= 3 THEN 1 ELSE 0 END) AS n_complex
      FROM sylls GROUP BY doc_id),
    g AS (
      SELECT doc_id, n_words, n_mono, n_complex,
             CAST(floor((20.0 - (15.0 * n_mono) / n_words) * 10000)
                  AS BIGINT) AS grade_q
      FROM d)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_mono AS BIGINT) AS n_mono,
           CAST(n_complex AS BIGINT) AS n_complex,
           grade_q,
           CASE WHEN grade_q >= 120000 THEN 'advanced'
                WHEN grade_q >= 90000 THEN 'standard'
                ELSE 'easy' END AS band
    FROM g
    """,
)
def q_readability(spark, sf_dir):
    """Readability grading (FORCAST) — the reading-level quality signal
    curation mixes alongside the Gopher rules (T-33): FORCAST is the
    one classic readability formula built for NON-PROSE text (forms,
    listings, web fragments) because it needs no sentence boundaries —
    grade = 20 - (monosyllabic words per 150) / 10, i.e.
    20 - 15*mono/words. Syllables are approximated as vowel-group
    runs ([aeiouy]+, floor 1 so vowelless tokens read as one
    syllable) — the standard heuristic within ~10% of dictionary
    syllabification on English web text. Per doc: word count,
    monosyllable count, complex-word count (>=3 syllable groups, the
    SMOG-side signal), the grade on a floor-quantized 1e4 integer
    lattice (the two integer counts enter one double expression of
    identical shape in both engines — floor of the identical IEEE
    result is exact, the q_embedding_drift lesson), and a grade band
    cut at real FORCAST grade levels 9/12 — all three bands live on
    the sf corpus (85/391/24 at sf0.01, probed).

    Plan/scale: split + per-token regexp count are row-local JVM
    built-ins inside whole-stage codegen; ONE map-side-combining
    groupBy(doc_id) (the explode fans out inside the scan task —
    partial aggregation collapses it back before the exchange); no
    joins, no windows, per-doc output inherits the agg partitioning.
    At 10^11 docs this is a single shuffle on the natural key."""
    docs = _t(spark, sf_dir, "documents")
    toks = doc_tokens(docs, "doc_id")
    sylls = toks.select(
        "doc_id",
        F.greatest(
            F.lit(1), F.regexp_count("w", F.lit("[aeiouy]+"))
        ).alias("s"),
    )
    d = sylls.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_mono"),
        F.sum(F.when(F.col("s") >= 3, 1).otherwise(0)).alias("n_complex"),
    )
    grade_q = F.floor(
        (
            F.lit(20.0)
            - (F.lit(15.0) * F.col("n_mono")) / F.col("n_words")
        )
        * F.lit(10000)
    ).cast("long")
    return d.withColumn("grade_q", grade_q).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_mono").cast("long").alias("n_mono"),
        F.col("n_complex").cast("long").alias("n_complex"),
        "grade_q",
        F.when(F.col("grade_q") >= 120000, "advanced")
        .when(F.col("grade_q") >= 90000, "standard")
        .otherwise("easy")
        .alias("band"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 53 AS host,
             CASE event_id % 11
               WHEN 0 THEN 'Licensed under CC BY-SA 4.0'
               WHEN 1 THEN 'This work is licensed under a Creative '
                 || 'Commons Attribution-ShareAlike 3.0 License'
               WHEN 2 THEN 'Content available under CC BY 4.0'
               WHEN 3 THEN 'licensed under the creative commons '
                 || 'attribution 4.0 international license'
               WHEN 4 THEN 'Copyright (c) 2024 Example Corp. '
                 || 'All Rights Reserved.'
               WHEN 5 THEN 'copyright 2023 example.com. all rights reserved'
               WHEN 6 THEN 'Released under the MIT License'
               WHEN 7 THEN 'Dedicated to the public domain under CC0 1.0'
               WHEN 8 THEN 'No known copyright restrictions '
                 || '(Public Domain Mark)'
               ELSE 'Contact us | Privacy | Terms'
             END AS footer
      FROM events),
    det AS (
      SELECT host,
             CASE
               WHEN regexp_matches(footer,
                    '(?i)cc by-sa|attribution-sharealike')
                 THEN 'cc-by-sa'
               WHEN regexp_matches(footer,
                    '(?i)cc by|creative commons attribution')
                 THEN 'cc-by'
               WHEN regexp_matches(footer, '(?i)cc0|public domain')
                 THEN 'public-domain'
               WHEN regexp_matches(footer, '(?i)all rights reserved')
                 THEN 'all-rights-reserved'
               WHEN regexp_matches(footer, '(?i)mit license') THEN 'mit'
               ELSE 'none' END AS license,
             CASE WHEN regexp_extract(footer, '([0-9]+\\.[0-9]+)', 1) = ''
                  THEN 'unversioned'
                  ELSE regexp_extract(footer, '([0-9]+\\.[0-9]+)', 1)
             END AS version
      FROM pages)
    SELECT license, version,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           license IN ('cc-by-sa', 'cc-by', 'public-domain', 'mit')
             AS redistributable
    FROM det GROUP BY license, version
    """,
)
def q_license_detect(spark, sf_dir):
    """License-phrase detection — the legal admission gate a
    training-data pipeline runs before any quality filter (only
    redistributable text can enter an open corpus): page footers
    (synthesized deterministically per event with NINE wordings so
    every class has >=2 surface forms, mixed-case variants exercising
    the (?i) matchers) are classified by a PRECEDENCE-ordered CASE —
    CC BY-SA strictly before CC BY (the SA wording CONTAINS the BY
    wording; first-match-wins order is the correctness load-bearing
    part), then CC0/public-domain, all-rights-reserved, MIT — plus a
    dotted version extraction ('2024' in a copyright year never
    matches; empty miss mapped to 'unversioned'). Per (license,
    version): page count, distinct-host spread (a license claimed by
    one host farm is a weaker signal than one spread across the web)
    and the redistributable verdict the admission policy consumes.

    Plan/scale: footer synthesis + both regexp probes are row-local
    inside whole-stage codegen; ONE hash aggregate on the (license,
    version) key (map-side partials collapse the per-page rows before
    the exchange; the distinct-host count rides the same shuffle).
    Output is bounded by the license alphabet — a broadcast-sized
    artifact downstream policy joins consume for free."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 11
    footer = (
        F.when(m == 0, F.lit("Licensed under CC BY-SA 4.0"))
        .when(
            m == 1,
            F.lit(
                "This work is licensed under a Creative Commons "
                "Attribution-ShareAlike 3.0 License"
            ),
        )
        .when(m == 2, F.lit("Content available under CC BY 4.0"))
        .when(
            m == 3,
            F.lit(
                "licensed under the creative commons attribution 4.0 "
                "international license"
            ),
        )
        .when(
            m == 4,
            F.lit("Copyright (c) 2024 Example Corp. All Rights Reserved."),
        )
        .when(
            m == 5,
            F.lit("copyright 2023 example.com. all rights reserved"),
        )
        .when(m == 6, F.lit("Released under the MIT License"))
        .when(
            m == 7,
            F.lit("Dedicated to the public domain under CC0 1.0"),
        )
        .when(
            m == 8,
            F.lit("No known copyright restrictions (Public Domain Mark)"),
        )
        .otherwise(F.lit("Contact us | Privacy | Terms"))
    )
    pages = ev.select(
        (F.col("event_id") % 53).alias("host"), footer.alias("footer")
    )
    lic = (
        F.when(
            F.col("footer").rlike("(?i)cc by-sa|attribution-sharealike"),
            "cc-by-sa",
        )
        .when(
            F.col("footer").rlike("(?i)cc by|creative commons attribution"),
            "cc-by",
        )
        .when(F.col("footer").rlike("(?i)cc0|public domain"), "public-domain")
        .when(
            F.col("footer").rlike("(?i)all rights reserved"),
            "all-rights-reserved",
        )
        .when(F.col("footer").rlike("(?i)mit license"), "mit")
        .otherwise("none")
    )
    ver_raw = F.regexp_extract("footer", r"([0-9]+\.[0-9]+)", 1)
    det = pages.select(
        "host",
        lic.alias("license"),
        F.when(ver_raw == "", "unversioned").otherwise(ver_raw).alias(
            "version"
        ),
    )
    return (
        det.groupBy("license", "version")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .select(
            "license",
            "version",
            "n_pages",
            "n_hosts",
            F.col("license")
            .isin("cc-by-sa", "cc-by", "public-domain", "mit")
            .alias("redistributable"),
        )
    )


@q(
    """
    WITH pages AS (
      SELECT event_id,
             CASE event_id % 6
               WHEN 0 THEN 'def fn0(x):' || chr(10) || '    y = x + 1'
                 || chr(10) || '    return y' || chr(10) || chr(10)
                 || 'import os' || chr(10)
               WHEN 1 THEN 'function fn(x) { return x + 1; }' || chr(10)
                 || 'var y = fn(2);' || chr(10) || 'console.log(y);'
               WHEN 2 THEN '#include <stdio.h>' || chr(10)
                 || 'int main(void) { printf("hi"); return 0; }'
               WHEN 3 THEN 'the quick brown fox jumps over the lazy dog '
                 || 'and then rests for a while'
               WHEN 4 THEN 'web pages carry text that people read every '
                 || 'day in many languages around the world'
               ELSE 'the result is computed below' || chr(10)
                 || '    result = compute(value);' || chr(10)
                 || 'and then printed for the reader'
             END AS snippet
      FROM events),
    sig AS (
      SELECT event_id, snippet,
             len(regexp_extract_all(snippet, '[{}]')) AS n_brace,
             len(regexp_extract_all(snippet, ';')) AS n_semi,
             len(regexp_extract_all(snippet,
                 '\\b(def|function|return|var|import|include|printf|int)\\b'
                 )) AS n_kw,
             len(regexp_extract_all(snippet, '\\n {4}')) AS n_indent
      FROM pages),
    scored AS (
      SELECT event_id,
             3 * n_kw + 2 * (n_brace + n_semi) + n_indent AS score,
             (3 * n_kw + 2 * (n_brace + n_semi) + n_indent) * 1000000
               // length(snippet) AS density_ppm
      FROM sig),
    cls AS (
      SELECT CASE WHEN score >= 8 THEN 'code'
                  WHEN score >= 1 THEN 'mixed'
                  ELSE 'prose' END AS doc_class,
             score, density_ppm
      FROM scored)
    SELECT doc_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS total_score,
           CAST(MAX(score) AS BIGINT) AS max_score,
           CAST(SUM(density_ppm) // COUNT(*) AS BIGINT)
             AS mean_density_ppm
    FROM cls GROUP BY doc_class
    """,
)
def q_code_detect(spark, sf_dir):
    """Code-fragment detection — the mixture-composition signal a
    pretraining pipeline needs before setting code-vs-prose sampling
    weights (and the guard that keeps source listings out of a
    prose-only corpus): snippets (synthesized per event across SIX
    shapes — python, javascript, C, two prose sentences, and a
    prose-with-embedded-statement MIXED page so the middle class is
    live) are scored by integer signal counts, all row-local regex:
    braces, statement-final semicolons, language keywords on word
    boundaries (\\bint\\b never fires inside 'printed'), and
    4-space-indented lines. score = 3*kw + 2*(braces+semis) + indent;
    class cut at >=8 code / >=1 mixed — all three classes fire by
    construction. Per class: doc count, total/max score, and a mean
    per-char density in exact integer ppm (per-doc floor division,
    then floor-of-sum — no float ever).

    Plan/scale: synthesis + four regexp counts + the score are one
    codegen'd projection; ONE hash aggregate on the 3-value class key
    (map-side partials do all the reduction). Bounded output."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    snippet = (
        F.when(
            m == 0,
            F.lit(
                "def fn0(x):\n    y = x + 1\n    return y\n\nimport os\n"
            ),
        )
        .when(
            m == 1,
            F.lit(
                "function fn(x) { return x + 1; }\nvar y = fn(2);\n"
                "console.log(y);"
            ),
        )
        .when(
            m == 2,
            F.lit(
                '#include <stdio.h>\nint main(void) { printf("hi"); '
                "return 0; }"
            ),
        )
        .when(
            m == 3,
            F.lit(
                "the quick brown fox jumps over the lazy dog and then "
                "rests for a while"
            ),
        )
        .when(
            m == 4,
            F.lit(
                "web pages carry text that people read every day in "
                "many languages around the world"
            ),
        )
        .otherwise(
            F.lit(
                "the result is computed below\n"
                "    result = compute(value);\n"
                "and then printed for the reader"
            )
        )
    )
    pages = ev.select(snippet.alias("snippet"))
    sig = pages.select(
        "snippet",
        F.regexp_count("snippet", F.lit("[{}]")).alias("n_brace"),
        F.regexp_count("snippet", F.lit(";")).alias("n_semi"),
        F.regexp_count(
            "snippet",
            F.lit(
                r"\b(def|function|return|var|import|include|printf|int)\b"
            ),
        ).alias("n_kw"),
        F.regexp_count("snippet", F.lit(r"\n {4}")).alias("n_indent"),
    )
    score = (
        F.lit(3) * F.col("n_kw")
        + F.lit(2) * (F.col("n_brace") + F.col("n_semi"))
        + F.col("n_indent")
    )
    scored = sig.select(
        score.alias("score"),
        F.expr(
            "(3 * n_kw + 2 * (n_brace + n_semi) + n_indent) * 1000000"
            " DIV length(snippet)"
        ).alias("density_ppm"),
    )
    cls = scored.select(
        F.when(F.col("score") >= 8, "code")
        .when(F.col("score") >= 1, "mixed")
        .otherwise("prose")
        .alias("doc_class"),
        "score",
        "density_ppm",
    )
    return (
        cls.groupBy("doc_class")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score").cast("long").alias("total_score"),
            F.max("score").cast("long").alias("max_score"),
            F.sum("density_ppm").alias("dsum"),
        )
        .select(
            "doc_class",
            "n_docs",
            "total_score",
            "max_score",
            F.expr("dsum DIV n_docs").cast("long").alias(
                "mean_density_ppm"
            ),
        )
    )


@q(
    """
    WITH pages AS (
      SELECT event_id,
             CASE event_id % 5
               WHEN 0 THEN '<html><body><div class="a"><p>one</p>'
                 || '<p>two</p><a href="/x">l</a></div></body></html>'
               WHEN 1 THEN '<html><body><div><img src="/i1.png"/>'
                 || '<img src="/i2.png"/><br><a href="/g">more</a>'
                 || '</div></body></html>'
               WHEN 2 THEN '<html><body><table><tr><td>1</td><td>2</td>'
                 || '</tr></table></body></html>'
               WHEN 3 THEN '<html><head><script src="/app.js"></script>'
                 || '</head><body><p>x</p></body></html>'
               ELSE '<html><body><div><p>unclosed paragraph'
                 || '<div>nested</div></body></html>'
             END AS page
      FROM events),
    opens AS (
      SELECT event_id,
             unnest(regexp_extract_all(page,
                    '<([a-z][a-z0-9]*)[^>]*>', 1)) AS tag,
             1 AS is_open
      FROM pages),
    closes AS (
      SELECT event_id,
             unnest(regexp_extract_all(page,
                    '</([a-z][a-z0-9]*)>', 1)) AS tag,
             0 AS is_open
      FROM pages),
    occ AS (SELECT * FROM opens UNION ALL SELECT * FROM closes)
    SELECT tag,
           CAST(SUM(is_open) AS BIGINT) AS n_open,
           CAST(SUM(1 - is_open) AS BIGINT) AS n_close,
           CAST(SUM(is_open) - SUM(1 - is_open) AS BIGINT) AS n_unclosed,
           CAST(COUNT(DISTINCT CASE WHEN is_open = 1 THEN event_id END)
                AS BIGINT) AS n_pages
    FROM occ GROUP BY tag
    """,
)
def q_tag_histogram(spark, sf_dir):
    """Markup census — the corpus-shape audit an extraction tier runs
    before tuning its rules (which structures even exist? how broken
    is the HTML?): five synthesized page shapes (article, gallery
    with VOID tags img/br, table, head+script, and a MALFORMED page
    with an unclosed <p> and unbalanced <div>) are scanned for open
    tags (`<name ...>` — the `</` form can't match, the name group
    stops at the first non-[a-z0-9] char, so attributes and
    self-closing slashes never pollute the key) and close tags
    separately. Per tag: open/close occurrence counts, the unclosed
    delta (void tags and truncation damage both surface here — the
    signal that decides whether a regex or a recovering parser is
    needed), and how many distinct pages open the tag (ubiquity vs
    niche markup).

    Plan/scale: both regexp_extract_all probes are row-local; the two
    occurrence streams union BEFORE the single hash aggregate on tag,
    so map-side partials collapse per-page fan-out in place — one
    exchange on a key alphabet bounded by real-world HTML (~100
    tags). The distinct-page count rides the same shuffle."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    page = (
        F.when(
            m == 0,
            F.lit(
                '<html><body><div class="a"><p>one</p><p>two</p>'
                '<a href="/x">l</a></div></body></html>'
            ),
        )
        .when(
            m == 1,
            F.lit(
                '<html><body><div><img src="/i1.png"/>'
                '<img src="/i2.png"/><br><a href="/g">more</a>'
                "</div></body></html>"
            ),
        )
        .when(
            m == 2,
            F.lit(
                "<html><body><table><tr><td>1</td><td>2</td>"
                "</tr></table></body></html>"
            ),
        )
        .when(
            m == 3,
            F.lit(
                '<html><head><script src="/app.js"></script></head>'
                "<body><p>x</p></body></html>"
            ),
        )
        .otherwise(
            F.lit(
                "<html><body><div><p>unclosed paragraph"
                "<div>nested</div></body></html>"
            )
        )
    )
    pages = ev.select("event_id", page.alias("page"))
    opens = pages.select(
        "event_id",
        F.explode(
            F.regexp_extract_all(
                "page", F.lit("<([a-z][a-z0-9]*)[^>]*>"), F.lit(1)
            )
        ).alias("tag"),
        F.lit(1).alias("is_open"),
    )
    closes = pages.select(
        "event_id",
        F.explode(
            F.regexp_extract_all(
                "page", F.lit("</([a-z][a-z0-9]*)>"), F.lit(1)
            )
        ).alias("tag"),
        F.lit(0).alias("is_open"),
    )
    occ = opens.unionAll(closes)
    return occ.groupBy("tag").agg(
        F.sum("is_open").cast("long").alias("n_open"),
        F.sum(F.lit(1) - F.col("is_open")).cast("long").alias("n_close"),
        (F.sum("is_open") - F.sum(F.lit(1) - F.col("is_open")))
        .cast("long")
        .alias("n_unclosed"),
        F.countDistinct(
            F.when(F.col("is_open") == 1, F.col("event_id"))
        )
        .cast("long")
        .alias("n_pages"),
    )


def _class_census(pages, klass: str, count: str):
    """(klass, count, n_hosts, share_ppm): rows and distinct hosts per
    class of ``pages`` and the class's share of all rows in ppm
    (integer DIV) — the census tail of the page-classifier audits."""
    agg = pages.groupBy(klass).agg(
        F.count("*").cast("long").alias(count),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )
    w = Window.partitionBy()
    return agg.select(
        klass,
        count,
        "n_hosts",
        F.expr(f"{count} * 1000000").alias("_num"),
        F.sum(count).over(w).alias("_tot"),
    ).select(
        klass,
        count,
        "n_hosts",
        F.expr("_num DIV _tot").cast("long").alias("share_ppm"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 13 AS host,
             CASE event_id % 7
               WHEN 0 THEN 404 WHEN 6 THEN 410 ELSE 200 END AS status,
             CASE event_id % 7
               WHEN 0 THEN '404 Not Found'
               WHEN 1 THEN 'Page Not Found'
               WHEN 2 THEN 'Oops'
               WHEN 3 THEN 'Home'
               WHEN 4 THEN 'Widgets catalog'
               WHEN 5 THEN 'About us'
               ELSE 'Gone'
             END AS title,
             CASE event_id % 7
               WHEN 0 THEN 'The requested URL was not found on this server.'
               WHEN 1 THEN 'Sorry, the page you are looking for could not '
                 || 'be found. Try searching our site or browse the '
                 || 'popular categories below.'
               WHEN 2 THEN 'Error 404: the page you requested does not '
                 || 'exist. It may have been moved or deleted.'
               WHEN 3 THEN 'Welcome!'
               WHEN 4 THEN 'Our widget catalog lists every widget we '
                 || 'stock, with specifications, pricing tiers and '
                 || 'availability for each regional warehouse.'
               ELSE 'We are a family business serving the region since '
                 || '1987, with a focus on quality and fair prices for '
                 || 'every customer who walks through our doors.'
             END AS body
      FROM events),
    cls AS (
      SELECT host,
             CASE
               WHEN status >= 400 THEN 'hard-error'
               WHEN regexp_matches(title || ' ' || body,
                    '(?i)not found|does not exist|error 404')
                 THEN 'soft-404'
               WHEN length(body) < 40 THEN 'thin'
               ELSE 'ok' END AS page_class
      FROM pages)
    SELECT page_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER ()
                AS BIGINT) AS share_ppm
    FROM cls GROUP BY page_class
    """,
)
def q_soft404_detect(spark, sf_dir):
    """Soft-404 detection — the fetch-quality gate a crawl pipeline
    runs before extraction: an origin that answers 200 with an error
    page poisons the corpus with millions of identical "not found"
    boilerplate documents that no status filter catches. Pages are
    synthesized per event with SEVEN surface forms so every class has
    >=2 members: true 4xx/410 responses, two soft-404 wordings (one
    signalled by the <title>, one only in the body — the classifier
    probes title and body TOGETHER), a thin-but-honest page, and two
    healthy pages. Classification is a PRECEDENCE-ordered CASE —
    hard HTTP errors first (a real 404 whose body says "not found"
    is hard, not soft; order is the correctness-bearing part), then
    the soft-404 phrase match, then the thin-content floor, else ok.
    Per class: page count, distinct-host spread (one misconfigured
    CDN vs a web-wide pattern), and corpus share in ppm.

    Plan/scale: synthesis + regexp + CASE are row-local inside
    whole-stage codegen; ONE hash aggregate on page_class (map-side
    partials collapse 10^12 rows to |classes| per task), and the
    share_ppm window runs over the 4-row class table — driver-sized,
    not a data shuffle."""
    ev = _t(spark, sf_dir, "events")
    k = F.col("event_id") % 7
    status = F.when(k == 0, 404).when(k == 6, 410).otherwise(200)
    title = (
        F.when(k == 0, F.lit("404 Not Found"))
        .when(k == 1, F.lit("Page Not Found"))
        .when(k == 2, F.lit("Oops"))
        .when(k == 3, F.lit("Home"))
        .when(k == 4, F.lit("Widgets catalog"))
        .when(k == 5, F.lit("About us"))
        .otherwise(F.lit("Gone"))
    )
    body = (
        F.when(
            k == 0,
            F.lit("The requested URL was not found on this server."),
        )
        .when(
            k == 1,
            F.lit(
                "Sorry, the page you are looking for could not be "
                "found. Try searching our site or browse the popular "
                "categories below."
            ),
        )
        .when(
            k == 2,
            F.lit(
                "Error 404: the page you requested does not exist. "
                "It may have been moved or deleted."
            ),
        )
        .when(k == 3, F.lit("Welcome!"))
        .when(
            k == 4,
            F.lit(
                "Our widget catalog lists every widget we stock, with "
                "specifications, pricing tiers and availability for "
                "each regional warehouse."
            ),
        )
        .otherwise(
            F.lit(
                "We are a family business serving the region since "
                "1987, with a focus on quality and fair prices for "
                "every customer who walks through our doors."
            )
        )
    )
    pages = ev.select(
        (F.col("event_id") % 13).alias("host"),
        status.alias("status"),
        title.alias("title"),
        body.alias("body"),
    )
    cls = pages.select(
        "host",
        F.when(F.col("status") >= 400, "hard-error")
        .when(
            F.concat(F.col("title"), F.lit(" "), F.col("body")).rlike(
                "(?i)not found|does not exist|error 404"
            ),
            "soft-404",
        )
        .when(F.length("body") < 40, "thin")
        .otherwise("ok")
        .alias("page_class"),
    )
    return _class_census(cls, "page_class", "n_pages")


@q(
    """
    WITH pages AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN '<h1>A</h1><h2>B</h2><h3>C</h3>'
               WHEN 1 THEN '<h1>A</h1><h1>B</h1><h2>C</h2>'
               WHEN 2 THEN '<h2>A</h2><h3>B</h3>'
               WHEN 3 THEN '<h1>A</h1><h3>B</h3>'
               WHEN 4 THEN '<h1>A</h1><h2>B</h2><h2>C</h2><h4>D</h4>'
               ELSE ''
             END AS html
      FROM documents),
    lv AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(html, '</h[1-6]>', '', 'g'),
                            '[^0-9]', '', 'g') AS levels
      FROM pages),
    cls AS (
      SELECT doc_id, levels,
             length(levels) AS n_headings,
             length(levels) - length(replace(levels, '1', '')) AS n_h1,
             length(regexp_replace(levels, '[^456]', '', 'g')) AS n_deep,
             CASE
               WHEN levels = '' THEN 'empty'
               WHEN length(levels)
                    - length(replace(levels, '1', '')) > 1
                 THEN 'multi-h1'
               WHEN regexp_matches(levels, '1[3-6]|2[4-6]|3[56]|46')
                 THEN 'skip'
               WHEN length(levels)
                    - length(replace(levels, '1', '')) = 0
                 THEN 'headless'
               ELSE 'clean' END AS outline_class
      FROM lv)
    SELECT outline_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(n_headings) AS BIGINT) AS n_headings,
           CAST(SUM(n_h1) AS BIGINT) AS n_h1,
           CAST(SUM(n_deep) AS BIGINT) AS n_deep
    FROM cls GROUP BY outline_class
    """,
)
def q_heading_outline(spark, sf_dir):
    """Heading-outline audit — the document-structure signal the
    extractor's DOM scorer leans on (a page whose heading tree is
    sane yields clean section boundaries; a multi-h1 or level-skipping
    page flags template soup): per page (synthesized with SIX shapes
    so every class is live) the h1..h6 OPEN tags are reduced to a
    digit string — close tags are removed FIRST so </h2> does not
    double-count a level (ordering is the correctness-bearing part;
    the digit strip alone would read '2' twice per heading). From the
    digit string, all outline facts are string-local: heading count,
    h1 count, deep-heading count (h4+), and the level-skip probe as a
    regexp over ADJACENT digit pairs with gap >= 2 ('1[3-6]|2[4-6]|
    3[56]|46' — closed alphabet, no array gymnastics). Classes are
    PRECEDENCE-ordered: empty, multi-h1, skip, headless, clean — a
    multi-h1 page that also skips levels reports the h1 defect (the
    one the extractor cares about first).

    Plan/scale: the whole per-page reduction is two regexp_replace
    passes inside whole-stage codegen; ONE hash aggregate on
    outline_class — output bounded by the 5-class alphabet."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    html = (
        F.when(m == 0, F.lit("<h1>A</h1><h2>B</h2><h3>C</h3>"))
        .when(m == 1, F.lit("<h1>A</h1><h1>B</h1><h2>C</h2>"))
        .when(m == 2, F.lit("<h2>A</h2><h3>B</h3>"))
        .when(m == 3, F.lit("<h1>A</h1><h3>B</h3>"))
        .when(
            m == 4,
            F.lit("<h1>A</h1><h2>B</h2><h2>C</h2><h4>D</h4>"),
        )
        .otherwise(F.lit(""))
    )
    lv = docs.select(
        F.regexp_replace(
            F.regexp_replace(html, r"</h[1-6]>", ""), r"[^0-9]", ""
        ).alias("levels")
    )
    n_h1 = F.length("levels") - F.length(
        F.regexp_replace("levels", "1", "")
    )
    cls = lv.select(
        F.length("levels").alias("n_headings"),
        n_h1.alias("n_h1"),
        F.length(F.regexp_replace("levels", "[^456]", "")).alias(
            "n_deep"
        ),
        F.when(F.col("levels") == "", "empty")
        .when(n_h1 > 1, "multi-h1")
        .when(F.col("levels").rlike("1[3-6]|2[4-6]|3[56]|46"), "skip")
        .when(n_h1 == 0, "headless")
        .otherwise("clean")
        .alias("outline_class"),
    )
    return cls.groupBy("outline_class").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("n_headings").cast("long").alias("n_headings"),
        F.sum("n_h1").cast("long").alias("n_h1"),
        F.sum("n_deep").cast("long").alias("n_deep"),
    )


@q(
    """
    WITH trackers(script_host, category) AS (
      VALUES ('analytics.example-metrics.com', 'analytics'),
             ('pixel.socialgraph.example', 'social'),
             ('tags.tagmanager.example', 'tag-manager'),
             ('stats.counter.example', 'analytics')),
    pages AS (
      SELECT event_id, event_id % 11 AS host,
             [CASE event_id % 5
                WHEN 0 THEN 'analytics.example-metrics.com'
                WHEN 1 THEN 'pixel.socialgraph.example'
                WHEN 2 THEN 'tags.tagmanager.example'
                WHEN 3 THEN 'cdn.example.com'
                ELSE 'static.example.org' END,
              CASE event_id % 3
                WHEN 0 THEN 'stats.counter.example'
                WHEN 1 THEN 'cdn.example.com'
                ELSE 'self' END] AS script_hosts
      FROM events),
    scripts AS (
      SELECT event_id, host, unnest(script_hosts) AS script_host
      FROM pages),
    joined AS (
      SELECT s.event_id, s.host,
             COALESCE(t.category, 'first-party') AS category
      FROM scripts s LEFT JOIN trackers t USING (script_host))
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n_scripts,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM joined GROUP BY category
    """,
)
def q_tracker_census(spark, sf_dir):
    """Third-party tracker census — the privacy/chrome signal an
    extraction tier reads off <script src> hostnames: pages carry two
    script slots each (synthesized with 5+3 surface forms so every
    tracker category, a benign CDN, and inline 'self' scripts are all
    live), exploded to one row per script tag and classified against
    a TRACKER DIMENSION — the canonical broadcast-join shape: the
    known-tracker list is curated and tiny (thousands of rows at
    web scale) while the script-tag table is 10^12, so the dim ships
    to every executor and the probe never shuffles. Unmatched hosts
    fall to 'first-party' via the LEFT join (an inner join would
    silently drop the baseline the tracker share is measured against).
    Per category: script-tag count, distinct pages carrying it, and
    distinct-host spread.

    Plan/scale: explode is row-local (2 slots/page, no blow-up);
    BroadcastHashJoin (no exchange on the fact side); ONE hash
    aggregate on category with two distinct counts riding the same
    shuffle (expand mode) over the bounded category alphabet."""
    ev = _t(spark, sf_dir, "events")
    trackers = local_table(
        spark,
        [
            ("analytics.example-metrics.com", "analytics"),
            ("pixel.socialgraph.example", "social"),
            ("tags.tagmanager.example", "tag-manager"),
            ("stats.counter.example", "analytics"),
        ],
        "script_host string, category string",
    )
    a = F.col("event_id") % 5
    b = F.col("event_id") % 3
    slot_a = (
        F.when(a == 0, F.lit("analytics.example-metrics.com"))
        .when(a == 1, F.lit("pixel.socialgraph.example"))
        .when(a == 2, F.lit("tags.tagmanager.example"))
        .when(a == 3, F.lit("cdn.example.com"))
        .otherwise(F.lit("static.example.org"))
    )
    slot_b = (
        F.when(b == 0, F.lit("stats.counter.example"))
        .when(b == 1, F.lit("cdn.example.com"))
        .otherwise(F.lit("self"))
    )
    scripts = ev.select(
        "event_id",
        (F.col("event_id") % 11).alias("host"),
        F.explode(F.array(slot_a, slot_b)).alias("script_host"),
    )
    joined = scripts.join(
        F.broadcast(trackers), "script_host", "left"
    ).select(
        "event_id",
        "host",
        F.coalesce(F.col("category"), F.lit("first-party")).alias(
            "category"
        ),
    )
    return joined.groupBy("category").agg(
        F.count("*").cast("long").alias("n_scripts"),
        F.countDistinct("event_id").cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 13 AS host,
             CASE WHEN event_id % 9 < 4
               THEN CASE event_id % 9
                      WHEN 0 THEN 'Home'
                      WHEN 1 THEN 'Products'
                      WHEN 2 THEN 'Contact us'
                      ELSE 'About' END
                    || ' | Site ' || CAST(event_id % 13 AS VARCHAR)
               ELSE 'Article ' || CAST(event_id AS VARCHAR)
                    || ' | Site ' || CAST(event_id % 13 AS VARCHAR)
             END AS title
      FROM events),
    per_title AS (
      SELECT host, title, COUNT(*) AS n
      FROM pages GROUP BY host, title)
    SELECT host,
           CAST(SUM(n) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS n_titles,
           CAST(COALESCE(SUM(CASE WHEN n >= 5 THEN 1 END), 0)
                AS BIGINT) AS n_template_titles,
           CAST(COALESCE(SUM(CASE WHEN n >= 5 THEN n END), 0)
                AS BIGINT) AS template_pages,
           CAST(COALESCE(SUM(CASE WHEN n >= 5 THEN n END), 0)
                * 1000000 // SUM(n) AS BIGINT) AS template_ppm
    FROM per_title GROUP BY host
    """,
)
def q_title_templates(spark, sf_dir):
    """Duplicate-title template detection — the de-boilerplate signal
    for <title>: a host where thousands of pages share one title
    ('Home | Site 7') is serving navigation chrome, and a dedup that
    keys on title alone would eat real articles there. Pages carry
    four template titles per host plus unique per-page article titles
    (both branches live by construction: the template arm depends
    only on (kind, host), the unique arm embeds the page id). The
    audit is a TWO-LEVEL aggregation: count pages per (host, title),
    then per host roll up page/title counts, titles reused by >= 5
    pages (the template threshold), the page mass behind them, and
    the template share in ppm (integer DIV, exact across engines).

    Plan/scale: the first aggregate shuffles on (host, title) —
    map-side partials collapse the per-page rows; the second
    aggregate's key is a PREFIX of the first's, so at 10^12 rows the
    heavy exchange happens once on the wide key and the host rollup
    reshuffles only the already-collapsed per-title table (bounded
    by distinct titles, not pages). Skew note: a viral template
    title concentrates in one (host, title) group but partials cap
    the per-task state at distinct-key count."""
    ev = _t(spark, sf_dir, "events")
    kind = F.col("event_id") % 9
    host = F.col("event_id") % 13
    tpl = (
        F.when(kind == 0, F.lit("Home"))
        .when(kind == 1, F.lit("Products"))
        .when(kind == 2, F.lit("Contact us"))
        .otherwise(F.lit("About"))
    )
    title = F.when(
        kind < 4,
        F.concat(tpl, F.lit(" | Site "), host.cast("string")),
    ).otherwise(
        F.concat(
            F.lit("Article "),
            F.col("event_id").cast("string"),
            F.lit(" | Site "),
            host.cast("string"),
        )
    )
    pages = ev.select(host.alias("host"), title.alias("title"))
    per_title = pages.groupBy("host", "title").agg(
        F.count("*").alias("n")
    )
    is_tpl = F.col("n") >= 5
    return per_title.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_titles"),
        F.coalesce(F.sum(F.when(is_tpl, 1)), F.lit(0))
        .cast("long")
        .alias("n_template_titles"),
        F.coalesce(F.sum(F.when(is_tpl, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("template_pages"),
        F.expr(
            "COALESCE(SUM(CASE WHEN n >= 5 THEN n END), 0) "
            "* 1000000 DIV SUM(n)"
        )
        .cast("long")
        .alias("template_ppm"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'As shown in [1] and [2], results improve '
                 || 'with scale [3]. References: 1. Smith 2. Jones'
               WHEN 1 THEN text || ' [4]'
               WHEN 3 THEN 'See [12] [13] [14] [15] plus the notes'
               WHEN 4 THEN 'References and further reading'
               ELSE text END AS body
      FROM documents),
    sig AS (
      SELECT doc_id, length(body) AS n_chars,
             length(regexp_extract_all(body, '\\[[0-9]+\\]'))
               AS n_markers,
             regexp_matches(body, '(?i)\\breferences\\b') AS has_refs
      FROM shaped),
    cls AS (
      SELECT n_chars, n_markers,
             CASE
               WHEN n_markers > 0 AND has_refs THEN 'cited+refs'
               WHEN n_markers > 0 THEN 'cited'
               WHEN has_refs THEN 'refs-only'
               ELSE 'uncited' END AS cite_class
      FROM sig)
    SELECT cite_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_markers) AS BIGINT) AS n_markers,
           CAST(MAX(n_markers) AS BIGINT) AS max_markers,
           CAST(SUM(n_markers) * 1000000 // SUM(n_chars) AS BIGINT)
             AS density_ppm
    FROM cls GROUP BY cite_class
    """,
)
def q_citation_density(spark, sf_dir):
    """Citation-density audit — the scholarly-register signal a
    corpus mixer uses to upweight referenced writing (and the guard
    against reference-list-only pages that carry citations' trappings
    with none of their prose): bracketed numeric markers '[12]' are
    counted per document (regexp_extract_all length — '[12]' is ONE
    marker, not two digits) and combined with a word-bounded
    'references' section probe into four classes: cited+refs (the
    scholarly shape), cited (wiki-style inline markers, no
    bibliography), refs-only (the orphan bibliography page), uncited.
    Five document shapes keep every class live, with real corpus text
    as the uncited baseline — verified free of brackets and the
    'references' token, so synthesis cannot bleed between classes.
    Per class: doc count, marker mass, the densest page's marker
    count, and marker density in ppm of char mass (floor DIV, exact
    across engines).

    Plan/scale: the marker count and section probe are row-local
    regexps in one codegen'd projection; ONE hash aggregate on the
    4-class alphabet."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    body = (
        F.when(
            m == 0,
            F.lit(
                "As shown in [1] and [2], results improve with "
                "scale [3]. References: 1. Smith 2. Jones"
            ),
        )
        .when(m == 1, F.concat(F.col("text"), F.lit(" [4]")))
        .when(m == 3, F.lit("See [12] [13] [14] [15] plus the notes"))
        .when(m == 4, F.lit("References and further reading"))
        .otherwise(F.col("text"))
    )
    sig = docs.select(
        F.length(body).alias("n_chars"),
        F.size(
            F.regexp_extract_all(body, F.lit(r"\[[0-9]+\]"), F.lit(0))
        ).alias("n_markers"),
        body.rlike(r"(?i)\breferences\b").alias("has_refs"),
    )
    cls = sig.select(
        "n_chars",
        "n_markers",
        F.when(
            (F.col("n_markers") > 0) & F.col("has_refs"), "cited+refs"
        )
        .when(F.col("n_markers") > 0, "cited")
        .when(F.col("has_refs"), "refs-only")
        .otherwise("uncited")
        .alias("cite_class"),
    )
    return cls.groupBy("cite_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_markers").cast("long").alias("n_markers"),
        F.max("n_markers").cast("long").alias("max_markers"),
        F.expr("SUM(n_markers) * 1000000 DIV SUM(n_chars)")
        .cast("long")
        .alias("density_ppm"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 11 AS host,
             CASE event_id % 5
               WHEN 0 THEN '<p>intro</p><img src="a.jpg" '
                 || 'alt="chart of quarterly results">'
               WHEN 1 THEN '<img src="b.jpg" alt="">'
               WHEN 2 THEN '<img src="c.jpg">'
               WHEN 3 THEN '<img src="d.jpg" alt="image">'
               ELSE '<p>text only, no figures</p>' END AS html
      FROM events),
    sig AS (
      SELECT host,
             CASE WHEN html NOT LIKE '%<img%' THEN 'no-image'
                  WHEN NOT regexp_matches(html, '<img[^>]*\\salt=')
                    THEN 'alt-missing'
                  WHEN regexp_extract(html,
                       '<img[^>]*\\salt="([^"]*)"', 1) = ''
                    THEN 'alt-empty'
                  WHEN regexp_extract(html,
                       '<img[^>]*\\salt="([^"]*)"', 1)
                       IN ('image', 'photo', 'picture', 'img')
                    THEN 'alt-placeholder'
                  ELSE 'alt-ok' END AS alt_class
      FROM pages)
    SELECT alt_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER ()
                AS BIGINT) AS share_ppm
    FROM sig GROUP BY alt_class
    """,
)
def q_image_alt_coverage(spark, sf_dir):
    """Image alt-text coverage — the accessibility census an
    extraction tier reports alongside the markup histogram (alt text
    is also the only caption signal an image-text pairing pipeline
    gets for free, so its quality tiers double as multimodal training
    yield): pages carry five shapes — descriptive alt, EMPTY alt
    (decorative by convention — distinct from missing: the author
    opted out deliberately), missing alt, placeholder alt ('image':
    present but useless to both a screen reader and a captioner),
    and no image at all. Classification is PRECEDENCE-ordered with
    attribute-boundary care: the alt probe requires a preceding
    space inside the SAME tag ('<img[^>]*\\salt=') so a src value
    containing 'alt=' can never satisfy it, and emptiness/placeholder
    are judged on the captured attribute VALUE, not substring luck.
    Per class: page count, distinct-host spread, corpus share ppm.

    Plan/scale: probe + CASE are row-local in whole-stage codegen;
    ONE hash aggregate on the 5-class alphabet; the share window
    runs over the bounded class table."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    html = (
        F.when(
            m == 0,
            F.lit(
                '<p>intro</p><img src="a.jpg" '
                'alt="chart of quarterly results">'
            ),
        )
        .when(m == 1, F.lit('<img src="b.jpg" alt="">'))
        .when(m == 2, F.lit('<img src="c.jpg">'))
        .when(m == 3, F.lit('<img src="d.jpg" alt="image">'))
        .otherwise(F.lit("<p>text only, no figures</p>"))
    )
    pages = ev.select(
        (F.col("event_id") % 11).alias("host"), html.alias("html")
    )
    alt_val = F.regexp_extract("html", r'<img[^>]*\salt="([^"]*)"', 1)
    sig = pages.select(
        "host",
        F.when(~F.col("html").contains("<img"), "no-image")
        .when(~F.col("html").rlike(r"<img[^>]*\salt="), "alt-missing")
        .when(alt_val == "", "alt-empty")
        .when(
            alt_val.isin("image", "photo", "picture", "img"),
            "alt-placeholder",
        )
        .otherwise("alt-ok")
        .alias("alt_class"),
    )
    return _class_census(sig, "alt_class", "n_pages")


@q(
    """
    WITH urls AS (
      SELECT event_id, event_id % 11 AS host,
             CASE event_id % 6
               WHEN 0 THEN '/blog/2024/03/15/post'
               WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j'
               WHEN 2 THEN '/cat/x/cat/y/cat/z'
               WHEN 3 THEN '/list?page=250'
               WHEN 4 THEN '/articles/how-to-crawl'
               ELSE '/' END AS path
      FROM events),
    seg AS (
      SELECT event_id,
             unnest(string_split(path, '/')) AS s
      FROM urls),
    mult AS (
      SELECT event_id, CAST(MAX(n) AS BIGINT) AS max_mult,
             CAST(COUNT(*) AS BIGINT) AS n_segments
      FROM (SELECT event_id, s, COUNT(*) AS n
            FROM seg WHERE s <> '' GROUP BY event_id, s)
      GROUP BY event_id),
    cls AS (
      SELECT u.host,
             CASE
               WHEN regexp_matches(u.path,
                    '/[0-9]{4}/[0-9]{2}/[0-9]{2}')
                 THEN 'calendar-trap'
               WHEN COALESCE(m.n_segments, 0) > 8 THEN 'depth-trap'
               WHEN COALESCE(m.max_mult, 0) >= 3 THEN 'repeat-trap'
               WHEN CASE
                      WHEN regexp_extract(u.path,
                           'page=([0-9]+)', 1) = '' THEN 0
                      ELSE CAST(regexp_extract(u.path,
                           'page=([0-9]+)', 1) AS BIGINT) END >= 100
                 THEN 'deep-pagination'
               ELSE 'clean' END AS trap_class
      FROM urls u LEFT JOIN mult m USING (event_id))
    SELECT trap_class,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER ()
                AS BIGINT) AS share_ppm
    FROM cls GROUP BY trap_class
    """,
)
def q_crawl_trap_detect(spark, sf_dir):
    """Crawler-trap detection — the frontier guard against url spaces
    that are infinite by construction (calendar archives, session
    mazes, self-linking category loops): each url is probed for four
    trap signatures in PRECEDENCE order — a /YYYY/MM/DD calendar
    segment (the unbounded-date archive), pathological segment depth
    (> 8), a path segment repeating >= 3 times (the category loop —
    counted by explode + group, NOT a regexp backreference, which
    RE2-family engines refuse), and deep pagination (page= >= 100;
    missing page= maps to 0, never a cast error). The root path '/'
    must classify clean: splitting it yields only empty segments,
    which are excluded BEFORE counting so the empty string never
    becomes a 'repeated segment'. Per class: url count, distinct-host
    spread, corpus share ppm.

    Plan/scale: the calendar/pagination probes are row-local; the
    multiplicity signal costs one explode plus two aggregates keyed
    on the url — maximally-spread keys, bounded fan-out (path depth),
    with map-side partials collapsing each url's segments inside the
    scan task. host/path ride through the explode pipeline as
    widened (functionally dependent) keys, so the audit is
    JOIN-FREE — the join-back alternative broadcasts at test scale
    but sort-merges two 10^12-row branches at web scale; the final
    rollup is on the 5-class alphabet."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    path = (
        F.when(m == 0, F.lit("/blog/2024/03/15/post"))
        .when(m == 1, F.lit("/a/b/c/d/e/f/g/h/i/j"))
        .when(m == 2, F.lit("/cat/x/cat/y/cat/z"))
        .when(m == 3, F.lit("/list?page=250"))
        .when(m == 4, F.lit("/articles/how-to-crawl"))
        .otherwise(F.lit("/"))
    )
    urls = ev.select(
        "event_id",
        (F.col("event_id") % 11).alias("host"),
        path.alias("path"),
    )
    # host and path ride THROUGH the explode pipeline (functionally
    # dependent on event_id, so widening the keys is free) — the
    # alternative join of urls back onto the multiplicity table is
    # broadcast at test scale but a sort-merge of two 10^12-row
    # branches at web scale; empty segments survive to here so the
    # root path '/' keeps its row, then drop out of both signals
    sig = F.when(F.col("s") != "", F.col("n"))
    mult = (
        urls.select(
            "event_id",
            "host",
            "path",
            F.explode(F.split("path", "/")).alias("s"),
        )
        .groupBy("event_id", "host", "path", "s")
        .agg(F.count("*").alias("n"))
        .groupBy("event_id", "host", "path")
        .agg(
            F.coalesce(F.max(sig), F.lit(0))
            .cast("long")
            .alias("max_mult"),
            F.coalesce(
                F.sum(F.when(F.col("s") != "", 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_segments"),
        )
    )
    page_no = F.regexp_extract("path", r"page=([0-9]+)", 1)
    cls = mult.select(
        "host",
        F.when(
            F.col("path").rlike("/[0-9]{4}/[0-9]{2}/[0-9]{2}"),
            "calendar-trap",
        )
        .when(F.coalesce("n_segments", F.lit(0)) > 8, "depth-trap")
        .when(F.coalesce("max_mult", F.lit(0)) >= 3, "repeat-trap")
        .when(
            F.when(page_no == "", F.lit(0))
            .otherwise(page_no.cast("long"))
            >= 100,
            "deep-pagination",
        )
        .otherwise("clean")
        .alias("trap_class"),
    )
    return _class_census(cls, "trap_class", "n_urls")


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 11 AS host,
             CASE event_id % 7
               WHEN 0 THEN '<meta name="generator" '
                 || 'content="WordPress 6.4.2">'
               WHEN 1 THEN '<meta name="generator" '
                 || 'content="WordPress 5.9">'
               WHEN 2 THEN '<meta name="generator" '
                 || 'content="Drupal 10 (https://www.drupal.org)">'
               WHEN 3 THEN '<meta name="generator" '
                 || 'content="Hugo 0.121.0">'
               WHEN 4 THEN '<meta name="generator" content="Wix.com">'
               WHEN 5 THEN '<meta name="viewport" '
                 || 'content="width=device-width">'
               ELSE '' END AS head
      FROM events),
    gen AS (
      SELECT host,
             regexp_extract(head,
               'name="generator" content="([^"]*)"', 1) AS raw
      FROM pages),
    parsed AS (
      SELECT host,
             CASE WHEN raw = '' THEN '(none)'
                  ELSE regexp_extract(raw, '^([A-Za-z.]+)', 1)
             END AS product,
             CASE WHEN regexp_extract(raw,
                       ' ([0-9]+(\\.[0-9]+)*)', 1) = ''
                  THEN '(unversioned)'
                  ELSE regexp_extract(raw,
                       ' ([0-9]+(\\.[0-9]+)*)', 1) END AS version
      FROM gen)
    SELECT product, version,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM parsed GROUP BY product, version
    """,
)
def q_cms_fingerprint(spark, sf_dir):
    """CMS fingerprinting — the tech census an extraction tier uses
    to route pages to per-platform rules (WordPress article markup is
    predictable; Wix is a JS shell) and a security survey uses to
    find stale fleets: the <meta name="generator"> value is captured
    as a whole, then split into PRODUCT (leading word — the '.com'
    in 'Wix.com' stays in the product token, which is why the product
    charset includes dots) and VERSION (first space-prefixed dotted
    number — the space anchor keeps 'Drupal 10' yielding '10' while
    the url in the same value never matches; version-less generators
    map to '(unversioned)', generator-less pages to '(none)', both
    surviving as first-class rows rather than dropped nulls). Pages
    carry seven shapes: two WordPress versions (same product, two
    version rows), versioned Drupal-with-url and Hugo, unversioned
    Wix, a non-generator meta (the name= anchor must not match
    viewport), and an empty head. Per (product, version): page count
    and distinct-host spread.

    Plan/scale: two row-local regexp captures in codegen; ONE hash
    aggregate on the bounded (product, version) alphabet."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 7
    head = (
        F.when(
            m == 0,
            F.lit('<meta name="generator" content="WordPress 6.4.2">'),
        )
        .when(
            m == 1,
            F.lit('<meta name="generator" content="WordPress 5.9">'),
        )
        .when(
            m == 2,
            F.lit(
                '<meta name="generator" '
                'content="Drupal 10 (https://www.drupal.org)">'
            ),
        )
        .when(
            m == 3,
            F.lit('<meta name="generator" content="Hugo 0.121.0">'),
        )
        .when(
            m == 4,
            F.lit('<meta name="generator" content="Wix.com">'),
        )
        .when(
            m == 5,
            F.lit('<meta name="viewport" content="width=device-width">'),
        )
        .otherwise(F.lit(""))
    )
    gen = ev.select(
        (F.col("event_id") % 11).alias("host"),
        F.regexp_extract(
            head, r'name="generator" content="([^"]*)"', 1
        ).alias("raw"),
    )
    ver_raw = F.regexp_extract("raw", r" ([0-9]+(\.[0-9]+)*)", 1)
    parsed = gen.select(
        "host",
        F.when(F.col("raw") == "", "(none)")
        .otherwise(F.regexp_extract("raw", r"^([A-Za-z.]+)", 1))
        .alias("product"),
        F.when(ver_raw == "", "(unversioned)")
        .otherwise(ver_raw)
        .alias("version"),
    )
    return parsed.groupBy("product", "version").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 11 AS host,
             CASE event_id % 6
               WHEN 0 THEN '<script type="application/ld+json">'
                 || '{"isAccessibleForFree": false}</script>'
                 || '<p>Preview…</p>'
               WHEN 1 THEN '<script type="application/ld+json">'
                 || '{"isAccessibleForFree": true}</script>'
                 || '<p>Subscribe to continue reading our weekly '
                 || 'digest — or not; the article is free.</p>'
               WHEN 2 THEN '<p>Subscribe to continue reading this '
                 || 'article.</p>'
               WHEN 3 THEN '<p>Sign in or subscribe to continue.</p>'
               WHEN 4 THEN '<p>Please accept cookies to view this '
                 || 'content.</p>'
               ELSE '<p>Plain article body, fully readable.</p>'
             END AS html
      FROM events),
    cls AS (
      SELECT host,
             CASE
               WHEN regexp_matches(html,
                    '"isAccessibleForFree"\\s*:\\s*false')
                 THEN 'paywall-declared'
               WHEN regexp_matches(html,
                    '"isAccessibleForFree"\\s*:\\s*true')
                 THEN 'free-declared'
               WHEN regexp_matches(html,
                    '(?i)subscribe to continue|to continue reading')
                 THEN 'paywall-phrase'
               WHEN regexp_matches(html,
                    '(?i)accept (all )?cookies to (view|continue)')
                 THEN 'consent-wall'
               ELSE 'free' END AS access_class
      FROM pages)
    SELECT access_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER ()
                AS BIGINT) AS share_ppm
    FROM cls GROUP BY access_class
    """,
)
def q_paywall_detect(spark, sf_dir):
    """Paywall / consent-wall detection — the access-rights gate a
    training-data pipeline runs next to the license detector: a
    paywalled preview contributes a truncated, upsell-polluted
    document, and schema.org's isAccessibleForFree is the one
    DECLARED signal that beats any phrase heuristic. Classification
    is PRECEDENCE-ordered: the JSON-LD declaration first in both
    polarities — a page declaring true stays 'free-declared' even
    though its newsletter upsell contains the subscribe phrase (the
    precedence probe; phrase-first ordering would misclassify it) —
    then the subscribe/continue-reading phrase family, then the
    cookie consent-wall (a different remediation: consent walls are
    fetchable with a consent cookie, paywalls are not), else free.
    Six page shapes keep every class live. Per class: page count,
    distinct-host spread, corpus share ppm.

    Plan/scale: three regexp probes in one codegen'd projection; ONE
    hash aggregate on the 5-class alphabet; share window over the
    bounded class table."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    html = (
        F.when(
            m == 0,
            F.lit(
                '<script type="application/ld+json">'
                '{"isAccessibleForFree": false}</script>'
                "<p>Preview…</p>"
            ),
        )
        .when(
            m == 1,
            F.lit(
                '<script type="application/ld+json">'
                '{"isAccessibleForFree": true}</script>'
                "<p>Subscribe to continue reading our weekly digest "
                "— or not; the article is free.</p>"
            ),
        )
        .when(
            m == 2,
            F.lit("<p>Subscribe to continue reading this article.</p>"),
        )
        .when(m == 3, F.lit("<p>Sign in or subscribe to continue.</p>"))
        .when(
            m == 4,
            F.lit("<p>Please accept cookies to view this content.</p>"),
        )
        .otherwise(F.lit("<p>Plain article body, fully readable.</p>"))
    )
    pages = ev.select(
        (F.col("event_id") % 11).alias("host"), html.alias("html")
    )
    cls = pages.select(
        "host",
        F.when(
            F.col("html").rlike(r'"isAccessibleForFree"\s*:\s*false'),
            "paywall-declared",
        )
        .when(
            F.col("html").rlike(r'"isAccessibleForFree"\s*:\s*true'),
            "free-declared",
        )
        .when(
            F.col("html").rlike(
                "(?i)subscribe to continue|to continue reading"
            ),
            "paywall-phrase",
        )
        .when(
            F.col("html").rlike(
                "(?i)accept (all )?cookies to (view|continue)"
            ),
            "consent-wall",
        )
        .otherwise("free")
        .alias("access_class"),
    )
    return _class_census(cls, "access_class", "n_pages")


@q(
    """
    WITH pages AS (
      SELECT event_id, event_id % 11 AS host,
             CASE WHEN event_id % 8 IN (1, 3, 5, 7)
               THEN '<meta property="og:title" content="T">'
               ELSE '' END
             || CASE WHEN event_id % 8 IN (2, 3, 6, 7)
               THEN '<meta property="og:image" content="i.jpg">'
               ELSE '' END
             || CASE WHEN event_id % 8 IN (4, 5, 6, 7)
               THEN '<meta name="twitter:card" '
                 || 'content="summary_large_image">'
               ELSE '' END AS head
      FROM events),
    flags AS (
      SELECT host,
             head LIKE '%property="og:title"%' AS has_og_title,
             head LIKE '%property="og:image"%' AS has_og_image,
             head LIKE '%name="twitter:card"%' AS has_twitter
      FROM pages)
    SELECT has_og_title, has_og_image, has_twitter,
           CAST(CASE WHEN has_og_title THEN 1 ELSE 0 END
                + CASE WHEN has_og_image THEN 1 ELSE 0 END
                + CASE WHEN has_twitter THEN 1 ELSE 0 END
                AS BIGINT) AS completeness,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM flags GROUP BY has_og_title, has_og_image, has_twitter
    """,
)
def q_social_cards(spark, sf_dir):
    """Social-card completeness census — the share-preview audit that
    doubles as an image-text pairing yield estimate (og:image is the
    one caption-bearing image a page declares; a card without it
    renders as bare text everywhere): pages carry all EIGHT
    presence combinations of og:title / og:image / twitter:card (the
    3-bit rotation makes every row of the bitmap census live by
    construction, including the empty head), probed as attribute
    substrings and rolled up as a BITMAP — one row per combination,
    not a lossy precedence class, because downstream consumers want
    different marginals (the share-preview fixer needs missing
    og:image regardless of twitter:card; the pairing pipeline needs
    og:image AND og:title). The completeness column is the bit count.

    Plan/scale: three LIKE probes in one codegen'd projection; ONE
    hash aggregate on the 8-row bitmap."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 8
    head = F.concat(
        F.when(
            m.isin(1, 3, 5, 7),
            F.lit('<meta property="og:title" content="T">'),
        ).otherwise(F.lit("")),
        F.when(
            m.isin(2, 3, 6, 7),
            F.lit('<meta property="og:image" content="i.jpg">'),
        ).otherwise(F.lit("")),
        F.when(
            m.isin(4, 5, 6, 7),
            F.lit(
                '<meta name="twitter:card" '
                'content="summary_large_image">'
            ),
        ).otherwise(F.lit("")),
    )
    flags = ev.select(
        (F.col("event_id") % 11).alias("host"),
        head.contains('property="og:title"').alias("has_og_title"),
        head.contains('property="og:image"').alias("has_og_image"),
        head.contains('name="twitter:card"').alias("has_twitter"),
    )
    return (
        flags.groupBy("has_og_title", "has_og_image", "has_twitter")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .select(
            "has_og_title",
            "has_og_image",
            "has_twitter",
            (
                F.col("has_og_title").cast("int")
                + F.col("has_og_image").cast("int")
                + F.col("has_twitter").cast("int")
            )
            .cast("long")
            .alias("completeness"),
            "n_pages",
            "n_hosts",
        )
    )


@q(
    """
    WITH pages AS (
      SELECT event_id % 9 AS host,
             CASE WHEN event_id % 2 = 0 THEN 'https'
                  ELSE 'http' END AS scheme,
             CASE (event_id // 2) % 3
               WHEN 0 THEN '<img src="http://cdn.example/i.jpg">'
               WHEN 1 THEN
                 '<script src="http://cdn.example/a.js"></script>'
               ELSE '<img src="https://cdn.example/i.jpg">'
                 || '<script src="https://cdn.example/a.js"></script>'
             END AS body
      FROM events),
    cls AS (
      SELECT host,
             scheme = 'https' AS is_https,
             body LIKE '%<script src="http://%' AS has_active,
             body LIKE '%<img src="http://%' AS has_passive
      FROM pages)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COALESCE(SUM(CASE WHEN is_https THEN 1 END), 0)
                AS BIGINT) AS n_https,
           CAST(COALESCE(SUM(CASE WHEN is_https AND has_active
                THEN 1 END), 0) AS BIGINT) AS n_active,
           CAST(COALESCE(SUM(CASE WHEN is_https AND has_passive
                AND NOT has_active THEN 1 END), 0)
                AS BIGINT) AS n_passive,
           CAST(COALESCE(SUM(CASE WHEN is_https AND NOT has_active
                AND NOT has_passive THEN 1 END), 0)
                AS BIGINT) AS n_clean,
           CAST(COALESCE(SUM(CASE WHEN NOT is_https THEN 1 END), 0)
                AS BIGINT) AS n_http,
           CAST(COALESCE(SUM(CASE WHEN is_https AND has_active
                THEN 1 END), 0) * 1000000
                // COALESCE(SUM(CASE WHEN is_https THEN 1 END), 1)
                AS BIGINT) AS active_ppm
    FROM cls GROUP BY host
    """,
)
def q_mixed_content(spark, sf_dir):
    """Mixed-content audit — the HTTPS-migration blocker census that
    complements q_https_migration (a host can be fully migrated and
    still serve pages browsers gut at render time): an https page
    referencing an http:// SCRIPT is active mixed content (blocked
    outright — the page is broken for every modern-browser fetch, so
    its rendered capture diverges from its raw capture), an http://
    IMG is passive (loaded but flagged); http pages are out of scope
    by definition. Precedence active-over-passive per page (a page
    with both needs the script fix first); per host: page counts in
    each class plus the active rate in ppm over https pages only —
    the denominator choice that makes hosts of different migration
    depth comparable.

    Plan/scale: scheme + two LIKE probes in one codegen'd
    projection; ONE hash aggregate on host with map-side partials —
    at 10^10 pages the partials collapse per scan task before the
    9-way (real-world: millions-way) host exchange."""
    ev = _t(spark, sf_dir, "events")
    c = F.expr("(event_id DIV 2) % 3")
    body = (
        F.when(c == 0, F.lit('<img src="http://cdn.example/i.jpg">'))
        .when(
            c == 1,
            F.lit('<script src="http://cdn.example/a.js"></script>'),
        )
        .otherwise(
            F.lit(
                '<img src="https://cdn.example/i.jpg">'
                '<script src="https://cdn.example/a.js"></script>'
            )
        )
    )
    cls = ev.select(
        (F.col("event_id") % 9).alias("host"),
        (F.col("event_id") % 2 == 0).alias("is_https"),
        body.contains('<script src="http://').alias("has_active"),
        body.contains('<img src="http://').alias("has_passive"),
    )
    act = F.when(F.col("is_https") & F.col("has_active"), 1)
    return cls.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.coalesce(F.sum(F.when(F.col("is_https"), 1)), F.lit(0))
        .cast("long")
        .alias("n_https"),
        F.coalesce(F.sum(act), F.lit(0)).cast("long").alias("n_active"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("is_https")
                    & F.col("has_passive")
                    & ~F.col("has_active"),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_passive"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("is_https")
                    & ~F.col("has_active")
                    & ~F.col("has_passive"),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_clean"),
        F.coalesce(F.sum(F.when(~F.col("is_https"), 1)), F.lit(0))
        .cast("long")
        .alias("n_http"),
        F.expr(
            "COALESCE(SUM(CASE WHEN is_https AND has_active THEN 1"
            " END), 0) * 1000000 DIV"
            " COALESCE(SUM(CASE WHEN is_https THEN 1 END), 1)"
        )
        .cast("long")
        .alias("active_ppm"),
    )


@q(
    """
    WITH tags AS (
      SELECT event_id % 11 AS host,
             '<script src="'
             || CASE WHEN event_id % 2 = 1
                  THEN 'https://cdn.thirdparty.example/lib.js'
                  ELSE '/static/app.js' END
             || '"'
             || CASE WHEN (event_id // 2) % 2 = 1
                  THEN ' integrity="'
                    || CASE (event_id // 4) % 3
                         WHEN 0 THEN 'sha256'
                         WHEN 1 THEN 'sha384'
                         ELSE 'sha512' END
                    || '-9hKQAAAA==" crossorigin="anonymous"'
                  ELSE '' END
             || '></script>' AS tag
      FROM events),
    parsed AS (
      SELECT host,
             tag LIKE '%src="https://%' AS is_third_party,
             CASE WHEN regexp_extract(tag,
                    'integrity="(sha[0-9]+)-', 1) = ''
                  THEN '(none)'
                  ELSE regexp_extract(tag,
                    'integrity="(sha[0-9]+)-', 1)
             END AS algo
      FROM tags)
    SELECT is_third_party, algo,
           CAST(COUNT(*) AS BIGINT) AS n_scripts,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM parsed GROUP BY is_third_party, algo
    """,
)
def q_sri_coverage(spark, sf_dir):
    """Subresource-integrity coverage census — the supply-chain
    exposure audit for rendered captures (a third-party script tag
    WITHOUT an integrity hash means the archived page's behavior
    depends on whatever the CDN served that day — the capture is
    not self-certifying): script tags split first-party
    (path-relative src) vs third-party (absolute https src), the
    integrity algorithm captured when present, '(none)' as a
    first-class row — the exposure number IS the (third-party,
    none) cell. Algorithm breakdown matters because sha256-only
    hosts predate the sha384 CSP guidance and recrawl-priority
    wants them distinguished from covered-but-modern.

    Plan/scale: one LIKE probe + one regexp capture in a codegen'd
    projection; ONE hash aggregate on the 8-row (origin, algo)
    key with map-side partials."""
    ev = _t(spark, sf_dir, "events")
    algo_code = F.expr("(event_id DIV 4) % 3")
    tag = F.concat(
        F.lit('<script src="'),
        F.when(
            F.col("event_id") % 2 == 1,
            F.lit("https://cdn.thirdparty.example/lib.js"),
        ).otherwise(F.lit("/static/app.js")),
        F.lit('"'),
        F.when(
            F.expr("(event_id DIV 2) % 2") == 1,
            F.concat(
                F.lit(' integrity="'),
                F.when(algo_code == 0, F.lit("sha256"))
                .when(algo_code == 1, F.lit("sha384"))
                .otherwise(F.lit("sha512")),
                F.lit('-9hKQAAAA==" crossorigin="anonymous"'),
            ),
        ).otherwise(F.lit("")),
        F.lit("></script>"),
    )
    algo_raw = F.regexp_extract(tag, r'integrity="(sha[0-9]+)-', 1)
    parsed = ev.select(
        (F.col("event_id") % 11).alias("host"),
        tag.contains('src="https://').alias("is_third_party"),
        F.when(algo_raw == "", F.lit("(none)"))
        .otherwise(algo_raw)
        .alias("algo"),
    )
    return parsed.groupBy("is_third_party", "algo").agg(
        F.count("*").cast("long").alias("n_scripts"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


def mojibake_class_from(pages, body="body"):
    """Shared mojibake-classification core: adds `n_signatures` and
    `text_class` (replacement > double-utf8 > nbsp-debris > clean)
    to `pages`, probing the `body` column for the three signature
    families as literal codepoint alternations. Row-local \u2014 every
    existing column passes through untouched, so callers chain it
    with the other capture-quality cores on one scan. Used by the
    q_mojibake_detect gate and jobs/capture_quality.py (one rule
    source \u2014 the job cannot drift from the gated semantics). All
    literals \\u-escaped in source (raw multi-byte sequences are one
    editor-normalize away from silent corruption)."""
    b = F.col(body)
    keys = list(pages.columns)
    sig = pages.select(
        "*",
        F.regexp_count(
            b,
            F.lit(
                "\u00c3\u00a9|\u00c3\u00af|\u00e2\u20ac\u2122"
                "|\u00e2\u20ac\u0153"
            ),
        )
        .cast("long")
        .alias("_n_double"),
        F.regexp_count(b, F.lit("\u00c2\u00a0"))
        .cast("long")
        .alias("_n_nbsp"),
        F.regexp_count(b, F.lit("\ufffd"))
        .cast("long")
        .alias("_n_repl"),
    )
    return sig.select(
        *keys,
        (
            F.col("_n_double") + F.col("_n_nbsp") + F.col("_n_repl")
        ).alias("n_signatures"),
        F.when(F.col("_n_repl") > 0, "replacement")
        .when(F.col("_n_double") > 0, "double-utf8")
        .when(F.col("_n_nbsp") > 0, "nbsp-debris")
        .otherwise("clean")
        .alias("text_class"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 1 THEN 'caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9 na\u00c3\u00afve'
               WHEN 2 THEN 'don\u00e2\u20ac\u2122t can\u00e2\u20ac\u2122t \u00e2\u20ac\u0153quoted'
               WHEN 3 THEN 'price:\u00c2\u00a010\u00c2\u00a0EUR net'
               WHEN 4 THEN 'broken \ufffd decode \ufffd here'
               ELSE text END AS body
      FROM documents),
    sig AS (
      SELECT length(body) AS n_chars,
             CAST(len(regexp_extract_all(body,
               '\u00c3\u00a9|\u00c3\u00af|\u00e2\u20ac\u2122|\u00e2\u20ac\u0153'))
               AS BIGINT) AS n_double,
             CAST(len(regexp_extract_all(body, '\u00c2\u00a0'))
               AS BIGINT) AS n_nbsp,
             CAST(len(regexp_extract_all(body, '\ufffd'))
               AS BIGINT) AS n_repl
      FROM shaped),
    cls AS (
      SELECT n_chars, n_double + n_nbsp + n_repl AS n_sig,
             CASE WHEN n_repl > 0 THEN 'replacement'
                  WHEN n_double > 0 THEN 'double-utf8'
                  WHEN n_nbsp > 0 THEN 'nbsp-debris'
                  ELSE 'clean' END AS text_class
      FROM sig)
    SELECT text_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sig) AS BIGINT) AS n_signatures,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM cls GROUP BY text_class
    """,
)
def q_mojibake_detect(spark, sf_dir):
    """Mojibake detection \u2014 the encoding-debris census that catches
    what charset detection CANNOT (q_extract_charset gates the decode
    of THIS fetch; mojibake is damage already baked into the bytes by
    some upstream transcode, so the document decodes cleanly and
    still reads 'caf\u00c3\u00a9'): three signature families probed as literal
    codepoint sequences \u2014 double-encoded UTF-8 (Latin-1 read of
    UTF-8: '\u00c3\u00a9' '\u00c3\u00af' and the curly-punctuation family '\u00e2\u20ac\u2122' '\u00e2\u20ac\u0153'),
    C2-prefixed NBSP debris ('\u00c2 '), and U+FFFD replacement chars (a
    decoder ALREADY gave up upstream \u2014 irrecoverable, worst class).
    Precedence replacement > double-utf8 > nbsp-debris > clean
    (severity order: FFFD lost the bytes, the others are
    deterministically repairable). Per class: doc count, total
    signature hits, char mass.

    Plan/scale: three regexp counts over literal alternations in one
    codegen'd projection; ONE hash aggregate on the 4-class key. All
    signature literals are \\u-escaped in source \u2014 raw multi-byte
    sequences in a file are themselves one editor-normalize away
    from silent corruption."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    body = (
        F.when(
            m == 1,
            F.lit(
                "caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9"
                " na\u00c3\u00afve"
            ),
        )
        .when(
            m == 2,
            F.lit(
                "don\u00e2\u20ac\u2122t can\u00e2\u20ac\u2122t"
                " \u00e2\u20ac\u0153quoted"
            ),
        )
        .when(m == 3, F.lit("price:\u00c2\u00a010\u00c2\u00a0EUR net"))
        .when(m == 4, F.lit("broken \ufffd decode \ufffd here"))
        .otherwise(F.col("text"))
    )
    pages = docs.select(
        F.length(body).alias("n_chars"), body.alias("body")
    )
    cls = mojibake_class_from(pages)
    return cls.groupBy("text_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_signatures").cast("long").alias("n_signatures"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


def truncation_class_from(pages, body="body"):
    """Shared truncation-classification core: adds `div_deficit` and
    `capture_class` (mid-tag > no-close > unbalanced > complete) to
    `pages`, reading the raw-markup heartbeat of the `body` column —
    a trailing unterminated tag, the </html> probe, and the div
    open/close imbalance as replace-length arithmetic. Row-local,
    all caller columns pass through. Used by the q_truncation_detect
    gate and jobs/capture_quality.py (one rule source)."""
    b = F.col(body)
    keys = list(pages.columns)
    sig = pages.select(
        "*",
        b.rlike("<[^>]*$").alias("_mid_tag"),
        b.contains("</html>").alias("_has_close"),
        (
            (F.length(b) - F.length(F.regexp_replace(b, "<div", "")))
            / 4
        )
        .cast("long")
        .alias("_div_open"),
        (
            (F.length(b) - F.length(F.regexp_replace(b, "</div", "")))
            / 5
        )
        .cast("long")
        .alias("_div_close"),
    )
    return sig.select(
        *keys,
        (F.col("_div_open") - F.col("_div_close")).alias(
            "div_deficit"
        ),
        F.when(F.col("_mid_tag"), "mid-tag")
        .when(~F.col("_has_close"), "no-close")
        .when(F.col("_div_open") != F.col("_div_close"), "unbalanced")
        .otherwise("complete")
        .alias("capture_class"),
    )


@q(
    """
    WITH shaped AS (
      SELECT CASE doc_id % 4
               WHEN 0 THEN '<html><body><div>' || text
                 || '</div></body></html>'
               WHEN 1 THEN '<html><body><div>' || text
                 || '</div></body>'
               WHEN 2 THEN '<html><body><div>' || text
                 || '</div><div cla'
               ELSE '<html><body><div><div>' || text
                 || '</div></body></html>'
             END AS body
      FROM documents),
    sig AS (
      SELECT length(body) AS n_chars,
             regexp_matches(body, '<[^>]*$') AS mid_tag,
             body LIKE '%</html>%' AS has_close,
             (length(body) - length(replace(body, '<div', ''))) // 4
               AS div_open,
             (length(body) - length(replace(body, '</div', ''))) // 5
               AS div_close
      FROM shaped),
    cls AS (
      SELECT n_chars, div_open - div_close AS div_deficit,
             CASE WHEN mid_tag THEN 'mid-tag'
                  WHEN NOT has_close THEN 'no-close'
                  WHEN div_open <> div_close THEN 'unbalanced'
                  ELSE 'complete' END AS capture_class
      FROM sig)
    SELECT capture_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(div_deficit) AS BIGINT) AS div_deficit_sum,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM cls GROUP BY capture_class
    """,
)
def q_truncation_detect(spark, sf_dir):
    """Truncated-capture detection — the markup heartbeat that
    separates 'the server sent a short page' from 'the fetch was cut
    off' (q_content_length_audit compares declared vs received BYTES;
    this reads the received MARKUP and works when no Content-Length
    was declared at all): three independent signals — a trailing
    unterminated tag (the byte stream died inside '<div cla'),
    a missing </html> heartbeat, and an open/close div imbalance
    computed as replace-length arithmetic (no parser needed).
    Precedence mid-tag > no-close > unbalanced > complete: a mid-tag
    cut implies no-close, and the class should name the STRONGEST
    evidence — re-fetch triage reads the class to decide between
    'retry now' (cut) and 'author never closed their divs' (ship it).
    Per class: doc count, summed div deficit, char mass.

    Plan/scale: one anchored regexp + one LIKE + two replace-length
    differences in a codegen'd projection; ONE hash aggregate on the
    4-class key."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    body = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<html><body><div>"),
                F.col("text"),
                F.lit("</div></body></html>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<html><body><div>"),
                F.col("text"),
                F.lit("</div></body>"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("<html><body><div>"),
                F.col("text"),
                F.lit("</div><div cla"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><body><div><div>"),
                F.col("text"),
                F.lit("</div></body></html>"),
            )
        )
    )
    pages = docs.select(
        F.length(body).alias("n_chars"), body.alias("body")
    )
    cls = truncation_class_from(pages)
    return cls.groupBy("capture_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("div_deficit").cast("long").alias("div_deficit_sum"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


@q(
    """
    WITH pages AS (
      SELECT ts AS crawl_ts,
             CASE event_id % 4
               WHEN 0 THEN ts - INTERVAL 10 DAY
               WHEN 1 THEN ts + INTERVAL 3 DAY
               WHEN 2 THEN TIMESTAMP '1970-06-15 00:00:00'
               ELSE NULL END AS published
      FROM events),
    sig AS (
      SELECT crawl_ts, published,
             CASE WHEN published IS NULL THEN NULL
                  ELSE abs(date_diff('microsecond', published,
                           crawl_ts)) // 86400000000 END
               AS abs_skew_days,
             CASE WHEN published IS NULL THEN 'missing'
                  WHEN published > crawl_ts THEN 'future'
                  WHEN year(published) < 1995 THEN 'ancient'
                  ELSE 'ok' END AS date_class
      FROM pages)
    SELECT date_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(MAX(abs_skew_days) AS BIGINT) AS max_abs_skew_days
    FROM sig GROUP BY date_class
    """,
)
def q_date_sanity(spark, sf_dir):
    """Published-date plausibility audit — the sanity gate on the
    extractor's date output before ANY freshness consumer trusts it
    (q_freshness_weights decays by age; a page 'published' three days
    from now or in 1970 poisons the decay silently): each capture's
    declared publish time lands in one of four classes — missing
    (extractor found nothing; its own row because the remediation is
    'improve extraction', not 'distrust the site'), future (declared
    AFTER the crawl observed it — clock skew or template bug; the
    hard impossibility), ancient (before 1995 — predates the web,
    almost always a unix-epoch default leaking through), ok. Skew is
    measured on the exact microsecond lattice and floored to days —
    abs BEFORE the integer division (negative DIV truncates toward
    zero vs floors, diverging across engines).

    Plan/scale: interval arithmetic + one comparison chain in a
    codegen'd projection; ONE hash aggregate on the 4-class key."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 4
    pages = ev.select(
        F.col("ts").alias("crawl_ts"),
        F.when(m == 0, F.expr("ts - INTERVAL 10 DAY"))
        .when(m == 1, F.expr("ts + INTERVAL 3 DAY"))
        .when(m == 2, F.expr("TIMESTAMP '1970-06-15 00:00:00'"))
        .otherwise(F.lit(None).cast("timestamp_ntz"))
        .alias("published"),
    )
    sig = pages.select(
        F.when(
            F.col("published").isNull(), F.lit(None).cast("long")
        )
        .otherwise(
            F.expr(
                "abs(timestampdiff(MICROSECOND, published,"
                " crawl_ts)) DIV 86400000000"
            )
        )
        .alias("abs_skew_days"),
        F.when(F.col("published").isNull(), "missing")
        .when(F.col("published") > F.col("crawl_ts"), "future")
        .when(F.year("published") < 1995, "ancient")
        .otherwise("ok")
        .alias("date_class"),
    )
    return sig.groupBy("date_class").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.max("abs_skew_days").cast("long").alias("max_abs_skew_days"),
    )


def parked_class_from(pages, body="body"):
    """Shared parked/placeholder-classification core: adds
    `page_class` (parked > suspended > placeholder > thin > content)
    to `pages`, probing the lowercased `body` column for the phrase
    families and the <40-char thin floor. Row-local, all caller
    columns pass through. Used by the q_parked_domain gate and
    jobs/capture_quality.py (one rule source)."""
    t = F.lower(F.col(body))
    return pages.select(
        "*",
        F.when(
            t.contains("domain is for sale")
            | t.contains("buy this domain"),
            "parked",
        )
        .when(t.contains("account suspended"), "suspended")
        .when(
            t.contains("coming soon")
            | t.contains("under construction"),
            "placeholder",
        )
        .when(F.length(F.col(body)) < 40, "thin")
        .otherwise("content")
        .alias("page_class"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id % 13 AS host,
             CASE doc_id % 5
               WHEN 1 THEN 'This domain is for sale.'
                 || ' Buy this domain today.'
               WHEN 2 THEN 'Account suspended. Please contact'
                 || ' your hosting provider.'
               WHEN 3 THEN 'Coming soon. This site is under'
                 || ' construction.'
               WHEN 4 THEN 'Hi there.'
               ELSE text END AS body
      FROM documents),
    sig AS (
      SELECT host, length(body) AS n_chars, lower(body) AS t
      FROM shaped),
    cls AS (
      SELECT host, n_chars,
             CASE WHEN t LIKE '%domain is for sale%'
                    OR t LIKE '%buy this domain%' THEN 'parked'
                  WHEN t LIKE '%account suspended%' THEN 'suspended'
                  WHEN t LIKE '%coming soon%'
                    OR t LIKE '%under construction%'
                    THEN 'placeholder'
                  WHEN n_chars < 40 THEN 'thin'
                  ELSE 'content' END AS page_class
      FROM sig)
    SELECT page_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM cls GROUP BY page_class
    """,
)
def q_parked_domain(spark, sf_dir):
    """Parked-domain detection — the corpus-poison filter for the
    class of pages that are technically 200-OK HTML and semantically
    nothing (registrar sale pages, host-suspension notices,
    under-construction placeholders): phrase families probed on the
    lowercased body with PRECEDENCE parked > suspended > placeholder
    (sale phrasing wins over a co-present suspension notice: the
    domain is changing hands, so the url's content history is dead
    regardless of why it went down), then a thin floor (< 40 chars
    — too short to classify,
    too short to train on), then content. n_hosts matters more than
    n_docs for this audit: one parked host contributes every one of
    its urls, so the remediation list is hosts, not pages.

    Plan/scale: five LIKE probes on one lowercased projection; ONE
    hash aggregate on the 5-class key (distinct-host expand bounded
    by classes x hosts)."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    body = (
        F.when(
            m == 1,
            F.lit("This domain is for sale. Buy this domain today."),
        )
        .when(
            m == 2,
            F.lit(
                "Account suspended. Please contact"
                " your hosting provider."
            ),
        )
        .when(
            m == 3,
            F.lit("Coming soon. This site is under construction."),
        )
        .when(m == 4, F.lit("Hi there."))
        .otherwise(F.col("text"))
    )
    pages = docs.select(
        (F.col("doc_id") % 13).alias("host"),
        F.length(body).alias("n_chars"),
        body.alias("body"),
    )
    cls = parked_class_from(pages).drop("body")
    return cls.groupBy("page_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id % 9 AS host,
             CASE event_id % 6
               WHEN 0 THEN '{"@context":"https://schema.org",'
                 || '"@type":"Article","headline":"H"}'
               WHEN 1 THEN '{"@type":"NewsArticle",'
                 || '"headline":"N","datePublished":"2026-01-01"}'
               WHEN 2 THEN '{"@type":"Product","name":"P"}'
               WHEN 3 THEN '{"@type":"FAQPage"}'
               WHEN 4 THEN '{"@graph":[{"@type":"BreadcrumbList"}]}'
               ELSE '' END AS jsonld
      FROM events),
    parsed AS (
      SELECT host,
             CASE WHEN regexp_extract(jsonld,
                    '"@type"\\s*:\\s*"(\\w+)"', 1) = ''
                  THEN '(none)'
                  ELSE regexp_extract(jsonld,
                    '"@type"\\s*:\\s*"(\\w+)"', 1)
             END AS schema_type,
             jsonld LIKE '%"headline"%' AS has_headline
      FROM pages)
    SELECT schema_type,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COALESCE(SUM(CASE WHEN has_headline THEN 1 END), 0)
                AS BIGINT) AS n_with_headline,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM parsed GROUP BY schema_type
    """,
)
def q_jsonld_types(spark, sf_dir):
    """Corpus-level schema.org @type census — what the page-level
    JSON-LD extraction gate (q_extract_jsonld) feeds once it runs at
    corpus scale: the mixture of declared document types IS the
    corpus composition signal a pretraining sampler weights on
    (Article/NewsArticle are prose; Product and FAQPage are
    template-heavy and get different dedup treatment). The @type is
    captured from the raw blob including the @graph-wrapped form (a
    nested envelope must not read as '(none)'), '(none)' is a
    first-class row, and has_headline tracks the one property the
    title-fallback chain consumes — a type census without it can't
    say whether the structured data is actually USABLE.

    Plan/scale: one regexp capture + one LIKE in a codegen'd
    projection; ONE hash aggregate on the 6-row type key."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    jsonld = (
        F.when(
            m == 0,
            F.lit(
                '{"@context":"https://schema.org",'
                '"@type":"Article","headline":"H"}'
            ),
        )
        .when(
            m == 1,
            F.lit(
                '{"@type":"NewsArticle",'
                '"headline":"N","datePublished":"2026-01-01"}'
            ),
        )
        .when(m == 2, F.lit('{"@type":"Product","name":"P"}'))
        .when(m == 3, F.lit('{"@type":"FAQPage"}'))
        .when(
            m == 4,
            F.lit('{"@graph":[{"@type":"BreadcrumbList"}]}'),
        )
        .otherwise(F.lit(""))
    )
    ty = F.regexp_extract(jsonld, r'"@type"\s*:\s*"(\w+)"', 1)
    parsed = ev.select(
        (F.col("event_id") % 9).alias("host"),
        F.when(ty == "", F.lit("(none)")).otherwise(ty).alias(
            "schema_type"
        ),
        jsonld.contains('"headline"').alias("has_headline"),
    )
    return parsed.groupBy("schema_type").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.coalesce(F.sum(F.when(F.col("has_headline"), 1)), F.lit(0))
        .cast("long")
        .alias("n_with_headline"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id % 7 AS host,
             CASE WHEN event_id % 2 = 1 THEN
               '<link rel="preconnect" href="https://cdn.example">'
               ELSE '' END
             || CASE WHEN (event_id // 2) % 2 = 1 THEN
               '<link rel="dns-prefetch" href="//cdn.example">'
               ELSE '' END
             || CASE WHEN (event_id // 4) % 2 = 1 THEN
               '<link rel="preload" href="/f.woff2"'
               || CASE WHEN (event_id // 8) % 2 = 1
                    THEN ' as="font"' ELSE '' END
               || '>'
               ELSE '' END AS head
      FROM events),
    sig AS (
      SELECT host,
             CAST(len(regexp_extract_all(head, 'rel="preconnect"'))
               AS BIGINT) AS n_pc,
             CAST(len(regexp_extract_all(head, 'rel="dns-prefetch"'))
               AS BIGINT) AS n_dp,
             CAST(len(regexp_extract_all(head, 'rel="preload"'))
               AS BIGINT) AS n_pl,
             CASE WHEN head LIKE '%rel="preload"%'
                    AND head NOT LIKE '%as="%'
               THEN 1 ELSE 0 END AS n_pl_no_as
      FROM pages)
    SELECT 'preconnect' AS hint,
           CAST(COALESCE(SUM(CASE WHEN n_pc > 0 THEN 1 END), 0)
                AS BIGINT) AS n_pages,
           CAST(SUM(n_pc) AS BIGINT) AS n_tags,
           CAST(0 AS BIGINT) AS n_missing_as,
           CAST(COUNT(DISTINCT CASE WHEN n_pc > 0 THEN host END)
                AS BIGINT) AS n_hosts
    FROM sig
    UNION ALL
    SELECT 'dns-prefetch',
           CAST(COALESCE(SUM(CASE WHEN n_dp > 0 THEN 1 END), 0)
                AS BIGINT),
           CAST(SUM(n_dp) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN n_dp > 0 THEN host END)
                AS BIGINT)
    FROM sig
    UNION ALL
    SELECT 'preload',
           CAST(COALESCE(SUM(CASE WHEN n_pl > 0 THEN 1 END), 0)
                AS BIGINT),
           CAST(SUM(n_pl) AS BIGINT),
           CAST(SUM(n_pl_no_as) AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN n_pl > 0 THEN host END)
                AS BIGINT)
    FROM sig
    """,
)
def q_resource_hints(spark, sf_dir):
    """Resource-hint census — the third-party dependency map a
    renderer warm-up and a tracker auditor both read (every
    preconnect/dns-prefetch names an origin the page intends to hit
    before any request exists; preload names the critical asset):
    per-page hint counts unpivoted to one row per hint kind, with
    the audit-grade defect column n_missing_as — a rel="preload"
    without as= is IGNORED by every browser (the fetch happens with
    wrong priority and no cache match), so coverage numbers that
    don't subtract it overstate readiness. Pages carry independent
    presence bits per hint (all combinations live).

    Plan/scale: three literal-pattern counts in one codegen'd
    projection, then ONE aggregate producing per-hint partials and a
    3-row stack unpivot ON THE AGGREGATED result — the unpivot
    multiplies 1 row by 3, never the page table; the oracle mirrors
    it as UNION ALL over the same single-pass signals."""
    ev = _t(spark, sf_dir, "events")
    head = F.concat(
        F.when(
            F.col("event_id") % 2 == 1,
            F.lit(
                '<link rel="preconnect" href="https://cdn.example">'
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("(event_id DIV 2) % 2") == 1,
            F.lit('<link rel="dns-prefetch" href="//cdn.example">'),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("(event_id DIV 4) % 2") == 1,
            F.concat(
                F.lit('<link rel="preload" href="/f.woff2"'),
                F.when(
                    F.expr("(event_id DIV 8) % 2") == 1,
                    F.lit(' as="font"'),
                ).otherwise(F.lit("")),
                F.lit(">"),
            ),
        ).otherwise(F.lit("")),
    )
    sig = ev.select(
        (F.col("event_id") % 7).alias("host"),
        F.regexp_count(head, F.lit('rel="preconnect"'))
        .cast("long")
        .alias("n_pc"),
        F.regexp_count(head, F.lit('rel="dns-prefetch"'))
        .cast("long")
        .alias("n_dp"),
        F.regexp_count(head, F.lit('rel="preload"'))
        .cast("long")
        .alias("n_pl"),
        F.when(
            head.contains('rel="preload"') & ~head.contains('as="'),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("n_pl_no_as"),
    )
    agg = sig.agg(
        F.coalesce(F.sum(F.when(F.col("n_pc") > 0, 1)), F.lit(0))
        .cast("long")
        .alias("pc_pages"),
        F.sum("n_pc").cast("long").alias("pc_tags"),
        F.countDistinct(
            F.when(F.col("n_pc") > 0, F.col("host"))
        )
        .cast("long")
        .alias("pc_hosts"),
        F.coalesce(F.sum(F.when(F.col("n_dp") > 0, 1)), F.lit(0))
        .cast("long")
        .alias("dp_pages"),
        F.sum("n_dp").cast("long").alias("dp_tags"),
        F.countDistinct(
            F.when(F.col("n_dp") > 0, F.col("host"))
        )
        .cast("long")
        .alias("dp_hosts"),
        F.coalesce(F.sum(F.when(F.col("n_pl") > 0, 1)), F.lit(0))
        .cast("long")
        .alias("pl_pages"),
        F.sum("n_pl").cast("long").alias("pl_tags"),
        F.sum("n_pl_no_as").cast("long").alias("pl_no_as"),
        F.countDistinct(
            F.when(F.col("n_pl") > 0, F.col("host"))
        )
        .cast("long")
        .alias("pl_hosts"),
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " 'preconnect', pc_pages, pc_tags, CAST(0 AS BIGINT),"
            "   pc_hosts,"
            " 'dns-prefetch', dp_pages, dp_tags, CAST(0 AS BIGINT),"
            "   dp_hosts,"
            " 'preload', pl_pages, pl_tags, pl_no_as, pl_hosts)"
            " AS (hint, n_pages, n_tags, n_missing_as, n_hosts)"
        )
    )


@q(
    """
    WITH canon AS (
      SELECT event_id // 2 AS u,
             (event_id // 2) % 9 AS host,
             (event_id // 2) % 4 IN (0, 1) AS points
      FROM events WHERE event_id % 2 = 0),
    amp AS (
      SELECT event_id // 2 AS u
      FROM events
      WHERE event_id % 2 = 1 AND (event_id // 2) % 4 IN (0, 2)),
    cls AS (
      SELECT c.host,
             CASE WHEN c.points AND a.u IS NOT NULL THEN 'paired'
                  WHEN c.points THEN 'dangling-pointer'
                  WHEN a.u IS NOT NULL THEN 'orphan-amp'
                  ELSE 'no-amp' END AS pairing_class
      FROM canon c LEFT JOIN amp a ON c.u = a.u)
    SELECT pairing_class,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM cls GROUP BY pairing_class
    """,
)
def q_amp_pairing(spark, sf_dir):
    """AMP pairing audit — the capture-dedup prerequisite for the
    AMP ecosystem (an AMP variant is the SAME document; an unpaired
    one is a duplicate the exact-dedup pass will never key
    together because the bytes differ): the canonical corpus left-
    joins its AMP captures on the url pair key and each canonical
    page lands in one of four classes — paired (rel="amphtml"
    pointer AND the AMP capture exists: safe to collapse),
    dangling-pointer (the pointer names a capture the crawl never
    fetched: frontier work), orphan-amp (an AMP capture exists but
    the canonical stopped declaring it: the variant is stale and
    should be dropped, not deduped), no-amp. Both sides derive from
    ONE scan of the capture table split by variant flag.

    Plan/scale: equi-join on the pair key — both sides are
    projections of the same table, so at 10^10 captures this is a
    co-partitioned sort-merge join (the AMP side is a small fraction
    of the corpus and broadcast-eligible when its absolute size
    allows); ONE hash aggregate on the 4-class key after the join."""
    ev = _t(spark, sf_dir, "events")
    u = F.expr("event_id DIV 2")
    canon = ev.filter(F.col("event_id") % 2 == 0).select(
        u.alias("u"),
        (u % 9).alias("host"),
        (u % 4).isin(0, 1).alias("points"),
    )
    amp = (
        ev.filter(
            (F.col("event_id") % 2 == 1) & (u % 4).isin(0, 2)
        )
        .select(u.alias("au"))
    )
    cls = canon.join(
        amp, canon["u"] == amp["au"], "left"
    ).select(
        "host",
        F.when(
            F.col("points") & F.col("au").isNotNull(), "paired"
        )
        .when(F.col("points"), "dangling-pointer")
        .when(F.col("au").isNotNull(), "orphan-amp")
        .otherwise("no-amp")
        .alias("pairing_class"),
    )
    return cls.groupBy("pairing_class").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN '<html><body><p>x</p></body></html>'
               WHEN 1 THEN '<html><body><div><div><div>x'
                 || '</div></div></div></body></html>'
               WHEN 2 THEN '<html><p>a</p><p>b</p></html>'
               ELSE '<html><body><br><img><p>t</p></body></html>'
             END AS body
      FROM documents),
    toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(body, '</?[a-z]+')) AS tok,
             generate_subscripts(
               regexp_extract_all(body, '</?[a-z]+'), 1) AS ord
      FROM shaped),
    d AS (
      SELECT doc_id, ord,
             CASE WHEN substr(tok, 2, 1) = '/' THEN
               CASE WHEN substr(tok, 3) IN
                 ('br','img','hr','meta','link','input')
                 THEN 0 ELSE -1 END
             ELSE
               CASE WHEN substr(tok, 2) IN
                 ('br','img','hr','meta','link','input')
                 THEN 0 ELSE 1 END
             END AS delta
      FROM toks),
    per_doc AS (
      SELECT doc_id, CAST(MAX(depth) AS BIGINT) AS max_depth,
             CAST(COUNT(*) AS BIGINT) AS n_tags
      FROM (
        SELECT doc_id,
               CAST(SUM(delta) OVER (
                 PARTITION BY doc_id ORDER BY ord) AS BIGINT)
                 AS depth
        FROM d)
      GROUP BY doc_id)
    SELECT max_depth,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tags) AS BIGINT) AS n_tags
    FROM per_doc GROUP BY max_depth
    """,
)
def q_dom_nesting(spark, sf_dir):
    """DOM nesting-depth census — the template-complexity signal
    that separates hand-written prose pages (shallow, few tags) from
    framework-generated shells (a 40-deep div pyramid around two
    sentences is a STRONG boilerplate prior, and the extractor's
    scoring pass weights ancestors by depth): depth is a running
    balance over the tag stream — +1 on an opening tag, -1 on a
    close, 0 for the HTML void elements (br/img/hr/meta/link/input
    never close, so counting their opens would inflate every page
    that uses line breaks) — and the page's figure is the MAXIMUM of
    that balance, not the final value (a truncated page ends
    positive; its peak is still the real nesting).

    Plan/scale: regexp tag extraction fans out via posexplode, the
    running balance is one cumulative-sum window partitioned by
    doc (the explode and the window share the doc key — one
    exchange), per-doc max collapses the fan-out back, and the
    census aggregate is bounded by the depth alphabet. At 10^10
    docs the fan-out is ~tags-per-page x rows but never leaves the
    doc partition between window and collapse."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    body = (
        F.when(m == 0, F.lit("<html><body><p>x</p></body></html>"))
        .when(
            m == 1,
            F.lit(
                "<html><body><div><div><div>x"
                "</div></div></div></body></html>"
            ),
        )
        .when(m == 2, F.lit("<html><p>a</p><p>b</p></html>"))
        .otherwise(
            F.lit("<html><body><br><img><p>t</p></body></html>")
        )
    )
    shaped = docs.select("doc_id", body.alias("body"))
    toks = shaped.select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(body, '</?[a-z]+', 0)")
        ).alias("ord", "tok"),
    )
    void = ("br", "img", "hr", "meta", "link", "input")
    d = toks.select(
        "doc_id",
        "ord",
        F.when(
            F.substring("tok", 2, 1) == "/",
            F.when(
                F.expr("substr(tok, 3)").isin(*void), F.lit(0)
            ).otherwise(F.lit(-1)),
        )
        .otherwise(
            F.when(
                F.expr("substr(tok, 2)").isin(*void), F.lit(0)
            ).otherwise(F.lit(1))
        )
        .alias("delta"),
    )
    w = Window.partitionBy("doc_id").orderBy("ord")
    per_doc = (
        d.select(
            "doc_id",
            F.sum("delta").over(w).cast("long").alias("depth"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("depth").cast("long").alias("max_depth"),
            F.count("*").cast("long").alias("n_tags"),
        )
    )
    return per_doc.groupBy("max_depth").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tags").cast("long").alias("n_tags"),
    )


@q(
    """
    WITH pages AS (
      SELECT event_id % 9 AS host,
             CASE event_id % 5
               WHEN 0 THEN '<html><body><article>'
                 || repeat('Readable paragraph text. ', 10)
                 || '</article></body></html>'
               WHEN 1 THEN '<html><body><div id="root"></div>'
                 || '<script src="/app.js"></script>'
                 || '<script src="/vendor.js"></script>'
                 || '</body></html>'
               WHEN 2 THEN '<html><body><div id="root"></div>'
                 || '<noscript>Enable JS to view this site.'
                 || '</noscript><script src="/b.js"></script>'
                 || '</body></html>'
               WHEN 3 THEN '<html><body><p>'
                 || repeat('Some server text. ', 5)
                 || '</p><script src="/enhance.js"></script>'
                 || '</body></html>'
               ELSE '<html><body><article>'
                 || repeat('Server-rendered article text. ', 10)
                 || '</article><script src="/analytics.js">'
                 || '</script></body></html>'
             END AS html
      FROM events),
    sig AS (
      SELECT host,
             length(regexp_replace(regexp_replace(html,
               '<script[^<]*</script>|<script[^>]*>', '', 'g'),
               '<[^>]*>', '', 'g')) AS text_chars,
             CAST(len(regexp_extract_all(html, '<script'))
               AS BIGINT) AS n_scripts,
             regexp_matches(html,
               '<div id="root">\\s*</div>') AS empty_root,
             html LIKE '%<noscript>%' AS has_noscript
      FROM pages)
    SELECT CASE WHEN empty_root AND text_chars < 60
                  THEN 'spa-shell'
                WHEN n_scripts > 0 AND text_chars < 200
                  THEN 'hybrid'
                WHEN n_scripts > 0 THEN 'enhanced-static'
                ELSE 'static' END AS render_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COALESCE(SUM(CASE WHEN has_noscript THEN 1 END), 0)
                AS BIGINT) AS n_noscript,
           CAST(SUM(text_chars) AS BIGINT) AS text_chars,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM sig GROUP BY 1
    """,
)
def q_render_need(spark, sf_dir):
    """Render-need detection — the crawl-economics fork that decides
    which urls go to the cheap HTTP fetcher and which to the
    100x-costlier headless-browser pool: a page whose served HTML is
    an empty framework mount point ('<div id="root"></div>') with
    almost no text OUTSIDE scripts is a SPA shell — fetching it
    without rendering archives nothing. Text mass is measured after
    stripping script bodies THEN all tags (script JS would otherwise
    count as text and hide the shell); the noscript marginal is
    tracked because a noscript fallback sometimes carries enough to
    skip rendering. Classes: spa-shell (empty root + text < 60) >
    hybrid (scripts + thin text) > enhanced-static > static.

    Plan/scale: two nested regexp_replace passes + a literal count
    in one codegen'd projection; ONE hash aggregate on the 4-class
    key. At 10^10 pages this classification is what keeps the
    render-pool queue 10-100x smaller than the fetch queue."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 5
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<html><body><article>"),
                F.expr("repeat('Readable paragraph text. ', 10)"),
                F.lit("</article></body></html>"),
            ),
        )
        .when(
            m == 1,
            F.lit(
                '<html><body><div id="root"></div>'
                '<script src="/app.js"></script>'
                '<script src="/vendor.js"></script>'
                "</body></html>"
            ),
        )
        .when(
            m == 2,
            F.lit(
                '<html><body><div id="root"></div>'
                "<noscript>Enable JS to view this site."
                '</noscript><script src="/b.js"></script>'
                "</body></html>"
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("<html><body><p>"),
                F.expr("repeat('Some server text. ', 5)"),
                F.lit('</p><script src="/enhance.js"></script>'),
                F.lit("</body></html>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><body><article>"),
                F.expr("repeat('Server-rendered article text. ', 10)"),
                F.lit('</article><script src="/analytics.js">'),
                F.lit("</script></body></html>"),
            )
        )
    )
    sig = ev.select(
        (F.col("event_id") % 9).alias("host"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(
                    html,
                    r"<script[^<]*</script>|<script[^>]*>",
                    "",
                ),
                "<[^>]*>",
                "",
            )
        ).alias("text_chars"),
        F.regexp_count(html, F.lit("<script"))
        .cast("long")
        .alias("n_scripts"),
        html.rlike(r'<div id="root">\s*</div>').alias("empty_root"),
        html.contains("<noscript>").alias("has_noscript"),
    )
    cls = sig.select(
        "host",
        "text_chars",
        "has_noscript",
        F.when(
            F.col("empty_root") & (F.col("text_chars") < 60),
            "spa-shell",
        )
        .when(
            (F.col("n_scripts") > 0) & (F.col("text_chars") < 200),
            "hybrid",
        )
        .when(F.col("n_scripts") > 0, "enhanced-static")
        .otherwise("static")
        .alias("render_class"),
    )
    return cls.groupBy("render_class").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.coalesce(F.sum(F.when(F.col("has_noscript"), 1)), F.lit(0))
        .cast("long")
        .alias("n_noscript"),
        F.sum("text_chars").cast("long").alias("text_chars"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             'Visible article text that a reader actually sees.'
             || CASE doc_id % 4
               WHEN 1 THEN '<div style="display:none">cheap pills'
                 || ' casino poker cheap pills casino</div>'
               WHEN 2 THEN '<span style="font-size:0">keywords'
                 || ' keywords keywords keywords</span>'
               WHEN 3 THEN '<div style="visibility:hidden">x</div>'
               ELSE '' END AS body
      FROM documents),
    sig AS (
      SELECT doc_id,
             CAST(length(regexp_extract(body,
               'style="[^"]*(?:display:none|font-size:0'
               || '|visibility:hidden)[^"]*">([^<]*)<', 1))
               AS BIGINT) AS hidden_chars,
             CAST(length(regexp_replace(body, '<[^>]*>[^<]*<[^>]*>',
               '', 'g')) AS BIGINT) AS visible_chars
      FROM shaped),
    cls AS (
      SELECT hidden_chars, visible_chars,
             CASE WHEN hidden_chars >= 20 THEN 'stuffing'
                  WHEN hidden_chars > 0 THEN 'hidden-minor'
                  ELSE 'clean' END AS hidden_class
      FROM sig)
    SELECT hidden_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hidden_chars) AS BIGINT) AS hidden_chars,
           CAST(SUM(hidden_chars) * 1000000
                // GREATEST(SUM(hidden_chars)
                + SUM(visible_chars), 1) AS BIGINT) AS hidden_ppm
    FROM cls GROUP BY hidden_class
    """,
)
def q_hidden_text(spark, sf_dir):
    """Hidden-text detection — the keyword-stuffing gate (SEO spam
    hides a paragraph of money-keywords inside display:none /
    font-size:0 / visibility:hidden blocks; the rendered page is
    clean, the INDEXED text is poisoned, and a training corpus that
    keeps it learns the spam vocabulary attached to innocent
    contexts): hidden mass is the captured content of the first
    style-hidden block (all three hiding idioms in one alternation),
    classed stuffing (>= 20 hidden chars — a keyword list) vs
    hidden-minor (a stray hidden element; legitimate templates do
    this) vs clean. hidden_ppm gives the poisoned share of the
    page's total text.

    Plan/scale: one capture-group regexp + one strip in a codegen'd
    projection; ONE hash aggregate on the 3-class key."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    body = F.concat(
        F.lit("Visible article text that a reader actually sees."),
        F.when(
            m == 1,
            F.lit(
                '<div style="display:none">cheap pills'
                " casino poker cheap pills casino</div>"
            ),
        )
        .when(
            m == 2,
            F.lit(
                '<span style="font-size:0">keywords'
                " keywords keywords keywords</span>"
            ),
        )
        .when(m == 3, F.lit('<div style="visibility:hidden">x</div>'))
        .otherwise(F.lit("")),
    )
    sig = docs.select(
        F.length(
            F.regexp_extract(
                body,
                r'style="[^"]*(?:display:none|font-size:0'
                r'|visibility:hidden)[^"]*">([^<]*)<',
                1,
            )
        )
        .cast("long")
        .alias("hidden_chars"),
        F.length(
            F.regexp_replace(body, r"<[^>]*>[^<]*<[^>]*>", "")
        )
        .cast("long")
        .alias("visible_chars"),
    )
    cls = sig.select(
        "hidden_chars",
        "visible_chars",
        F.when(F.col("hidden_chars") >= 20, "stuffing")
        .when(F.col("hidden_chars") > 0, "hidden-minor")
        .otherwise("clean")
        .alias("hidden_class"),
    )
    return cls.groupBy("hidden_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("hidden_chars").cast("long").alias("hidden_chars"),
        F.expr(
            "SUM(hidden_chars) * 1000000 DIV"
            " GREATEST(SUM(hidden_chars) + SUM(visible_chars), 1)"
        )
        .cast("long")
        .alias("hidden_ppm"),
    )
