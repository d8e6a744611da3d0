"""Query rows registered from round 8 on: the curation chain, media
decoders, retrieval, ANN, mixtures, containers and the other
LLM-data rows. Each row registers at its definition through
``registry.query``, exactly like the rows in ``registry.py``, with its
oracle SQL (or the helper that builds it) defined just above it.

``registry.py`` imports this module at its end, so importing either
module registers every row, in the same order.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from . import util as _util
from .functions import text as TX
from .functions import urls as URLS
from .operators import asof, dedup, multimodal, similarity, sketches, suffixes
from .registry import _URL_MODEL_SQL, _cat, query
from .sources import tarball, ziparchive


MULTIMODAL_JPEG_PROGRESSIVE_ORACLE = """
    WITH geo AS (SELECT doc_id, CAST(doc_id % 2 + 2 AS BIGINT) AS cx,
                        CAST(doc_id % 3 + 2 AS BIGINT) AS cy
                 FROM documents),
    px AS (
      SELECT g.doc_id, g.cx * 8 AS w, g.cy * 8 AS h, gx.x, gy.y,
             (g.doc_id * 17 + (gx.x // 8) * 41 + (gy.y // 8) * 67 + 37)
               % 256 AS v
      FROM geo g, generate_series(0, 23) gx(x), generate_series(0, 31) gy(y)
      WHERE gx.x < g.cx * 8 AND gy.y < g.cy * 8)
    SELECT doc_id AS media_id, 'jpeg' AS media_type,
           CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM((px.x + px.y * w + 1) * v) AS BIGINT) AS wsum_v,
           true AS ok
    FROM px GROUP BY doc_id
"""


@query(
    "multimodal_jpeg_progressive_probe",
    oracle=MULTIMODAL_JPEG_PROGRESSIVE_ORACLE,
)
def multimodal_jpeg_progressive_probe(spark, sf_dir):
    """L5 multimodal, PROGRESSIVE (SOF2) grayscale JPEG — the r7
    decoder (full Annex G: spectral-selection bands, successive
    approximation with DC/AC first + refinement passes, EOB runs,
    per-scan restarts) paired with the codegen synthesizer's four-scan
    scan script. The generative pixel model (constant 8x8 blocks,
    all-ones quant: blocks_x = id%2+2, blocks_y = id%3+2, V = (id*17 +
    bx*41 + by*67 + 37) % 256) round-trips bit-exactly, so the oracle
    replays pixels with the position-weighted checksum — any decoder
    that mis-accumulates coefficients across scans or mis-applies a
    refinement pass cannot pass by luck. Same single-split input
    spread as the other media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_jpeg_progressive_payloads(d, "doc_id")
    feats = multimodal.decode_jpeg_features(media)
    return feats.select(
        "media_id", "media_type", "width", "height", "n_pixels",
        "sum_v", "wsum_v", "ok",
    )


URL_ROBOTS_FILTER_ORACLE = f"""
    WITH {_URL_MODEL_SQL}
    SELECT canon.doc_id, canon.domain,
           CASE CAST(length(canon.domain) % 4 AS INT)
             WHEN 0 THEN ((p.path LIKE '/p/1%'
                           AND p.path NOT LIKE '/p/12%')
                          OR p.path LIKE '/q/%')
             WHEN 1 THEN (p.path LIKE '/p/2%'
                          AND p.path NOT LIKE '/p/22%')
             WHEN 2 THEN FALSE
             ELSE p.path LIKE '/p/4%' END AS blocked,
           CASE CAST(length(canon.domain) % 4 AS INT)
             WHEN 0 THEN 2 WHEN 1 THEN 5
             ELSE NULL END AS crawl_delay
    FROM canon JOIN p ON canon.doc_id = p.doc_id
"""


@query("url_robots_filter", oracle=URL_ROBOTS_FILTER_ORACLE)
def url_robots_filter(spark, sf_dir):
    """L33 robots.txt politeness filtering (full RFC 9309 precedence —
    longest match wins, Allow wins length ties — plus Crawl-delay
    extraction): the messy-URL corpus's registrable domains each get
    a synthesized robots body (variant = length(domain) % 4, the
    generative-replay idiom; every rule-bearing variant carries an
    Allow-overrides-Disallow case or an equal-length tie), the bodies
    are parsed by the one-codegen-fold robots_rules, and
    robots_filter broadcasts the (domain, rules) table into a
    longest-match decision over every document URL. The oracle never
    parses robots text — it replays the closed-form blocked rule and
    delay straight from the generative models, so the parser, the
    precedence fold, AND the filter are all differentially pinned.
    Scale shape: domains << documents, robots side broadcast, corpus
    scanned once; match + precedence are filter()/aggregate() HOFs in
    codegen. Input spread to session parallelism (r14): the synthesis
    + longest-match HOF chain is map-only, so a single-split source
    would run the whole corpus scan on one core."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id"), spark
    )
    urls = URLS.synthesize_messy_urls(d, "doc_id")
    domains = urls.select(
        URLS.url_domain(F.col("url")).alias("domain")
    ).distinct()
    robots = URLS.synthesize_robots_bodies(domains)
    parsed = robots.select(
        "domain",
        URLS.robots_rules(F.col("robots_txt")).alias("rules"),
        URLS.robots_crawl_delay(F.col("robots_txt")).alias("crawl_delay"),
    )
    # crawl_delay rides the one rules broadcast (r14): a second
    # broadcast join here recomputed the whole urls->distinct->parse
    # subtree as its own job
    out = URLS.robots_filter(
        urls, parsed.select("domain", "rules", "crawl_delay")
    )
    return out.select("doc_id", "domain", "blocked", "crawl_delay")


DEDUP_SEMANTIC_CENTROID_ORACLE = """
    WITH nbits AS (SELECT LEAST(16, GREATEST(4,
                     length(bin(CAST((COUNT(*) + 31) // 32 - 1
                                     AS BIGINT))))) AS nb
                   FROM embeddings),
    sig AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   (SELECT CAST(SUM(CASE WHEN e.embedding[i.i + 1] >= 0
                                    THEN CAST(pow(2, 15 - i.i) AS BIGINT)
                                    ELSE 0 END) AS BIGINT)
                    FROM generate_series(0, 15) i(i)) AS s16
            FROM embeddings e),
    a AS (SELECT vec_id, v,
                 s16 // CAST(pow(2, 16 - nb) AS BIGINT) AS list_id
          FROM sig, nbits),
    ex AS (SELECT list_id, generate_subscripts(v, 1) AS pos,
                  unnest(v) AS val FROM a),
    sums AS (SELECT list_id, pos,
                    SUM(CAST(floor(val * 1000000) AS BIGINT)) AS s
             FROM ex GROUP BY 1, 2),
    cents AS (SELECT list_id, list(s::DOUBLE ORDER BY pos) AS cdir
              FROM sums GROUP BY 1),
    ranked AS (SELECT a.vec_id, a.list_id, a.v,
                      CAST(floor(list_cosine_similarity(a.v, c.cdir)
                                 * 1000000) AS BIGINT) AS centrality_u
               FROM a JOIN cents c USING (list_id)),
    dom AS (SELECT DISTINCT b.vec_id
            FROM ranked x JOIN ranked b ON x.list_id = b.list_id
            WHERE (x.centrality_u < b.centrality_u
                   OR (x.centrality_u = b.centrality_u
                       AND x.vec_id < b.vec_id))
              AND CAST(floor(list_cosine_similarity(x.v, b.v) * 1000000)
                       AS BIGINT) >= 300000)
    SELECT r.vec_id, CAST(r.list_id AS BIGINT) AS list_id,
           r.centrality_u, d.vec_id IS NULL AS kept
    FROM ranked r LEFT JOIN dom d ON r.vec_id = d.vec_id
"""


@query("dedup_semantic_centroid", oracle=DEDUP_SEMANTIC_CENTROID_ORACLE)
def dedup_semantic_centroid(spark, sf_dir):
    """L2c SemDeDup with the PAPER'S keeper policy (Abbas et al. 2023
    keep the LOWEST cosine to the cluster centroid — the
    far-from-centroid representative preserves cluster diversity):
    adaptive-width sign-quantizer clusters, exact integer-sum centroid
    DIRECTIONS (the mean's 1/count cancels inside cosine, so ranking
    against bigint component sums equals ranking against the float
    centroid while staying order-invariant), floor-quantized
    centrality as the rank key, and rank-dominated eviction
    (similarity.semantic_dedup_centroid). Same linear-in-n cost model
    as dedup_semantic; the centroid reduction adds one (cluster, dim)
    aggregation."""
    e = _cat(spark, sf_dir).table("embeddings").df
    dbl = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    nb = similarity.adaptive_sign_bits(dbl.count())
    assigned = similarity.sign_quantize(dbl, n_bits=nb)
    out = similarity.semantic_dedup_centroid(assigned, threshold=0.30)
    return out.select("vec_id", "list_id", "centrality_u", "kept")


DEDUP_SUBSTRING_GROUPS_ORACLE = r"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND length(text) > 0),
    pos AS (
      SELECT doc_id, unnest(generate_series(0, length(text) - 1)) AS pos,
             text FROM docs),
    suf AS (
      SELECT doc_id, pos, substr(text, pos + 1) AS suffix,
             substr(text, pos + 1, 24) AS prefix FROM pos),
    ord AS (
      SELECT doc_id, pos, prefix,
             row_number() OVER (ORDER BY suffix, doc_id, pos) - 1 AS rank
      FROM suf),
    lagged AS (SELECT *, lag(prefix) OVER (ORDER BY rank) AS pprev FROM ord),
    lcpd AS (
      SELECT *, CASE WHEN pprev IS NULL THEN NULL ELSE (
             SELECT COALESCE(MAX(k), 0)
             FROM generate_series(1, 24) AS g(k)
             WHERE k <= least(length(prefix), length(pprev))
               AND substr(prefix, 1, k) = substr(pprev, 1, k))
           END AS lcp_prev
      FROM lagged),
    edged AS (
      SELECT *, lead(lcp_prev) OVER (ORDER BY rank) AS lcp_next FROM lcpd),
    members AS (
      SELECT *, CASE WHEN lcp_prev IS NULL OR lcp_prev < 24
                     THEN 1 ELSE 0 END AS b
      FROM edged WHERE lcp_prev >= 24 OR lcp_next >= 24),
    runs AS (
      SELECT *, SUM(b) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS g
      FROM members)
    SELECT CAST(MIN(rank) AS BIGINT) AS group_id,
           COUNT(*) AS n_occ,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(MIN(CASE WHEN b = 0 THEN lcp_prev END) AS INT)
             AS repeat_len,
           substr(arg_min(prefix, rank), 1,
                  MIN(CASE WHEN b = 0 THEN lcp_prev END)) AS sample
    FROM runs GROUP BY g
    HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("dedup_substring_groups", oracle=DEDUP_SUBSTRING_GROUPS_ORACLE)
def dedup_substring_groups(spark, sf_dir):
    """L31b suffix-array ExactSubstr DISCOVERY (Lee et al. ACL 2022's
    data structure, distributed): right-maximal repeated substrings
    >= 24 chars spanning >= 2 documents, as suffix-array intervals
    with occurrence/document counts, capped LCP length, and the shared
    sample text (operators.suffixes.repeated_substring_groups — the
    cap-order SA, one global range sort, capped adjacent LCP in
    codegen, island grouping via the range-partitioned global scan).
    min_len = 24 is the measured knee of this corpus's member curve
    (>=10 chars flags 94% of suffix positions — ~1.5 words of a small
    vocabulary is noise, not evidence; >=24 flags 7% — genuine shared
    spans), and the 7%-member regime is also what keeps every
    downstream stage proportional to true repeats. The oracle rebuilds
    the same SA by materializing and ORDER BY-ing the suffixes —
    tractable at the gate SF, and every stage (order, LCP, islands,
    aggregates) replays exactly."""
    d = _cat(spark, sf_dir).table("documents").df
    return suffixes.repeated_substring_groups(
        d, min_len=24, min_docs=2, prefix_cap=24
    )


DEDUP_SUBSTRING_REMOVAL_ORACLE = r"""
    WITH docs AS (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    pos AS (
      SELECT doc_id, unnest(generate_series(0, length(text) - 1)) AS pos,
             text FROM docs WHERE length(text) > 0),
    suf AS (
      SELECT doc_id, pos, substr(text, pos + 1) AS suffix,
             substr(text, pos + 1, 40) AS prefix FROM pos),
    ord AS (
      SELECT doc_id, pos, prefix,
             row_number() OVER (ORDER BY suffix, doc_id, pos) - 1 AS rank
      FROM suf),
    lagged AS (SELECT *, lag(prefix) OVER (ORDER BY rank) AS pprev FROM ord),
    lcpd AS (
      SELECT *, CASE WHEN pprev IS NULL THEN NULL ELSE (
             SELECT COALESCE(MAX(k), 0)
             FROM generate_series(1, 40) AS g(k)
             WHERE k <= least(length(prefix), length(pprev))
               AND substr(prefix, 1, k) = substr(pprev, 1, k))
           END AS lcp_prev
      FROM lagged),
    edged AS (
      SELECT *, lead(lcp_prev) OVER (ORDER BY rank) AS lcp_next FROM lcpd),
    members AS (
      SELECT *, CASE WHEN lcp_prev IS NULL OR lcp_prev < 40
                     THEN 1 ELSE 0 END AS b
      FROM edged WHERE lcp_prev >= 40 OR lcp_next >= 40),
    runs AS (
      SELECT *, SUM(b) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS g
      FROM members),
    qual AS (SELECT g FROM runs GROUP BY g
             HAVING COUNT(DISTINCT doc_id) >= 2),
    m2 AS (
      SELECT r.doc_id, r.pos AS lo,
             least(r.pos + 39, length(d.text) - 1) AS hi
      FROM runs r JOIN docs d USING (doc_id)
      WHERE r.g IN (SELECT g FROM qual)),
    isl AS (
      SELECT *, CASE WHEN lo > COALESCE(MAX(hi) OVER (
                       PARTITION BY doc_id ORDER BY lo
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -2) + 1
                     THEN 1 ELSE 0 END AS nb
      FROM m2),
    isl2 AS (
      SELECT *, SUM(nb) OVER (PARTITION BY doc_id ORDER BY lo
                              ROWS UNBOUNDED PRECEDING) AS isle
      FROM isl),
    iv AS (SELECT doc_id, isle, MIN(lo) AS lo, MAX(hi) AS hi
           FROM isl2 GROUP BY 1, 2),
    gaps AS (
      SELECT doc_id, lo AS cut_lo,
             lag(hi, 1, -1) OVER (PARTITION BY doc_id ORDER BY lo)
               AS prev_hi
      FROM iv)
    SELECT d.doc_id,
           COALESCE((SELECT string_agg(
               substr(d.text, g.prev_hi + 2, g.cut_lo - g.prev_hi - 1),
               '' ORDER BY g.cut_lo)
             FROM gaps g WHERE g.doc_id = d.doc_id), '')
           || substr(d.text,
                COALESCE((SELECT MAX(hi) FROM iv
                          WHERE iv.doc_id = d.doc_id), -1) + 2) AS text,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE((SELECT SUM(hi - lo + 1) FROM iv
                          WHERE iv.doc_id = d.doc_id), 0) AS BIGINT)
             AS n_removed
    FROM docs d
"""


@query("dedup_substring_removal", oracle=DEDUP_SUBSTRING_REMOVAL_ORACLE)
def dedup_substring_removal(spark, sf_dir):
    """L31c suffix-array ExactSubstr CUT: every character covered by a
    substring >= 40 chars repeating across >= 2 documents is removed
    from ALL of them with exact boundaries (each member suffix marks
    only [pos, pos+min_len) and the windows tile the repeat, so the
    prefix cap bounds DETECTION, never cut length). min_len = 40 is
    the Lee-et-al 50-byte regime for this corpus (their cut threshold;
    the measured member curve says shorter thresholds flag vocabulary
    noise — >=10 chars marks 94% of all suffix positions, >=40 marks
    4% — and a cut that removes 94% of every document is not dedup).
    Gap-substring rebuild, no whitespace normalization — character
    offsets are the contract. The oracle replays marks, interval
    merge, and the string_agg rebuild over the same DuckDB-ordered
    suffixes."""
    d = _cat(spark, sf_dir).table("documents").df
    return suffixes.repeated_substring_removal(
        d, min_len=40, min_docs=2, prefix_cap=40
    ).select("doc_id", "text", "n_chars", "n_removed")


DEDUP_EXACT_SUBSTR_COMBINED_ORACLE = r"""
    WITH tok AS (SELECT doc_id,
                        string_split_regex(COALESCE(text, ''), '\s+') AS t
                 FROM documents),
    w AS (SELECT doc_id, g.i - 1 AS pos,
                 md5(array_to_string(t[g.i : g.i + 15], ' ')) AS d
          FROM tok, unnest(generate_series(1, GREATEST(len(t) - 15, 1))) g(i)),
    hot AS (SELECT d FROM w GROUP BY d HAVING COUNT(DISTINCT doc_id) >= 2),
    fl AS (SELECT w.doc_id, w.pos FROM w JOIN hot USING (d)),
    cov AS (SELECT DISTINCT f.doc_id, j.j AS idx
            FROM fl f JOIN tok t USING (doc_id),
                 unnest(generate_series(f.pos, LEAST(f.pos + 15, len(t.t) - 1)))
                   j(j)),
    posn AS (SELECT t.doc_id, j.j AS idx, t.t[j.j + 1] AS token
             FROM tok t, unnest(generate_series(0, len(t.t) - 1)) j(j)),
    kept AS (SELECT p.doc_id, p.idx, p.token
             FROM posn p LEFT JOIN cov c
               ON c.doc_id = p.doc_id AND c.idx = p.idx
             WHERE c.idx IS NULL),
    docs AS (
      SELECT t.doc_id, COALESCE(k.text, '') AS text
      FROM tok t
      LEFT JOIN (SELECT doc_id, string_agg(token, ' ' ORDER BY idx) AS text
                 FROM kept GROUP BY doc_id) k USING (doc_id)),
    pos AS (
      SELECT doc_id, unnest(generate_series(0, length(text) - 1)) AS pos,
             text FROM docs WHERE length(text) > 0),
    suf AS (
      SELECT doc_id, pos, substr(text, pos + 1) AS suffix,
             substr(text, pos + 1, 24) AS prefix FROM pos),
    ord AS (
      SELECT doc_id, pos, prefix,
             row_number() OVER (ORDER BY suffix, doc_id, pos) - 1 AS rank
      FROM suf),
    lagged AS (SELECT *, lag(prefix) OVER (ORDER BY rank) AS pprev FROM ord),
    lcpd AS (
      SELECT *, CASE WHEN pprev IS NULL THEN NULL ELSE (
             SELECT COALESCE(MAX(k), 0)
             FROM generate_series(1, 24) AS g(k)
             WHERE k <= least(length(prefix), length(pprev))
               AND substr(prefix, 1, k) = substr(pprev, 1, k))
           END AS lcp_prev
      FROM lagged),
    edged AS (
      SELECT *, lead(lcp_prev) OVER (ORDER BY rank) AS lcp_next FROM lcpd),
    members AS (
      SELECT *, CASE WHEN lcp_prev IS NULL OR lcp_prev < 24
                     THEN 1 ELSE 0 END AS b
      FROM edged WHERE lcp_prev >= 24 OR lcp_next >= 24),
    runs AS (
      SELECT *, SUM(b) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS g
      FROM members),
    qual AS (SELECT g FROM runs GROUP BY g
             HAVING COUNT(DISTINCT doc_id) >= 2),
    m2 AS (
      SELECT r.doc_id, r.pos AS lo,
             least(r.pos + 23, length(d.text) - 1) AS hi
      FROM runs r JOIN docs d USING (doc_id)
      WHERE r.g IN (SELECT g FROM qual)),
    isl AS (
      SELECT *, CASE WHEN lo > COALESCE(MAX(hi) OVER (
                       PARTITION BY doc_id ORDER BY lo
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -2) + 1
                     THEN 1 ELSE 0 END AS nb
      FROM m2),
    isl2 AS (
      SELECT *, SUM(nb) OVER (PARTITION BY doc_id ORDER BY lo
                              ROWS UNBOUNDED PRECEDING) AS isle
      FROM isl),
    iv AS (SELECT doc_id, isle, MIN(lo) AS lo, MAX(hi) AS hi
           FROM isl2 GROUP BY 1, 2),
    gaps AS (
      SELECT doc_id, lo AS cut_lo,
             lag(hi, 1, -1) OVER (PARTITION BY doc_id ORDER BY lo)
               AS prev_hi
      FROM iv)
    SELECT d.doc_id,
           COALESCE((SELECT string_agg(
               substr(d.text, g.prev_hi + 2, g.cut_lo - g.prev_hi - 1),
               '' ORDER BY g.cut_lo)
             FROM gaps g WHERE g.doc_id = d.doc_id), '')
           || substr(d.text,
                COALESCE((SELECT MAX(hi) FROM iv
                          WHERE iv.doc_id = d.doc_id), -1) + 2) AS text,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE((SELECT SUM(hi - lo + 1) FROM iv
                          WHERE iv.doc_id = d.doc_id), 0) AS BIGINT)
             AS n_removed
    FROM docs d
"""


@query(
    "dedup_exact_substr_combined",
    oracle=DEDUP_EXACT_SUBSTR_COMBINED_ORACLE,
)
def dedup_exact_substr_combined(spark, sf_dir):
    """L31+L34 FULL ExactSubstr coverage (VERDICT r7 directive #9 —
    char-exact SA evidence composed with the token-window pass): the
    cross-document token-window cut (dedup.repeated_span_removal,
    16-token windows, >=2 docs — cheap at corpus scale, width-rounded
    boundaries) runs FIRST; the suffix-array char-exact cut
    (suffixes.repeated_substring_removal, >=24 chars — the measured
    noise knee, see dedup_substring_groups; deliberately FINER than
    the standalone 40-char cut because stage 1 already took the long
    repeats and stage 2 exists for the sub-window residue — >=2 docs)
    then
    runs over the SURVIVORS, catching the sub-window repeats the
    token pass cannot see and trimming width-rounding residue with
    exact boundaries. Output pins BOTH halves: n_chars is the length
    of the stage-1 text (byte-exact stage-1 check), text/n_removed
    are the stage-2 cut. The oracle chains the two proven oracles —
    the window-digest replay feeding the ORDER-BY-suffixes replay —
    so drift in either stage or in the hand-off hash-mismatches.
    Scale shape: stage 1 is the (id, pos, md5) shuffle; stage 2 pays
    one row per surviving character (the honest SA cost) — running it
    AFTER the token pass is the right order, smaller input; the
    localCheckpoint pins stage 1 so the SA stage's multi-branch
    consumption (suffix explode + base rejoin) replays nothing."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    s1 = dedup.repeated_span_removal(d, span=16, min_docs=2)
    mid = _util.own(s1.select("doc_id", "text").localCheckpoint())
    return suffixes.repeated_substring_removal(
        mid, min_len=24, min_docs=2, prefix_cap=24
    ).select("doc_id", "text", "n_chars", "n_removed")


TEXT_LM_PERPLEXITY_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
      FROM documents),
    ref AS (SELECT * FROM tok WHERE lang = 'en'),
    rp AS (SELECT t[g.i] || ' ' || t[g.i + 1] AS gram
           FROM ref, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    bc AS (SELECT gram, COUNT(*) AS c12 FROM rp GROUP BY gram
           HAVING COUNT(*) >= 1),
    pc AS (SELECT string_split(gram, ' ')[1] AS w1,
                  CAST(SUM(c12) AS BIGINT) AS pc
           FROM bc GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS V FROM (
            SELECT unnest(t) AS w FROM ref) WHERE w <> ''),
    tp AS (SELECT doc_id, t[g.i] || ' ' || t[g.i + 1] AS gram,
                  t[g.i] AS w1
           FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    sp AS (SELECT doc_id,
                  CAST(floor(-log10((COALESCE(c12, 0) + 1.0)
                                    / (COALESCE(pc, 0) + V)) * 1000000)
                       AS BIGINT) AS nll
           FROM tp LEFT JOIN bc USING (gram) LEFT JOIN pc USING (w1)
                CROSS JOIN v),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(nll) AS BIGINT) AS sum_nll_e6
           FROM sp GROUP BY doc_id),
    pd2 AS (SELECT *, CAST(sum_nll_e6 // n_bigrams AS BIGINT)
                        AS mean_nll_e6
            FROM pd),
    nr AS (SELECT COUNT(*) AS n FROM pd),
    rk AS (SELECT *, row_number() OVER (ORDER BY mean_nll_e6, doc_id) - 1
                     AS r
           FROM pd2)
    SELECT doc_id, n_bigrams, sum_nll_e6, mean_nll_e6,
           CASE WHEN 3 * (r + 1) <= n THEN 'head'
                WHEN 3 * (r + 1) <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM rk CROSS JOIN nr
    UNION ALL
    SELECT doc_id, 0, 0, NULL, 'unscored' FROM tok WHERE len(t) < 2
"""


@query("text_lm_perplexity", oracle=TEXT_LM_PERPLEXITY_ORACLE)
def text_lm_perplexity(spark, sf_dir):
    """L34 CCNet-style LM quality bucketing (Wenzek et al., LREC
    2020): add-one bigram LM fit on the lang='en' REFERENCE slice,
    every document scored by floor-scaled mean negative
    log-likelihood, corpus split head/middle/tail by scalable global
    rank (util.global_dense_rank — range partition + offsets, no
    single-partition window); sub-2-token docs are 'unscored'
    (functions.text.lm_perplexity_scores). The held-out-model design
    is what separates this from text_bigram_quality's
    self-referential scoring."""
    d = _cat(spark, sf_dir).table("documents").df
    return TX.lm_perplexity_scores(d, F.col("lang") == "en")


def _hygiene_dirty_expr():
    """The deterministic hygiene-pathology twin shared by
    text_unicode_hygiene and text_curation_verdict: every 5th doc a
    mojibake e-acute, every 7th a U+FFFD, every 11th an ETX control
    byte — the exact closed form TEXT_UNICODE_HYGIENE_ORACLE replays."""
    return F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("caf\u00c3\u00a9")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit("\ufffd")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("\u0003")
        ).otherwise(F.lit("")),
    )


TEXT_UNICODE_HYGIENE_ORACLE = (
    r"""
    WITH dirty AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 5 = 0 THEN 'caf' || chr(195) || chr(169)
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN chr(3) ELSE '' END AS t
      FROM documents),
    c AS (
      SELECT doc_id, t,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(length(t) - length(replace(t, chr(65533), ''))
                  AS BIGINT) AS n_replacement,
             CAST(length(t) - length(regexp_replace(t,
                    '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))
                  AS BIGINT) AS n_control,
             CAST(__MOJI__ AS BIGINT) AS n_mojibake
      FROM dirty)
    SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake,
           (n_replacement = 0 AND n_mojibake = 0
            AND n_control * 100 < greatest(n_chars, 1)) AS is_clean
    FROM c
    """.replace(
        "__MOJI__",
        " + ".join(
            "(length(t) - length(replace(t, '{p}', ''))) // {n}".format(
                p=p.replace("'", "''"), n=len(p)
            )
            for p in TX.MOJIBAKE_ARTIFACTS
        ),
    )
)


@query("text_unicode_hygiene", oracle=TEXT_UNICODE_HYGIENE_ORACLE)
def text_unicode_hygiene(spark, sf_dir):
    """L35 encoding-hygiene screening over a deterministically DIRTIED
    corpus (the testdata text is clean ASCII, so the generative-replay
    idiom injects the pathologies by id: every 5th doc gets a mojibake
    e-acute artifact appended, every 7th a U+FFFD, every 11th an ETX
    control byte — both engines apply the same closed form, so every
    counter is genuinely engaged): U+FFFD counts, C0-control counts
    (tab/newline/CR exempt), prefix-free mojibake artifact counts,
    and the 1%-control-budget is_clean verdict
    (functions.text.unicode_hygiene_stats — all codegen replace/length
    arithmetic, map-only, zero shuffle)."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    return TX.unicode_hygiene_stats(
        d.withColumn("text", _hygiene_dirty_expr())
    )


TEXT_BLOCKLIST_ORACLE = r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                    '\b(?:table|merge|scan)\b')) AS BIGINT)
             AS n_blocklist_hits,
           len(regexp_extract_all(lower(coalesce(text, '')),
               '\b(?:table|merge|scan)\b')) > 2 AS blocked
    FROM documents
"""


@query("text_blocklist", oracle=TEXT_BLOCKLIST_ORACLE)
def text_blocklist(spark, sf_dir):
    """L36 term-blocklist screening (the NSFW/spam wordlist stage, on
    a benign stand-in list drawn from the corpus vocabulary so the
    counts are engaged): whole-word case-insensitive occurrence
    counts of {table, merge, scan} via ONE alternation regex in
    codegen — the broadcast analogue of an Aho-Corasick scan — and a
    blocked flag at > 2 hits (functions.text.blocklist_filter;
    map-only, zero shuffle). Java regex and RE2 agree on \\b and
    non-capturing alternation, so the oracle counts with the
    identical pattern."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    return TX.blocklist_filter(
        d, ["table", "merge", "scan"], max_hits=2
    ).select("doc_id", "n_blocklist_hits", "blocked")


TEXT_GOPHER_QUALITY_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
             coalesce(text, '') || repeat(' 42', CAST(doc_id % 7 AS INT))
               || repeat(' #', CAST(doc_id % 5 AS INT))
               || CASE WHEN doc_id % 11 = 0 THEN ' …' ELSE '' END AS dirty
      FROM documents),
    t AS (SELECT doc_id, dirty,
                 string_split_regex(dirty, '\s+') AS toks FROM d),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS nw,
             CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                 'sum') AS BIGINT) AS wchars,
             CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
               AS nalpha,
             CAST(length(dirty)
                  - length(replace(replace(dirty, '#', ''), '…', ''))
               AS BIGINT) AS nsym,
             CAST(CASE WHEN regexp_matches(dirty, '\bthe\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(dirty, '\ba\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(dirty, '\bvalue\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(dirty, '\bdata\b') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(dirty, '\brow\b') THEN 1 ELSE 0 END
               AS BIGINT) AS nstop
      FROM t)
    SELECT doc_id, nw AS n_words,
           wchars * 1000000 // nw AS mean_wlen_micro,
           nsym * 1000000 // nw AS symbol_ratio_micro,
           nalpha * 1000000 // nw AS frac_alpha_micro,
           nstop AS n_stop_distinct,
           (nw BETWEEN 50 AND 100000
            AND wchars >= 3 * nw AND wchars <= 10 * nw
            AND 10 * nsym <= nw
            AND 5 * nalpha >= 4 * nw
            AND nstop >= 2) AS passes
    FROM s
"""


@query("text_gopher_quality", oracle=TEXT_GOPHER_QUALITY_ORACLE)
def text_gopher_quality(spark, sf_dir):
    """L37 Gopher document-quality rules (Rae et al. 2021, Table A1):
    word count / mean word length / symbol ratio / alphabetic-word
    fraction / stop-word presence over a deterministically dirtied
    twin of each document, with the combined keep verdict. All five
    rules are ENGAGED at the gate SF (313/500 pass; each rule fails
    for some docs). Map-only codegen + token-array HOFs, zero
    shuffle (functions.text.gopher_quality_stats)."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    return TX.gopher_quality_stats(d)


TEXT_GOPHER_REPETITION_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             CAST(length(coalesce(text, '')) AS BIGINT) AS txt_chars,
             string_split_regex(coalesce(text, ''), '\s+') AS toks,
             CAST(len(string_split_regex(coalesce(text, ''), '\s+'))
               AS BIGINT) AS nw,
             3 + CAST(doc_id % 3 AS INT) AS ll,
             CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS r
      FROM documents),
    lines AS (
      SELECT doc_id, r,
             array_to_string(toks[(g.i - 1) * ll + 1 : g.i * ll], ' ') AS line
      FROM base, unnest(generate_series(1, (nw + ll - 1) // ll)) g(i)),
    lc AS (SELECT doc_id, r, line, COUNT(*) AS c
           FROM lines GROUP BY doc_id, r, line),
    lagg AS (
      SELECT doc_id,
             CAST(COALESCE(SUM(r * c) FILTER (WHERE r * c >= 2), 0)
               AS BIGINT) AS dup_occ,
             CAST(COALESCE(SUM(r * c * length(line))
                           FILTER (WHERE r * c >= 2), 0)
               AS BIGINT) AS dup_chars,
             CAST(SUM(c * length(line)) * MAX(r) AS BIGINT) AS line_chars,
             CAST(SUM(c) * MAX(r) AS BIGINT) AS n_lines
      FROM lc GROUP BY doc_id),
    g3 AS (SELECT doc_id, r, array_to_string(toks[g.i : g.i + 2], ' ') AS gram
           FROM base, unnest(generate_series(1, nw - 2)) g(i)),
    g3c AS (SELECT doc_id, r, gram, COUNT(*) AS c
            FROM g3 GROUP BY doc_id, r, gram),
    g3agg AS (SELECT doc_id,
                     CAST(MAX(CASE WHEN r * c >= 2
                              THEN r * c * length(gram) ELSE 0 END)
                       AS BIGINT) AS top3_cov
              FROM g3c GROUP BY doc_id),
    g5 AS (SELECT doc_id, r, array_to_string(toks[g.i : g.i + 4], ' ') AS gram
           FROM base, unnest(generate_series(1, nw - 4)) g(i)),
    g5c AS (SELECT doc_id, r, gram, COUNT(*) AS c
            FROM g5 GROUP BY doc_id, r, gram),
    g5agg AS (SELECT doc_id,
                     CAST(COALESCE(SUM(r * c * length(gram))
                                   FILTER (WHERE r * c >= 2), 0)
                       AS BIGINT) AS dup5_chars
              FROM g5c GROUP BY doc_id)
    SELECT b.doc_id, b.r AS n_blocks, l.n_lines,
           l.dup_occ * 1000000 // greatest(l.n_lines, 1)
             AS dup_line_frac_micro,
           l.dup_chars * 1000000 // greatest(l.line_chars, 1)
             AS dup_line_char_frac_micro,
           a3.top3_cov * 1000000 // greatest(b.r * b.txt_chars, 1)
             AS top3_char_cov_micro,
           a5.dup5_chars * 1000000 // greatest(b.r * b.txt_chars, 1)
             AS dup5_char_frac_micro,
           (10 * l.dup_occ > 3 * l.n_lines
            OR 5 * l.dup_chars > l.line_chars
            OR 100 * a3.top3_cov > 18 * b.r * b.txt_chars
            OR 100 * a5.dup5_chars > 15 * b.r * b.txt_chars)
             AS is_repetitive
    FROM base b
    JOIN lagg l USING (doc_id)
    JOIN g3agg a3 USING (doc_id)
    JOIN g5agg a5 USING (doc_id)
"""


@query("text_gopher_repetition", oracle=TEXT_GOPHER_REPETITION_ORACLE)
def text_gopher_repetition(spark, sf_dir):
    """L37b Gopher repetition rules: duplicate-line fraction (count
    and character), top-3-gram character coverage, duplicated-5-gram
    character fraction, and the combined repetitive verdict at the
    paper's thresholds, over deterministically derived lines
    (3 + doc_id % 3 token chunks; doc_id % 5 == 0 docs are r = 2
    repeated content blocks, so the dup rules are engaged by
    construction — 143/500 flagged at the gate SF). Map-only nested
    HOFs, corpus never shuffled
    (functions.text.gopher_repetition_stats). Contract: every doc
    has >= 5 tokens (true at all test SFs), so the n-gram arrays are
    the true sliding windows on both engines."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    return TX.gopher_repetition_stats(d)


DEDUP_LINES_CORPUS_ORACLE = r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(coalesce(text, ''), '\s+') AS toks
               FROM documents),
    lines AS (
      SELECT doc_id, g.i - 1 AS pos,
             array_to_string(toks[(g.i - 1) * 3 + 1 : g.i * 3], ' ') AS line
      FROM t, unnest(generate_series(1, (len(toks) + 2) // 3)) g(i)),
    flagged AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn
      FROM lines)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(length(line)) FILTER (WHERE rn = 1), 0)
             AS BIGINT) AS kept_chars,
           md5(coalesce(array_to_string(
                 list(line ORDER BY pos) FILTER (WHERE rn = 1), ' '), ''))
             AS kept_md5
    FROM flagged GROUP BY doc_id
"""


@query("dedup_lines_corpus", oracle=DEDUP_LINES_CORPUS_ORACLE)
def dedup_lines_corpus(spark, sf_dir):
    """L38 corpus-level line dedup (CCNet / C4 span dedup): drop every
    line occurrence whose exact text appeared earlier in the corpus
    (total-ordered by (doc_id, position)); per-doc survivor stats +
    md5 of the reassembled kept text (the md5-twin idiom). Lines are
    derived 3-token chunks — 1,833 of 9,476 occurrences drop at the
    gate SF. One shuffle keyed by line text, one by doc
    (operators.dedup.line_dedup_keep_first)."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    return dedup.line_dedup_keep_first(d)


TEXT_QUALITY_CLASSIFIER_ORACLE = r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(coalesce(text, ''), '\s+') AS toks
               FROM documents),
    feats AS (
      SELECT doc_id, tok AS f FROM t, unnest(toks) u(tok)
      UNION ALL
      SELECT doc_id, toks[g.i] || ' ' || toks[g.i + 1] AS f
      FROM t, unnest(generate_series(1, len(toks) - 1)) g(i)),
    h AS (SELECT doc_id, md5(f) AS m FROM feats),
    b AS (SELECT doc_id,
            ((CASE WHEN substring(m, 1, 1) <= '9'
                   THEN ascii(substring(m, 1, 1)) - 48
                   ELSE ascii(substring(m, 1, 1)) - 87 END) * 256
           + (CASE WHEN substring(m, 2, 1) <= '9'
                   THEN ascii(substring(m, 2, 1)) - 48
                   ELSE ascii(substring(m, 2, 1)) - 87 END) * 16
           + (CASE WHEN substring(m, 3, 1) <= '9'
                   THEN ascii(substring(m, 3, 1)) - 48
                   ELSE ascii(substring(m, 3, 1)) - 87 END)) % 4096 AS bkt
          FROM h),
    w AS (SELECT doc_id, (bkt * 2654435761) % 1001 - 500 AS w FROM b)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(COUNT(*) FILTER (WHERE w > 0) AS BIGINT) AS n_pos_feats,
           CAST(SUM(w) AS BIGINT) AS margin,
           SUM(w) > 0 AS quality_ok
    FROM w GROUP BY doc_id
"""


@query("text_quality_classifier", oracle=TEXT_QUALITY_CLASSIFIER_ORACLE)
def text_quality_classifier(spark, sf_dir):
    """L39 fastText-shaped quality classifier (FineWeb-Edu / DCLM
    stage): hashed unigram+bigram bag, linear bucket weights, sign
    threshold. The md5 feature hash and closed-form integer weight
    table replay exactly in SQL; a real exported model swaps in as a
    broadcast (bucket, weight) table on the same hash. Map-only,
    zero shuffle (functions.text.quality_classifier_scores)."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    return TX.quality_classifier_scores(d)


WARC_META_NOINDEX_ORACLE = """
    SELECT doc_id, CAST(doc_id % 6 AS BIGINT) AS variant,
           doc_id % 6 < 3 AS noindex
    FROM documents
"""


@query("warc_meta_noindex", oracle=WARC_META_NOINDEX_ORACLE)
def warc_meta_noindex(spark, sf_dir):
    """L33b page-level robots opt-out at driver grade: a generative
    HTML corpus (each doc's text wrapped in a page shell whose <meta>
    tag is one of six id-derived variants — quoted name-first,
    reversed-order single-quoted UPPERCASE, bare-value, index-follow,
    a name="description" LOOKALIKE carrying the word noindex, and no
    meta at all) scanned by the real sources.warc.html_meta_noindex
    regex. The flag has the closed form variant < 3, which is what
    the oracle replays (the robots-corpus idiom) — the regex must
    match all three directive spellings and reject both negatives to
    pass. Pure codegen rlike, map-only, zero shuffle."""
    from .sources import warc as W

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    variant = (F.col("doc_id") % 6).cast("bigint")
    meta = (
        F.when(variant == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(variant == 1, F.lit("<meta content='NOINDEX' name='robots'>"))
        .when(variant == 2, F.lit("<meta name=robots content=noindex>"))
        .when(variant == 3, F.lit('<meta name="robots" content="index, follow">'))
        .when(variant == 4, F.lit('<meta name="description" content="noindex discussed">'))
        .otherwise(F.lit(""))
    )
    page = F.concat(
        F.lit("<html><head><title>P"),
        F.col("doc_id").cast("string"),
        F.lit("</title>"),
        meta,
        F.lit("</head><body><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p></body></html>"),
    )
    return d.select(
        "doc_id",
        variant.alias("variant"),
        W.html_meta_noindex(page).alias("noindex"),
    )


MULTIMODAL_IMAGE_AHASH_ORACLE = """
    WITH geo AS (SELECT doc_id, CAST((doc_id % 4 + 1) * 4 AS BIGINT) AS w,
                        CAST(doc_id % 6 + 1 AS BIGINT) AS h
                 FROM documents),
    cells AS (
      SELECT g.doc_id, g.w, g.h, gj.j, gi.i,
             (((g.doc_id + (gi.i * g.w // 8) + (gj.j * g.h // 8)) % 256)
            + ((g.doc_id * 3 + (gi.i * g.w // 8) * 7) % 256)
            + ((g.doc_id * 5 + (gj.j * g.h // 8) * 11) % 256)) // 3 AS v
      FROM geo g, generate_series(0, 7) gi(i), generate_series(0, 7) gj(j)),
    tot AS (SELECT doc_id, SUM(v) AS t FROM cells GROUP BY doc_id)
    SELECT c.doc_id AS media_id, 'bmp' AS media_type,
           CAST(MAX(c.w) AS INT) AS width, CAST(MAX(c.h) AS INT) AS height,
           CAST(COUNT(*) FILTER (WHERE 64 * c.v > t.t) AS BIGINT)
             AS n_set_bits,
           string_agg(CASE WHEN 64 * c.v > t.t THEN '1' ELSE '0' END, ''
                      ORDER BY c.j, c.i) AS ahash_bits,
           true AS ok
    FROM cells c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id
"""


@query("multimodal_image_ahash", oracle=MULTIMODAL_IMAGE_AHASH_ORACLE)
def multimodal_image_ahash(spark, sf_dir):
    """L5i perceptual image hashing (aHash) — the multimodal
    near-duplicate signature stage: complete synthesized BMPs decoded
    pixel-by-pixel in Arrow batches, gray 8x8 nearest-neighbor grid,
    cross-multiplied integer mean threshold, 64-bit string out. The
    generative pixel model (B=(id+x+y)%256, G=(id*3+x*7)%256,
    R=(id*5+y*11)%256, w=(id%4+1)*4, h=id%6+1) lets the oracle
    replay every grid sample and threshold vote — a decoder that
    drops the BMP bottom-up flip or mis-maps the grid cannot pass.
    Near-dup grouping downstream bands the 64 bits into exact-match
    chunks and equi-joins (the SimHash shape, no all-pairs). Same
    single-split spread as the other media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_bmp_payloads(d, "doc_id")
    return multimodal.decode_image_ahash(media)


_BPE_EXPORT_MERGES = [
    ("table", "hash"),
    ("customer", "join"),
    ("big", "order"),
    ("big_order", "scan"),  # consumes merge 3's output: priority order
]


def _bpe_fold_sql(src: str, a: str, b: str) -> str:
    return f"""
    SELECT doc_id, n_tokens, reduce(list_transform(tl, x -> [x]),
      (acc, x) -> CASE WHEN acc[-1] = '{a}' AND x[1] = '{b}'
        THEN list_concat(acc[1:len(acc)-1], ['{a}_{b}'])
        ELSE list_concat(acc, x) END) AS tl
    FROM {src}"""


BPE_ENCODE_CORPUS_ORACLE = f"""
    WITH t0 AS (SELECT doc_id,
                       string_split_regex(coalesce(text, ''), '\\s+') AS tl,
                       CAST(len(string_split_regex(coalesce(text, ''),
                                                   '\\s+')) AS BIGINT)
                         AS n_tokens
                FROM documents),
    s1 AS ({_bpe_fold_sql('t0', 'table', 'hash')}),
    s2 AS ({_bpe_fold_sql('s1', 'customer', 'join')}),
    s3 AS ({_bpe_fold_sql('s2', 'big', 'order')}),
    s4 AS ({_bpe_fold_sql('s3', 'big_order', 'scan')})
    SELECT doc_id, n_tokens, CAST(len(tl) AS BIGINT) AS n_bpe_tokens,
           md5(array_to_string(tl, ' ')) AS tokens_md5
    FROM s4
"""


@query("bpe_encode_corpus", oracle=BPE_ENCODE_CORPUS_ORACLE)
def bpe_encode_corpus(spark, sf_dir):
    """L28b BPE ENCODE — the apply half of the tokenizer loop
    (functions.text.bpe_encode; bpe_merge_rounds is the train half):
    the corpus is encoded with a fixed EXPORTED merge list (the
    merges.txt contract — merges live in the plan as literals, the
    broadcast analogue), applied as one greedy left-to-right codegen
    fold per merge, map-only, zero shuffle. Merge 4 consumes merge
    3's joined token, so the row proves priority-ordered chaining,
    not just independent pair rewrites; every merge engages at all
    test SFs. tokens_md5 pins the full encoded token sequence per
    document — the oracle replays each fold with DuckDB ``reduce``
    (the bpe_merge_rounds fold idiom) and must reproduce every
    boundary decision to hash-match."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    ).select(
        "doc_id", "text",
        F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("bigint").alias("n_tokens"),
    )
    enc = TX.bpe_encode(d, merges=_BPE_EXPORT_MERGES)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        F.md5(F.encode(F.concat_ws(" ", F.col("bpe_tokens")), "UTF-8"))
        .alias("tokens_md5"),
    )


MULTIMODAL_PNG_PROBE_ORACLE = """
    SELECT d.doc_id AS media_id,
           'png' AS media_type,
           CAST(d.doc_id % 5 + 4 AS INT) AS width,
           CAST(d.doc_id % 7 + 3 AS INT) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM((d.doc_id + g.x + gy.y) % 256) AS BIGINT) AS sum_b,
           CAST(SUM((d.doc_id * 3 + g.x * 7) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((d.doc_id * 5 + gy.y * 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((g.x + gy.y * (d.doc_id % 5 + 4) + 1)
                    * ((d.doc_id + g.x + gy.y) % 256)) AS BIGINT) AS wsum_b,
           true AS ok
    FROM documents d,
         generate_series(0, 7) g(x),
         generate_series(0, 8) gy(y)
    WHERE g.x < d.doc_id % 5 + 4 AND gy.y < d.doc_id % 7 + 3
    GROUP BY d.doc_id
"""


@query("multimodal_png_probe", oracle=MULTIMODAL_PNG_PROBE_ORACLE)
def multimodal_png_probe(spark, sf_dir):
    """L5p PNG pixel decode at driver grade (closes the last
    headers-only media format): spec-valid PNGs — CRC-correct chunks,
    genuine zlib stream (stored-deflate block + F.aggregate adler32)
    — synthesized entirely in codegen, then FULLY decoded by
    parse_png_pixels (stdlib zlib inflate + scanline un-filtering)
    inside Arrow-batched mapInPandas. Each scanline is pre-filtered
    with type (id+y)%5, so every row exercises one of the five PNG
    filter reconstructions and a decoder that mis-implements Sub/Up/
    Average/Paeth cannot match the position-weighted checksum. The
    oracle replays the generative pixel model (R=(id*5+y*11)%256,
    G=(id*3+x*7)%256, B=(id+x+y)%256, w=id%5+4, h=id%7+3) with
    correlated generate_series laterals — the BMP pixel-probe idiom
    over the compressed format. Same single-split spread as the
    other media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_png_payloads(d, "doc_id")
    feats = multimodal.decode_pixel_features(media)
    return feats.select(
        "media_id", "media_type", "width", "height", "n_pixels",
        "sum_b", "sum_g", "sum_r", "wsum_b", "ok",
    )


def _phash_core_ctes() -> str:
    """The engine-shared half of every pHash oracle — integer-DCT
    basis VALUES, coefficient product, and the ranked-median CTE —
    so the two pHash rows cannot drift apart on what pHash IS.
    Expects a preceding ``cells(doc_id, j, i, v)`` CTE."""
    basis = ", ".join(
        f"({u}, {x}, {t})"
        for u, row in enumerate(multimodal.PHASH_DCT_BASIS)
        for x, t in enumerate(row)
    )
    return f"""
    basis(u, x, t) AS (VALUES {basis}),
    coef AS (
      SELECT c.doc_id, bv.u AS v, bu.u AS u,
             SUM(c.v * bu.t * bv.t) AS s
      FROM cells c
      JOIN basis bu ON bu.x = c.i
      JOIN basis bv ON bv.x = c.j
      GROUP BY c.doc_id, bv.u, bu.u),
    med AS (
      SELECT doc_id, s AS m FROM (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS rn
        FROM coef WHERE NOT (u = 0 AND v = 0))
      WHERE rn = 32)"""


def _phash_oracle() -> str:
    return f"""
    WITH geo AS (SELECT doc_id, CAST((doc_id % 4 + 1) * 4 AS BIGINT) AS w,
                        CAST(doc_id % 6 + 1 AS BIGINT) AS h
                 FROM documents),
    cells AS (
      SELECT g.doc_id, g.w, g.h, gj.j, gi.i,
             (((g.doc_id + (gi.i * g.w // 8) + (gj.j * g.h // 8)) % 256)
            + ((g.doc_id * 3 + (gi.i * g.w // 8) * 7) % 256)
            + ((g.doc_id * 5 + (gj.j * g.h // 8) * 11) % 256)) // 3 AS v
      FROM geo g, generate_series(0, 7) gi(i), generate_series(0, 7) gj(j)),
    {_phash_core_ctes().lstrip()}
    SELECT c.doc_id AS media_id, 'bmp' AS media_type,
           CAST(MAX(g.w) AS INT) AS width, CAST(MAX(g.h) AS INT) AS height,
           CAST(COUNT(*) FILTER (WHERE c.s > m.m) AS BIGINT) AS n_set_bits,
           string_agg(CASE WHEN c.s > m.m THEN '1' ELSE '0' END, ''
                      ORDER BY c.v, c.u) AS phash_bits,
           true AS ok
    FROM coef c JOIN med m USING (doc_id) JOIN geo g USING (doc_id)
    GROUP BY c.doc_id
    """


MULTIMODAL_IMAGE_PHASH_ORACLE = _phash_oracle()


@query("multimodal_image_phash", oracle=MULTIMODAL_IMAGE_PHASH_ORACLE)
def multimodal_image_phash(spark, sf_dir):
    """L5i2 DCT perceptual hash (pHash) — aHash's spectral sibling
    and the robust half of the image near-dup signature pair (pHash
    survives global brightness/contrast shifts that flip aHash bits):
    full BMP pixel decode in Arrow batches, the 8x8 nearest-neighbor
    gray grid, a 2-D INTEGER DCT with the fixed-point basis
    multimodal.PHASH_DCT_BASIS (the shared 10000^2 scale cancels in
    the threshold), and a median cut pinned to the 32nd-smallest of
    the 63 AC coefficients — a definition with no cross-engine
    ambiguity. The oracle replays grid, basis product, ranked median,
    and every threshold vote; downstream grouping is the same banded
    equi-join as aHash/SimHash, never all-pairs. Same single-split
    spread as the other media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_bmp_payloads(d, "doc_id")
    return multimodal.decode_image_phash(media)


AUDIO_PITCH_PROBE_ORACLE = """
    WITH m AS (SELECT doc_id, doc_id % 40 + 48 AS n, doc_id % 13 + 4 AS p
               FROM documents),
    s AS (SELECT m.doc_id, m.n, g.i,
                 ((g.i % m.p) * 4000) // m.p - 2000
                 + (m.doc_id * 7 + g.i * 13) % 61 - 30 AS v
          FROM m, generate_series(0, 86) g(i) WHERE g.i < m.n),
    r AS (SELECT a.doc_id, l.lag, MAX(a.n) AS n, SUM(a.v * b.v) AS r
          FROM generate_series(2, 20) l(lag),
               s a JOIN s b ON b.doc_id = a.doc_id AND b.i = a.i + l.lag
          GROUP BY a.doc_id, l.lag),
    sc AS (SELECT doc_id, lag,
                  CAST(((r + (n - lag) * 16777216) * 1048576)
                       // (n - lag) - 17592186044416 AS BIGINT) AS score
           FROM r),
    mx AS (SELECT doc_id, MAX(score) AS mx FROM sc GROUP BY doc_id),
    best AS (SELECT s.doc_id, MIN(s.lag) AS lag
             FROM sc s JOIN mx ON mx.doc_id = s.doc_id
             WHERE s.score * 100 >=
                   CASE WHEN mx.mx >= 0 THEN mx.mx * 98
                        ELSE mx.mx * 102 END
             GROUP BY s.doc_id)
    SELECT m.doc_id AS media_id, 'wav' AS media_type,
           CAST(8000 AS INT) AS sample_rate,
           CAST(m.n AS BIGINT) AS n_samples,
           CAST(b.lag AS BIGINT) AS detected_period,
           (SELECT score FROM sc
            WHERE sc.doc_id = m.doc_id AND sc.lag = b.lag) AS peak_score,
           b.lag = m.p AS recovered,
           true AS ok
    FROM m JOIN best b ON b.doc_id = m.doc_id
"""


@query("audio_pitch_probe", oracle=AUDIO_PITCH_PROBE_ORACLE)
def audio_pitch_probe(spark, sf_dir):
    """L5a audio ANALYSIS level (upgrades the sample-level decode to
    signal understanding): periodic integer-sawtooth WAVs with a
    known fundamental (period = id%13+4) synthesized in codegen, then
    pitch-detected by NORMALIZED integer autocorrelation in Arrow
    batches (multimodal._audio_pitch_one — the 2^24-per-term shift
    makes floor and truncating division agree, so the score is
    engine-exact; unnormalized R(L) always peaks at the smallest lag,
    the octave-error pitfall the normalization exists to avoid).
    ``recovered`` compares the detector's argmax against the
    generative ground truth — the detection is REAL, not replayed:
    the oracle recomputes the same autocorrelation surface from the
    sample model and must land on the same peak. Recovery is 499/500
    at the gate SF (doc 481: a sub-2% noise-level score gap at a
    period multiple picks 8 over the true 4 — the documented residual
    of the threshold rule, and the oracle agrees on it exactly).
    YIN/pYIN swaps in behind the same (detected_period, peak_score)
    contract."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_wav_tone_payloads(d, "doc_id")
    feats = multimodal.decode_audio_pitch(media)
    return feats.select(
        "media_id", "media_type", "sample_rate", "n_samples",
        "detected_period", "peak_score",
        (F.col("detected_period") == F.col("media_id") % 13 + 4)
        .alias("recovered"),
        "ok",
    )


MULTIMODAL_EXIF_PROBE_ORACLE = """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(doc_id % 8 + 1 AS INT) AS orientation,
           'CAMERA' || CAST(doc_id % 5 AS VARCHAR) AS make,
           '2021:' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0')
             AS taken_at,
           true AS ok
    FROM documents
"""


@query("multimodal_exif_probe", oracle=MULTIMODAL_EXIF_PROBE_ORACLE)
def multimodal_exif_probe(spark, sf_dir):
    """L5m image METADATA level (Exif): JPEGs carrying a real APP1
    TIFF block — header, sorted IFD0, offset-stored ASCII data area —
    synthesized in codegen with the byte order ALTERNATING by id
    ('II' even / 'MM' odd), then parsed back by a genuine TIFF IFD
    walk (operators.multimodal.parse_jpeg_exif: both endiannesses,
    SHORT + ASCII types, inline and offset values). A parser
    hard-coded to one byte order fails half the corpus; the oracle
    replays the generative metadata model closed-form. Orientation
    feeds rotation normalization, make/timestamp feed provenance
    dedup — the metadata half of image curation."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_jpeg_exif_payloads(d, "doc_id")
    return multimodal.decode_exif_features(media)


MULTIMODAL_VIDEO_SCENES_ORACLE = """
    WITH m AS (SELECT doc_id, doc_id % 24 + 8 AS n, doc_id % 5 + 3 AS l
               FROM documents),
    by AS (SELECT m.doc_id, g.f, gj.j,
                  (m.doc_id * 3 + (g.f // m.l) * 97 + gj.j * 5) % 200
                  + (m.doc_id * 7 + g.f * 13 + gj.j * 3) % 4 AS v
           FROM m, generate_series(0, 30) g(f), generate_series(0, 15) gj(j)
           WHERE g.f < m.n),
    d AS (SELECT a.doc_id, a.f, SUM(ABS(a.v - p.v)) AS diff
          FROM by a JOIN by p ON p.doc_id = a.doc_id AND p.f = a.f - 1
                              AND p.j = a.j
          WHERE a.f >= 1 GROUP BY a.doc_id, a.f),
    bd AS (SELECT doc_id, f FROM d WHERE diff > 128)
    SELECT m.doc_id AS media_id, 'mp4' AS media_type,
           CAST(m.n AS BIGINT) AS n_frames,
           CAST(COUNT(bd.f) + 1 AS BIGINT) AS n_scenes,
           md5(coalesce(string_agg(CAST(bd.f AS VARCHAR), ','
                                   ORDER BY bd.f), '')) AS boundaries_md5,
           true AS ok
    FROM m LEFT JOIN bd ON bd.doc_id = m.doc_id
    GROUP BY m.doc_id, m.n
"""


@query("multimodal_video_scenes", oracle=MULTIMODAL_VIDEO_SCENES_ORACLE)
def multimodal_video_scenes(spark, sf_dir):
    """L5v video ANALYSIS level (content-aware upgrade of fixed-stride
    frame sampling): MP4s whose mdat frames carry scene structure —
    constant content per scene plus sub-threshold per-frame noise —
    synthesized in codegen, then cut-detected by L1 frame-difference
    energy in Arrow batches (multimodal._video_scenes_one; a naive
    exact-frame-match detector fails on the noise). boundaries_md5
    pins every detected cut POSITION. The oracle replays the full
    detection surface — frame bytes, pairwise L1 diffs, threshold —
    not just the closed-form boundary rule, though the two provably
    coincide (exhaustively verified for 10k ids in the synthesizer
    docstring's bound). pyscenedetect/ffmpeg histogram detectors swap
    in behind the same (n_scenes, boundaries) contract."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_mp4_scene_payloads(d, "doc_id")
    return multimodal.detect_video_scenes(media)


def _pagerank_oracle(n_iter: int = 3) -> str:
    parts = [
        """
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    e0 AS (SELECT d.doc_id AS src, (d.doc_id * 31 + g.k) % nn.n AS dst
           FROM documents d, generate_series(1, 3) g(k), nn
           WHERE g.k <= d.doc_id % 3 + 1),
    edges AS (SELECT src, dst FROM e0 WHERE src != dst),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(f""",
    i{t} AS (SELECT e.dst, SUM(r.r // dg.deg) AS s
           FROM edges e JOIN r{t-1} r ON r.id = e.src
           JOIN deg dg ON dg.src = e.src
           GROUP BY e.dst),
    r{t} AS (SELECT d.doc_id AS id,
                  150000 + (85 * COALESCE(i{t}.s, 0)) // 100 AS r
           FROM documents d LEFT JOIN i{t} ON i{t}.dst = d.doc_id)""")
    parts.append(f"""
    SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_scaled FROM r{n_iter}""")
    return "".join(parts)


GRAPH_PAGERANK_ORACLE = _pagerank_oracle()


@query("graph_pagerank", oracle=GRAPH_PAGERANK_ORACLE)
def graph_pagerank(spark, sf_dir):
    """L42 link-graph centrality (operators/graph.py pagerank): the
    Common-Crawl-ranking quality prior — integer fixed-point PageRank
    (micro-scaled ranks, 0.85 damping as 85 DIV 100) over a
    deterministic synthetic link graph (u -> (u*31+k) mod n,
    k=1..u%3+1 — VARIABLE out-degree, because the constant-k graph is
    a union of bijections whose stationary vector is uniform and a
    constant rank output is a worthless differential; self-loops
    dropped), 3 iterations, each one src-join + dst-groupBy
    shuffle with map-side combine and a left join back to the node
    list so sink-only nodes keep the teleport term. The fixed-point
    ladder is what makes a distributed iterative float algorithm
    oracle-checkable bit-for-bit: the oracle unrolls all three
    iterations as CTEs and must reproduce every rank exactly. The
    only driver state is the node count (one scalar — the
    IVF-centroid precedent)."""
    from .operators import graph as G

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    n = d.count()
    edges = G.synthetic_link_edges(d, "doc_id", F.lit(n))
    ranks = G.pagerank(edges, d, n_iter=3, id_col="doc_id")
    return ranks.select(F.col("id").alias("doc_id"), "rank_scaled")


_TFIDF_QUERIES = [
    (1, "hash join"),
    (2, "customer order"),
    (3, "slow vector scan"),
    (4, "merge group"),
    (5, "big order key"),
]


RETRIEVAL_TFIDF_TOPK_ORACLE = r"""
    WITH nq(query_id, term) AS (VALUES
        (1, 'hash'), (1, 'join'),
        (2, 'customer'), (2, 'order'),
        (3, 'scan'), (3, 'slow'), (3, 'vector'),
        (4, 'group'), (4, 'merge'),
        (5, 'big'), (5, 'key'), (5, 'order')),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    toks AS (SELECT doc_id,
                    unnest(string_split_regex(lower(coalesce(text, '')),
                                              '\s+')) AS term
             FROM documents),
    mt AS (SELECT doc_id, term FROM toks
           WHERE term IN (SELECT DISTINCT term FROM nq)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM mt
           GROUP BY doc_id, term),
    idf AS (SELECT term,
                   (1000000 * (nn.n + 1)) // (COUNT(DISTINCT doc_id) + 1)
                     AS idf_w
            FROM tf, nn GROUP BY term, nn.n),
    sc AS (SELECT q.query_id, tf.doc_id,
                  CAST(SUM(tf.tf * idf.idf_w) AS BIGINT) AS score
           FROM tf JOIN idf USING (term) JOIN nq q USING (term)
           GROUP BY q.query_id, tf.doc_id),
    r AS (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id ASC) AS rnk
          FROM sc)
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 5
"""


@query("retrieval_tfidf_topk", oracle=RETRIEVAL_TFIDF_TOPK_ORACLE)
def retrieval_tfidf_topk(spark, sf_dir):
    """L43 corpus retrieval (operators/retrieval.py tfidf_topk):
    targeted data selection / audit search — exact-integer TF-IDF
    (idf_w = 1e6*(N+1) DIV (df+1), score = sum tf*idf_w) over a fixed
    5-query set, top-5 per query with a total-order tiebreak. The
    query-term filter prunes the token stream BEFORE the tf shuffle
    (broadcast semi-join on ~12 terms), so the wide aggregation is
    proportional to matches, not corpus postings; idf is a broadcast
    join on the bounded matched-term table. BM25's float tf-curve and
    log idf swap in behind the same (query_id, doc_id, score)
    contract — the integer ladder exists so every rank is
    oracle-replayable, and the oracle recomputes tf, df, idf, scores,
    and the ranked cut verbatim."""
    from .operators import retrieval as R

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    return R.tfidf_topk(d, _TFIDF_QUERIES, k=5)


RETRIEVAL_BM25_TOPK_ORACLE = r"""
    WITH nq(query_id, term) AS (VALUES
        (1, 'hash'), (1, 'join'),
        (2, 'customer'), (2, 'order'),
        (3, 'scan'), (3, 'slow'), (3, 'vector'),
        (4, 'group'), (4, 'merge'),
        (5, 'big'), (5, 'key'), (5, 'order')),
    lens AS (SELECT doc_id,
                    string_split_regex(lower(coalesce(text, '')),
                                       '\s+') AS tl
             FROM documents),
    nn AS (SELECT COUNT(*) AS n,
                  CAST(SUM(len(tl)) AS BIGINT) AS a
           FROM lens),
    toks AS (SELECT doc_id, CAST(len(tl) AS BIGINT) AS dl,
                    unnest(tl) AS term
             FROM lens),
    mt AS (SELECT doc_id, dl, term FROM toks
           WHERE term IN (SELECT DISTINCT term FROM nq)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM mt
           GROUP BY doc_id, term),
    idf AS (SELECT term,
                   (1000000 * (2 * (nn.n - COUNT(DISTINCT doc_id)) + 1))
                     // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_w
            FROM tf, nn GROUP BY term, nn.n),
    sc AS (SELECT q.query_id, tf.doc_id,
                  CAST(SUM(idf.idf_w *
                       ((44000 * nn.a * tf.tf) //
                        (20 * nn.a * tf.tf + 6 * nn.a + 18 * nn.n * tf.dl)))
                       AS BIGINT) AS score
           FROM tf JOIN idf USING (term) JOIN nq q USING (term), nn
           GROUP BY q.query_id, tf.doc_id),
    r AS (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id ASC) AS rnk
          FROM sc)
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 5
"""


@query("retrieval_bm25_topk", oracle=RETRIEVAL_BM25_TOPK_ORACLE)
def retrieval_bm25_topk(spark, sf_dir):
    """L43b fixed-point BM25 retrieval (operators/retrieval.py
    bm25_topk — VERDICT r7 "What's missing" #5, closing the retrieval
    story): the REAL k1=1.2 / b=0.75 saturating-tf + document-length
    normalization curve, cleared of rational denominators so it is
    all-integer (w_tf = 44000*A*tf DIV (20*A*tf + 6*A + 18*N*dl)),
    with a monotone rational idf surrogate in place of Robertson's
    log (log is monotone — per-term orderings agree; the float curve
    swaps in behind the same contract). Same fixed 5-query set and
    top-5 contract as retrieval_tfidf_topk, so the two rows pin the
    whole ladder: plain TF-IDF and BM25's tf-curve/length effects.
    The oracle recomputes N, A, df, both integer curves, scores, and
    the ranked cut verbatim. Scale shape: identical to tfidf_topk
    (query-term broadcast prune before the tf shuffle; dl carried
    through the tf aggregate, never a second corpus join)."""
    from .operators import retrieval as R

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    return R.bm25_topk(d, _TFIDF_QUERIES, k=5)


RETRIEVAL_RRF_FUSION_ORACLE = (
    "WITH bm AS ({bm}),\n"
    "tfi AS ({tfi}),\n"
    "j AS (SELECT COALESCE(bm.query_id, tfi.query_id) AS query_id,\n"
    "             COALESCE(bm.doc_id, tfi.doc_id) AS doc_id,\n"
    "             bm.rnk AS rb, tfi.rnk AS rt\n"
    "      FROM bm FULL JOIN tfi\n"
    "        ON bm.query_id = tfi.query_id AND bm.doc_id = tfi.doc_id),\n"
    "s AS (SELECT query_id, doc_id,\n"
    "        (CASE WHEN rb IS NULL THEN 0 ELSE 1000000 // (60 + rb) END\n"
    "       + CASE WHEN rt IS NULL THEN 0 ELSE 1000000 // (60 + rt) END)\n"
    "          AS rrf_u,\n"
    "        rb IS NOT NULL AND rt IS NOT NULL AS in_both\n"
    "      FROM j),\n"
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
    "        ORDER BY rrf_u DESC, doc_id ASC) AS rnk FROM s)\n"
    "SELECT query_id, doc_id, CAST(rrf_u AS BIGINT) AS rrf_u, in_both,\n"
    "       CAST(rnk AS BIGINT) AS rnk\n"
    "FROM r WHERE rnk <= 5"
).format(bm=RETRIEVAL_BM25_TOPK_ORACLE, tfi=RETRIEVAL_TFIDF_TOPK_ORACLE)


@query("retrieval_rrf_fusion", oracle=RETRIEVAL_RRF_FUSION_ORACLE)
def retrieval_rrf_fusion(spark, sf_dir):
    """L43d hybrid-retrieval RANK FUSION (staged r10-cont; Cormack et
    al.'s Reciprocal Rank Fusion, the standard way production search
    combines rankers): the fixed-point BM25 and exact TF-IDF top-5
    lists for the same 5-query set fuse by summed reciprocal ranks —
    each term the exact integer 1e6 div (60 + rank), so the fused
    score replays bit-for-bit — with docs surfaced by only ONE ranker
    contributing that ranker's term alone (the full-outer semantics
    RRF defines). Emits the fused top-5 per query plus an in_both
    flag (consensus docs vs single-ranker finds). The fusion layer
    itself is rank-only — a full-outer join of two 5-row-per-query
    lists; BOTH rankers score over ONE shared tokenized/pruned tf
    frame (r14 — the seam this docstring used to only document:
    retrieval.tfidf_score_from_frame produces tfidf_topk's
    byte-identical ranks from bm25_tf_frame, so the corpus lower+split
    scan and the stats collect run once, not per ranker)."""
    from .operators import retrieval as R

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    frame = R.bm25_tf_frame(d, _TFIDF_QUERIES, freeze=True)
    bm = R.bm25_score_fixed(frame, k=5).select(
        "query_id", "doc_id", F.col("rnk").alias("__rb")
    )
    tfi = R.tfidf_score_from_frame(frame, k=5).select(
        "query_id", "doc_id", F.col("rnk").alias("__rt")
    )
    j = bm.join(tfi, ["query_id", "doc_id"], "full")
    term = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(),
        F.expr(f"CAST(1000000 AS BIGINT) div (60 + {c})"),
    ).otherwise(F.lit(0).cast("bigint"))
    s = j.select(
        "query_id",
        "doc_id",
        (term("__rb") + term("__rt")).alias("rrf_u"),
        (F.col("__rb").isNotNull() & F.col("__rt").isNotNull()).alias(
            "in_both"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "doc_id", "rrf_u", "in_both", "rnk")
    )


RETRIEVAL_BM25_RANK_AGREEMENT_ORACLE = r"""
    WITH nq(query_id, term) AS (VALUES
        (1, 'hash'), (1, 'join'),
        (2, 'customer'), (2, 'order'),
        (3, 'scan'), (3, 'slow'), (3, 'vector'),
        (4, 'group'), (4, 'merge'),
        (5, 'big'), (5, 'key'), (5, 'order')),
    lens AS (SELECT doc_id,
                    string_split_regex(lower(coalesce(text, '')),
                                       '\s+') AS tl
             FROM documents),
    nn AS (SELECT COUNT(*) AS n,
                  CAST(SUM(len(tl)) AS BIGINT) AS a
           FROM lens),
    toks AS (SELECT doc_id, CAST(len(tl) AS BIGINT) AS dl,
                    unnest(tl) AS term
             FROM lens),
    mt AS (SELECT doc_id, dl, term FROM toks
           WHERE term IN (SELECT DISTINCT term FROM nq)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM mt
           GROUP BY doc_id, term),
    fidf AS (SELECT term,
                    (1000000 * (2 * (nn.n - COUNT(DISTINCT doc_id)) + 1))
                      // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_w
             FROM tf, nn GROUP BY term, nn.n),
    fsc AS (SELECT q.query_id, tf.doc_id,
                   CAST(SUM(fidf.idf_w *
                        ((44000 * nn.a * tf.tf) //
                         (20 * nn.a * tf.tf + 6 * nn.a + 18 * nn.n * tf.dl)))
                        AS BIGINT) AS score
            FROM tf JOIN fidf USING (term) JOIN nq q USING (term), nn
            GROUP BY q.query_id, tf.doc_id),
    fr AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rnk
           FROM fsc),
    gidf AS (SELECT term,
                    ln((CAST(2*(nn.n - COUNT(DISTINCT doc_id)) + 1 AS DOUBLE)
                        / CAST(2*COUNT(DISTINCT doc_id) + 1 AS DOUBLE))
                       + 1.0) AS idf_w
             FROM tf, nn GROUP BY term, nn.n),
    gper AS (SELECT q.query_id, tf.doc_id, tf.term,
                    gidf.idf_w *
                    ((CAST(tf.tf AS DOUBLE) * 2.2) /
                     (CAST(tf.tf AS DOUBLE) + 1.2 *
                      (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
                                      * CAST(nn.n AS DOUBLE))
                       / CAST(nn.a AS DOUBLE)))) AS w
             FROM tf JOIN gidf USING (term) JOIN nq q USING (term), nn),
    gsc AS (SELECT query_id, doc_id, SUM(w ORDER BY term) AS score
            FROM gper GROUP BY query_id, doc_id),
    gr AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rnk
           FROM gsc)
    SELECT CAST(f.query_id AS BIGINT) AS query_id,
           CAST(COUNT(g.doc_id) AS BIGINT) AS overlap_at_5,
           CAST(SUM(CASE WHEN f.rnk = g.rnk THEN 1 ELSE 0 END) AS BIGINT)
             AS rank_exact,
           CAST(MAX(CASE WHEN f.rnk = 1 AND g.rnk = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS top1_same
    FROM (SELECT * FROM fr WHERE rnk <= 5) f
    LEFT JOIN (SELECT * FROM gr WHERE rnk <= 5) g
      ON g.query_id = f.query_id AND g.doc_id = f.doc_id
    GROUP BY f.query_id
"""


@query(
    "retrieval_bm25_rank_agreement",
    oracle=RETRIEVAL_BM25_RANK_AGREEMENT_ORACLE,
)
def retrieval_bm25_rank_agreement(spark, sf_dir):
    """L43c BM25 float-vs-fixed-point RANK-AGREEMENT audit (VERDICT r8
    directive #8 — the percentile-audit idiom): runs the fixed-point
    curve (retrieval.bm25_topk, every rank oracle-replayable) AND the
    textbook float curve (retrieval.bm25_float_topk — real ln() idf,
    real rational tf curve) over the same 5-query set, then emits per
    query the top-5 set overlap, the count of positions where both
    rankings agree exactly, and whether the top-1 doc matches. No
    float ever leaves the query — the output is all-BIGINT counts.

    Why this is ORACLE-BOUND even though ln() is not bit-identical
    across engines (measured: ~7% of idf inputs differ by 1 ulp
    between JVM Math.log and DuckDB libm): the float pipeline is
    otherwise a fixed chain of correctly-rounded IEEE ops on
    integer-derived inputs with a SORTED-order per-doc summation, and
    the measured adjacent-score margins in the top-10 are >= 2e-5
    relative at sf0.01/sf0.1 — ten orders above ulp noise — so both
    engines produce the same float RANKING even where scores differ
    in the last bit. The oracle replays both curves and the same
    LEFT-JOIN agreement aggregation verbatim; genuine rank drift in
    either curve, the smoothing, or the cut hash-mismatches."""
    from .operators import retrieval as R

    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    # ONE tokenized/pruned/cached tf frame, scored by both curves
    # (ADVICE r9 #2: the two top-k entry points each rebuilt it, so
    # the lower+split scan and the stats collect ran twice per call)
    frame = R.bm25_tf_frame(d, _TFIDF_QUERIES, freeze=True)
    fixed = R.bm25_score_fixed(frame, k=5)
    flt = R.bm25_score_float(frame, k=5).select(
        "query_id", "doc_id", F.col("rnk").alias("__frnk")
    )
    j = fixed.join(flt, ["query_id", "doc_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("__frnk").cast("bigint").alias("overlap_at_5"),
        F.sum(
            F.when(F.col("rnk") == F.col("__frnk"), 1).otherwise(0)
        ).cast("bigint").alias("rank_exact"),
        F.max(
            F.when((F.col("rnk") == 1) & (F.col("__frnk") == 1), 1).otherwise(0)
        ).cast("bigint").alias("top1_same"),
    )


CSV_ROUNDTRIP_AGG_ORACLE = """
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_acctbal,
           COUNT(*) FILTER (WHERE (c_name || ', ' || c_mktsegment)
                            LIKE '%, %') AS n_notes_intact
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_nationkey
"""


@query("csv_roundtrip_agg", oracle=CSV_ROUNDTRIP_AGG_ORACLE)
def csv_roundtrip_agg(spark, sf_dir):
    """S10b CSV source/sink parity (closes the one readers.py format
    with no driver row): customer plus an injected comma-bearing note
    column is dumped to gzip CSV (sources.write_csv — header +
    RFC-4180 quoting) and read back with an EXPLICIT schema
    (sources.read_csv; schema-less CSV reads infer by scanning, the
    same 100 TB anti-pattern as jsonl), then aggregated per nation.
    n_notes_intact counts notes whose embedded ', ' survived — a
    sink that mis-quotes the delimiter shears the column and cannot
    match. The oracle aggregates the original parquet: the round
    trip is lossless (doubles included — Java's shortest-round-trip
    toString), so any mismatch is a sink/reader bug."""
    from pathlib import Path

    from pyspark.sql import types as T

    from .sources import readers as SRC2

    cat = _cat(spark, sf_dir)
    c = cat.table("customer").df.withColumn(
        "c_note", F.concat_ws(", ", F.col("c_name"), F.col("c_mktsegment"))
    )
    dst = str(cat.scratch / "csv_customer")
    # export paid every run (r15) — same rationale as orc_roundtrip_agg
    import shutil as _sh

    _sh.rmtree(dst, ignore_errors=True)
    SRC2.write_csv(c, dst)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_note", T.StringType()),
        ]
    )
    back = SRC2.read_csv(spark, dst, schema=schema).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return back.groupBy(F.col("c_nationkey").cast("bigint").alias("c_nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double").alias("total_acctbal"),
        F.count_if(F.col("c_note").like("%, %")).alias("n_notes_intact"),
    )


def _phash_groups_oracle() -> str:
    return f"""
    WITH geo AS (SELECT doc_id, doc_id % 50 AS grp,
                        (doc_id // 50) % 19 AS sh,
                        CAST((doc_id % 50) % 4 + 1 AS BIGINT) * 4 AS w,
                        CAST((doc_id % 50) % 6 + 1 AS BIGINT) AS h
                 FROM documents),
    cells AS (
      SELECT g.doc_id, gj.j, gi.i,
             (((g.grp + (gi.i * g.w // 8) + (gj.j * g.h // 8)) % 200)
            + ((g.grp * 3 + (gi.i * g.w // 8) * 7) % 200)
            + ((g.grp * 5 + (gj.j * g.h // 8) * 11) % 200)
            + 9 * g.sh) // 3 AS v
      FROM geo g, generate_series(0, 7) gi(i), generate_series(0, 7) gj(j)),
    {_phash_core_ctes().lstrip()},
    bits AS (
      SELECT c.doc_id,
             string_agg(CASE WHEN c.s > m.m THEN '1' ELSE '0' END, ''
                        ORDER BY c.v, c.u) AS b
      FROM coef c JOIN med m USING (doc_id)
      GROUP BY c.doc_id),
    sig AS (SELECT doc_id, substr(b, 2) AS s FROM bits)
    SELECT CAST(MIN(doc_id) AS BIGINT) AS min_id,
           COUNT(*) AS group_size,
           md5(s) AS sig_md5
    FROM sig GROUP BY s HAVING COUNT(*) > 1
    """


DEDUP_IMAGE_PHASH_GROUPS_ORACLE = _phash_groups_oracle()


@query("dedup_image_phash_groups", oracle=DEDUP_IMAGE_PHASH_GROUPS_ORACLE)
def dedup_image_phash_groups(spark, sf_dir):
    """L5i3 perceptual near-duplicate GROUPING — the end-to-end use of
    pHash (re-encodes/re-exposures of one image collapse to a group):
    a corpus where 50 content groups each appear under ~10 different
    global brightness shifts (synthesize_bmp_brightness_payloads) is
    pHash-decoded in Arrow batches; the 63 AC bits (DC dropped — it
    absorbs the brightness constant) form the group key and an exact
    groupBy yields duplicate clusters. aHash or raw-byte equality
    CANNOT group these (the shift flips their bits; proven in the
    pHash unit test) — the spectral invariance is what makes the
    composition work. Shape: one decode stage, ONE groupBy on a
    63-char signature — the banded-equi-join generalization (hamming
    > 0) is the documented simhash-shaped extension. At the gate SF
    the 50 content groups collapse to 21 signature groups: the
    smallest geometries (down to 4x1) alias in the spectrum —
    expected pHash precision loss on tiny images, reproduced exactly
    by the oracle, which recomputes every pHash from the generative
    model (grid, integer DCT, ranked median, threshold votes)."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_bmp_brightness_payloads(d, "doc_id")
    ph = multimodal.decode_image_phash(media)
    # md5 computed MAP-SIDE so the groupBy shuffles 16-byte digests,
    # not 63-char bit strings (the dedup_lines digest-key idiom)
    sig_md5 = F.md5(F.encode(F.substring("phash_bits", 2, 63), "UTF-8"))
    return (
        ph.groupBy(sig_md5.alias("sig_md5"))
        .agg(
            F.min("media_id").alias("min_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
        .select("min_id", "group_size", "sig_md5")
    )


AUDIO_SEGMENTS_PROBE_ORACLE = """
    WITH m AS (SELECT doc_id, (doc_id % 10) * 4 + 60 AS n,
                      doc_id % 11 + 8 AS sl
               FROM documents),
    s AS (SELECT m.doc_id, g.i // 4 AS w,
                 CASE WHEN (g.i // m.sl) % 2 = 0
                      THEN (CASE WHEN g.i % 2 = 0 THEN 1 ELSE -1 END)
                           * (500 + (m.doc_id * 7 + g.i * 13) % 1500)
                      ELSE (m.doc_id * 3 + g.i * 5) % 7 - 3 END AS v
          FROM m, generate_series(0, 95) g(i) WHERE g.i < m.n),
    w AS (SELECT doc_id, w, SUM(ABS(v)) > 200 AS cls
          FROM s GROUP BY doc_id, w),
    f AS (SELECT doc_id, cls,
                 LAG(cls) OVER (PARTITION BY doc_id ORDER BY w) AS prev
          FROM w),
    agg AS (SELECT doc_id,
                   COUNT(*) FILTER (WHERE prev IS NOT NULL
                                    AND cls != prev) AS flips,
                   COUNT(*) FILTER (WHERE cls) AS nsw
            FROM f GROUP BY doc_id)
    SELECT m.doc_id AS media_id, 'wav' AS media_type,
           CAST(m.n AS BIGINT) AS n_samples,
           CAST(m.n // 4 AS BIGINT) AS n_windows,
           CAST(a.flips + 1 AS BIGINT) AS n_segments,
           CAST(a.nsw AS BIGINT) AS n_speech_windows,
           CASE WHEN m.n % m.sl = 0 OR m.n % m.sl >= 7
                THEN a.flips + 1 = m.n // m.sl
                     + CASE WHEN m.n % m.sl >= 7 THEN 1 ELSE 0 END
                ELSE NULL END AS recovered,
           true AS ok
    FROM m JOIN agg a ON a.doc_id = m.doc_id
"""


@query("audio_segments_probe", oracle=AUDIO_SEGMENTS_PROBE_ORACLE)
def audio_segments_probe(spark, sf_dir):
    """L5a2 audio SEGMENTATION (ASR-corpus chunking — completes the
    audio ladder: header -> samples -> pitch -> segments): WAVs
    alternating speech/silence segments at generative boundaries
    (synthesize_wav_speech_payloads), segmented by windowed abs-sum
    energy thresholding in Arrow batches (_audio_segments_one;
    WebRTC-VAD/Silero swap in as the window classifier). ``recovered``
    compares detected count to the closed-form ceil(n/seg_len) ON THE
    GUARANTEED SUBSET (tail 0 or >= 7 samples — 100% there by the
    margin construction); short-tail docs carry recovered=NULL, the
    honest quantization residual of grid-aligned windows. The oracle
    replays samples, window classes, and the flip count exactly."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_wav_speech_payloads(d, "doc_id")
    feats = multimodal.decode_audio_segments(media)
    n = F.col("media_id") % 10 * 4 + 60
    sl = F.col("media_id") % 11 + 8
    tail = n % sl
    expected = F.expr(
        "(media_id % 10 * 4 + 60) div (media_id % 11 + 8)"
    ) + F.when(tail >= 7, 1).otherwise(0)
    return feats.select(
        "media_id", "media_type", "n_samples", "n_windows", "n_segments",
        "n_speech_windows",
        F.when((tail == 0) | (tail >= 7), F.col("n_segments") == expected)
        .alias("recovered"),
        "ok",
    )


# The audio_segments_probe replay minus its 'recovered' audit column
# (this row gates the LOADER, not the boundary-recovery property), plus
# the loaded step count: the generative model and the window classifier
# cannot drift between the two rows.
@query(
    "audio_vad_table_probe",
    oracle=(
        "SELECT media_id, media_type, n_samples, n_windows, n_segments,"
        " n_speech_windows, ok, CAST(3 AS BIGINT) AS n_steps_loaded FROM ("
        + AUDIO_SEGMENTS_PROBE_ORACLE
        + ")"
    ),
)
def audio_vad_table_probe(spark, sf_dir):
    """L5a3 the VAD decision-table FILE seam driven under the oracle
    gate (VERDICT r12 directive #6 made the WebRTC-VAD/Silero loader
    executable; this row makes the driver PROVE loaded ≡ inline on
    the gate fixtures): the speech/silence corpus of
    audio_segments_probe is segmented with a LOADED 3-step energy
    decision table ([(0, silence), (201, speech), (100000, silence)])
    round-tripped through a real vad.tsv (dump_vad_decision_table /
    load_vad_decision_table — strict: unsorted boundaries or labels
    outside {0,1} fail at load). On this generative corpus the third
    step is unreachable by construction (speech window abs-sums are
    bounded at 4 x 1999 < 100000), so the table classifies exactly
    like the inline ``sum > 200`` threshold and the oracle is the
    audio_segments_probe replay verbatim plus the loaded step count —
    a mis-parsed boundary or label flips a window class and
    hash-mismatches. Scale shape: identical to audio_segments_probe
    (map-only Arrow decode; the table ships in the closure)."""
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    path = Path(str(cat.scratch)) / "vad_table_roundtrip.tsv"
    path.parent.mkdir(parents=True, exist_ok=True)
    multimodal.dump_vad_decision_table(
        [(0, 0), (201, 1), (100000, 0)], path
    )
    table = multimodal.load_vad_decision_table(path)
    docs = cat.table("documents").df.select("doc_id")
    # rows-per-task-aware sizing (util.stat_partitions, r15)
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_wav_speech_payloads(d, "doc_id")
    feats = multimodal.decode_audio_segments(media, decision_table=table)
    return feats.select(
        "media_id", "media_type", "n_samples", "n_windows",
        "n_segments", "n_speech_windows", "ok",
    ).withColumn("n_steps_loaded", F.lit(len(table)).cast("bigint"))


TEXT_LEXICAL_DIVERSITY_ORACLE = r"""
    WITH t AS (SELECT doc_id,
                      unnest(string_split_regex(lower(coalesce(text, ''))
                             , '\s+')) AS term
               FROM documents),
    c AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
    a AS (SELECT doc_id, SUM(c) AS n, SUM(c * c) AS nsq,
                 COUNT(*) AS ndist
          FROM c GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(ndist AS BIGINT) AS n_distinct,
           CAST(1000000 - (CAST(1000000 AS BIGINT) * nsq) // (n * n)
                AS BIGINT) AS simpson_scaled
    FROM a
"""


@query("text_lexical_diversity", oracle=TEXT_LEXICAL_DIVERSITY_ORACLE)
def text_lexical_diversity(spark, sf_dir):
    """L44 lexical-diversity quality signal (functions.text
    .lexical_diversity): Simpson's 1 - sum(p^2) in EXACT integer
    micro-units — the log-free stand-in for unigram entropy and
    compression-ratio repetitiveness signals (those need zlib/log and
    go rows-only; Simpson is a pure rational both engines replay
    bit-for-bit). Map-only: per-doc sorted-token run fold computes
    sum-of-squared-counts AND distinct count in one codegen pass — no
    explode, no shuffle beyond the single-split input spread. The
    oracle recomputes counts with a plain GROUP BY."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    cols = TX.lexical_diversity(F.col("text"))
    return d.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["n_distinct"].alias("n_distinct"),
        cols["simpson_scaled"].alias("simpson_scaled"),
    )


_CODE_BLOCK = "def f(x):\n    y = x + 1;\n    return y\n}\nz = f(2);"
_PROSE_BLOCK = "the quick brown fox\njumps over lazy dogs\nplain prose here"


TEXT_CODE_DETECT_ORACLE = """
    WITH t AS (SELECT doc_id, doc_id % 3 AS variant,
                      coalesce(text, '') ||
                      CASE doc_id % 3
                        WHEN 0 THEN chr(10) || 'def f(x):' || chr(10)
                             || '    y = x + 1;' || chr(10)
                             || '    return y' || chr(10) || '}'
                             || chr(10) || 'z = f(2);'
                        WHEN 1 THEN chr(10) || 'the quick brown fox'
                             || chr(10) || 'jumps over lazy dogs'
                             || chr(10) || 'plain prose here'
                        ELSE '' END AS text2
               FROM documents),
    l AS (SELECT doc_id, unnest(string_split(text2, chr(10))) AS line
          FROM t),
    v AS (SELECT doc_id, COUNT(*) AS n_lines,
                 COUNT(*) FILTER (WHERE starts_with(line, '    ')
                    OR starts_with(line, chr(9))
                    OR line LIKE '%;' OR line LIKE '%{' OR line LIKE '%}'
                    OR contains(line, 'def ') OR contains(line, ' = ')
                    OR contains(line, 'return')) AS n_code
          FROM l GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.variant AS BIGINT) AS variant,
           CAST(v.n_lines AS BIGINT) AS n_lines,
           CAST(v.n_code AS BIGINT) AS n_code_lines,
           CAST((1000 * v.n_code) // v.n_lines AS BIGINT) AS code_permille,
           (1000 * v.n_code) // v.n_lines >= 300 AS is_code
    FROM t JOIN v ON v.doc_id = t.doc_id
"""


@query("text_code_detect", oracle=TEXT_CODE_DETECT_ORACLE)
def text_code_detect(spark, sf_dir):
    """L45 code-fraction detection (functions.text.code_line_stats)
    — the Stack/StarCoder corpus-routing decision: a generative twin
    appends a 5-line code block (variant 0), a 3-line prose block
    (variant 1), or nothing (variant 2) to each document (the corpus
    itself carries ZERO code signals — verified), and the detector's
    line-level substring signals must separate them exactly: variant
    0 -> 5/6 code lines (833 permille, is_code), 1 and 2 -> 0. All
    signals are plain substring tests, so the oracle replays the
    twin construction and every line vote with LIKE/contains — no
    regex-dialect parity risk anywhere."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    variant = F.col("doc_id") % 3
    text2 = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(variant == 0, F.lit("\n" + _CODE_BLOCK))
        .when(variant == 1, F.lit("\n" + _PROSE_BLOCK))
        .otherwise(F.lit("")),
    )
    cols = TX.code_line_stats(text2)
    return d.select(
        "doc_id",
        variant.cast("bigint").alias("variant"),
        cols["n_lines"].alias("n_lines"),
        cols["n_code_lines"].alias("n_code_lines"),
        cols["code_permille"].alias("code_permille"),
        cols["is_code"].alias("is_code"),
    )


EMBEDDING_MATRYOSHKA_AUDIT_ORACLE = """
    WITH v AS (SELECT label, vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                      list_max(list_transform(embedding,
                               x -> abs(CAST(x AS DOUBLE)))) AS maxabs
               FROM embeddings),
    q AS (SELECT label, vec_id, g.i,
                 CASE WHEN maxabs = 0 THEN 0
                      ELSE CAST(floor(emb[g.i] * 127.0 / maxabs) AS BIGINT)
                 END AS qv
          FROM v, unnest(generate_series(1, 64)) AS g(i)),
    s AS (SELECT label, kk.k,
                 SUM(CASE WHEN q.i <= kk.k THEN qv * qv ELSE 0 END) AS pref,
                 SUM(qv * qv) AS tot
          FROM q, (VALUES (8), (16), (32), (64)) kk(k)
          GROUP BY label, kk.k)
    SELECT CAST(label AS BIGINT) AS label, CAST(k AS BIGINT) AS k,
           CAST((CAST(1000000 AS BIGINT) * pref) // tot AS BIGINT)
             AS frac_micro
    FROM s
"""


@query("embedding_matryoshka_audit", oracle=EMBEDDING_MATRYOSHKA_AUDIT_ORACLE)
def embedding_matryoshka_audit(spark, sf_dir):
    """L46 matryoshka-readiness audit (Kusupati et al. MRL): how much
    of each label's embedding energy lives in the first k dims — the
    number that decides whether truncated vectors are usable for
    cheap first-stage retrieval. Embeddings are int8-quantized first
    (similarity.quantize_int8, the established exact-integer bridge),
    then per (label, k in 8/16/32/64): frac_micro = 1e6 * sum of
    prefix squared q-values DIV total — pure integer, zero float
    aggregation order risk. k=64 rows are the built-in sanity
    (exactly 1e6). Map-only prefix folds; one label aggregate."""
    e = _cat(spark, sf_dir).table("embeddings").df
    qd = similarity.quantize_int8(e)

    def sq(arr):
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda a, x: a + x.cast("long") * x.cast("long"),
        )

    agg = qd.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        *[
            F.sum(sq(F.slice(F.col("q8"), 1, k))).alias(f"p{k}")
            for k in (8, 16, 32, 64)
        ],
        F.sum(sq(F.col("q8"))).alias("tot"),
    )
    stacked = agg.select(
        "label",
        F.expr(
            "stack(4, CAST(8 AS BIGINT), p8, CAST(16 AS BIGINT), p16, "
            "CAST(32 AS BIGINT), p32, CAST(64 AS BIGINT), p64) AS (k, pref)"
        ),
        "tot",
    )
    return stacked.select(
        "label", "k",
        F.expr("(CAST(1000000 AS BIGINT) * pref) div tot").alias("frac_micro"),
    )


EMBEDDING_PQ_AUDIT_ORACLE = """
    WITH v AS (SELECT label, vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                      list_max(list_transform(embedding,
                               x -> abs(CAST(x AS DOUBLE)))) AS maxabs
               FROM embeddings),
    q AS (SELECT label, vec_id, g.i,
                 (g.i - 1) // 8 AS m, (g.i - 1) % 8 AS j,
                 CASE WHEN maxabs = 0 THEN 0
                      ELSE CAST(floor(emb[g.i] * 127.0 / maxabs) AS BIGINT)
                 END AS qv
          FROM v, unnest(generate_series(1, 64)) AS g(i)),
    codes AS (SELECT label, vec_id, m,
                     SUM(CASE WHEN qv > 0 THEN 1 << j ELSE 0 END) AS code
              FROM q GROUP BY label, vec_id, m),
    dims AS (SELECT q.label, q.vec_id, q.m, c.code, q.j, q.qv AS v
             FROM q JOIN codes c
               ON c.vec_id = q.vec_id AND c.m = q.m AND c.label = q.label),
    cent AS (SELECT m, code, j, SUM(v) // COUNT(*) AS c
             FROM dims GROUP BY m, code, j)
    SELECT CAST(d.label AS BIGINT) AS label,
           CAST(COUNT(DISTINCT d.vec_id) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT (d.m, d.code)) AS BIGINT)
             AS n_distinct_codes,
           CAST(SUM((d.v - ct.c) * (d.v - ct.c)) AS BIGINT)
             AS distortion_sum
    FROM dims d JOIN cent ct ON ct.m = d.m AND ct.code = d.code
                             AND ct.j = d.j
    GROUP BY d.label
"""


@query("embedding_pq_audit", oracle=EMBEDDING_PQ_AUDIT_ORACLE)
def embedding_pq_audit(spark, sf_dir):
    """L47 product quantization (Jegou et al.) — the last rung of the
    ANN compression ladder (brute -> LSH -> IVF -> random projection
    -> int8 -> PQ): 64-dim int8-quantized vectors split into M=8
    subspaces of D=8; each subspace coded by its SIGN PATTERN (the
    repo's deterministic stand-in for k-means codebooks — same
    replayability argument as dedup_semantic's quantizer; a trained
    codebook swaps in as a broadcast (m, code, centroid) table);
    codebook centroids estimated as per-(subspace, code, dim) integer
    truncated means (one shuffle), and reconstruction distortion
    sum((q - centroid)^2) reported per label — every number exact
    integer, every division truncated identically in both engines
    (Spark `div` == DuckDB `//`, verified on negatives). 64-to-8-byte
    code compression is the memory story that makes 100 TB ANN
    indexes fit executor RAM."""
    e = _cat(spark, sf_dir).table("embeddings").df
    qd = similarity.quantize_int8(e).select("label", "vec_id", "q8")
    sub = qd.select(
        "label", "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda m: F.struct(
                    m.cast("long").alias("m"),
                    F.slice(F.col("q8"), m * 8 + 1, 8).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("label", "vec_id", "s.m", "s.sv")
    # sign-bit code as a (code, weight) fold — bit j weights 2^j
    code = F.aggregate(
        F.col("sv"),
        F.struct(
            F.lit(0).cast("long").alias("code"),
            F.lit(1).cast("long").alias("w"),
        ),
        lambda a, x: F.struct(
            (a["code"] + F.when(x > 0, a["w"]).otherwise(F.lit(0).cast("long")))
            .alias("code"),
            (a["w"] * 2).alias("w"),
        ),
        lambda a: a["code"],
    )
    coded = sub.withColumn("code", code)
    dims = coded.select(
        "label", "vec_id", "m", "code",
        F.posexplode(F.col("sv")).alias("j", "v"),
    ).withColumn("v", F.col("v").cast("long"))
    # eager checkpoint (r14): dims feeds both the centroid aggregate
    # and the distortion join probe side — uncheckpointed, the
    # quantize+double-explode subtree computed twice per action
    dims = _util.own(dims.localCheckpoint(eager=True))
    cent = dims.groupBy("m", "code", "j").agg(
        F.expr("sum(v) div count(1)").alias("c")
    )
    dist = (
        dims.join(cent, ["m", "code", "j"])
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.countDistinct("m", "code").alias("n_distinct_codes"),
            F.sum(F.expr("(v - c) * (v - c)")).cast("long")
            .alias("distortion_sum"),
        )
    )
    return dist.select(
        F.col("label").cast("bigint").alias("label"),
        "n_vecs", "n_distinct_codes", "distortion_sum",
    )


EVENTS_ROLLING_ACTIVES_ORACLE = """
    WITH daily AS (SELECT DISTINCT
                     CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                     user_id
                   FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
    wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
            FROM (SELECT DISTINCT day FROM daily) d
            JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day)
    SELECT d.day, d.dau, w.wau FROM dau d JOIN wau w USING (day)
"""


@query("events_rolling_actives", oracle=EVENTS_ROLLING_ACTIVES_ORACLE)
def events_rolling_actives(spark, sf_dir):
    """L48 rolling active users (DAU / 7-day WAU) — the event-
    analytics staple of the reference's original domain that the
    funnel/cohort/sessionize family did not yet cover. Scale shape:
    one (day, user) DISTINCT over the stream, then WAU via a BOUNDED
    7-day fan-out (explode each daily-active row into the 7 windows
    it serves) + countDistinct — never a day-range join against the
    event stream, so the wide work is 7x the daily-active table, not
    the raw events. Day arithmetic is the cohort row's integer
    epoch-day idiom; the oracle computes WAU with the equivalent
    BETWEEN join over the same distinct set."""
    ev = _cat(spark, sf_dir).table("events").df
    day = F.floor(F.col("ts").cast("double") / F.lit(86400)).cast("bigint")
    # cached: BOTH the dau and wau branches read this frame — without
    # it the plan pays the raw-event scan + distinct shuffle twice
    # (seen in EXPLAIN.md before the fix, no ReusedExchange)
    daily = _util.own(
        ev.select(day.alias("day"), "user_id").distinct().cache()
    )
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


SKETCH_ROLLUP_ACTIVES_ORACLE = """
    WITH d AS (SELECT DISTINCT
                 CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                 user_id
               FROM events WHERE ts IS NOT NULL),
    w AS (SELECT DISTINCT (day - day % 7) // 7 AS week, user_id FROM d)
    SELECT CAST(week AS BIGINT) AS week,
           COUNT(*) AS exact_weekly,
           true AS sketch_ok
    FROM w GROUP BY week
"""


@query("sketch_rollup_actives", oracle=SKETCH_ROLLUP_ACTIVES_ORACLE)
def sketch_rollup_actives(spark, sf_dir):
    """L49 MERGEABLE-sketch rollup (DataSketches HLL via Spark's
    hll_sketch_agg / hll_union_agg) — the production shape of
    events_rolling_actives at 100 TB: per-DAY user sketches are
    materialized once (a few KB each) and weekly actives come from
    MERGING seven sketches, never re-touching the event stream — the
    pattern that turns any distinct-count rollup into an incremental
    O(days) job. Correctness gate per the approx_cardinality
    precedent: the sketch estimate can never hash-match, so the row
    emits the EXACT weekly distinct (oracle-verified) plus sketch_ok
    = |estimate - exact| <= 5% exact; DataSketches HLL is
    deterministic for fixed input, so the boolean is a stable
    regression gate (measured max rel err well under 1% here)."""
    # NULL ts rows are EXCLUDED explicitly (both sides): a NULL week
    # would survive the oracle's plain GROUP BY but never match
    # Spark's equi-join — the r4 NULL-divergence class
    ev = _cat(spark, sf_dir).table("events").df.filter(
        F.col("ts").isNotNull()
    )
    day = F.floor(F.col("ts").cast("double") / F.lit(86400)).cast("bigint")
    week = (F.col("day") - F.col("day") % 7) / 7
    daily_sk = (
        ev.select(day.alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    est = (
        daily_sk.withColumn("week", week.cast("bigint"))
        .groupBy("week")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        ev.select(day.alias("day"), "user_id")
        .withColumn("week", week.cast("bigint"))
        .select("week", "user_id").distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("exact_weekly"))
    )
    return exact.join(est, "week").select(
        "week", "exact_weekly",
        (F.abs(F.col("est") - F.col("exact_weekly")) * 100
         <= F.col("exact_weekly") * 5).alias("sketch_ok"),
    )


_CURATION_VERDICT_TEMPLATE = """
    WITH hyg AS (SELECT doc_id, is_clean
                 FROM ({hygiene}) hygsub),
    gq AS (SELECT doc_id, passes FROM ({quality}) gqsub),
    gr AS (SELECT doc_id, is_repetitive FROM ({repetition}) grsub),
    cl AS (SELECT doc_id, margin > -5000 AS quality_ok
           FROM ({classifier}) clsub),
    bl AS (SELECT doc_id,
                  len(regexp_extract_all(lower(coalesce(text, '')),
                      '\\b(?:dup)\\b')) > 0 AS blocked
           FROM documents)
    SELECT hyg.doc_id, is_clean, passes, is_repetitive, quality_ok,
           blocked,
           CAST(CASE WHEN NOT is_clean THEN 1 ELSE 0 END
              + CASE WHEN NOT passes THEN 2 ELSE 0 END
              + CASE WHEN is_repetitive THEN 4 ELSE 0 END
              + CASE WHEN NOT quality_ok THEN 8 ELSE 0 END
              + CASE WHEN blocked THEN 16 ELSE 0 END AS BIGINT)
             AS fail_mask,
           fail_mask = 0 AS keep
    FROM hyg
    JOIN gq USING (doc_id)
    JOIN gr USING (doc_id)
    JOIN cl USING (doc_id)
    JOIN bl USING (doc_id)
"""

TEXT_CURATION_VERDICT_ORACLE = _CURATION_VERDICT_TEMPLATE.format(
    hygiene=TEXT_UNICODE_HYGIENE_ORACLE,
    quality=TEXT_GOPHER_QUALITY_ORACLE,
    repetition=TEXT_GOPHER_REPETITION_ORACLE,
    classifier=TEXT_QUALITY_CLASSIFIER_ORACLE,
)


@query("text_curation_verdict", oracle=TEXT_CURATION_VERDICT_ORACLE)
def text_curation_verdict(spark, sf_dir):
    """L40 composed curation gate (RefinedWeb / FineWeb / MassiveText
    composition): unicode hygiene + Gopher quality + Gopher
    repetition + classifier + blocklist as ONE single-scan map-only
    operator (functions.text.curation_verdict — zero shuffles, zero
    joins; the plan audit pins it). Hygiene screens the dirtied twin
    shared with text_unicode_hygiene (via hygiene_col); the
    corpus-adapted knobs (blocklist = the rare 'dup' token,
    classifier margin threshold at the corpus median) keep every
    fail bit AND the keep verdict engaged. The oracle is the literal
    SQL composition of the five stage oracles — agreement proves the
    composition, not just the stages."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    d = d.withColumn("__hyg", _hygiene_dirty_expr())
    return TX.curation_verdict(
        d,
        hygiene_col="__hyg",
        blocklist_terms=("dup",),
        max_hits=0,
        margin_threshold=-5000,
    )


CORPUS_BUILD_PIPELINE_ORACLE = f"""
    WITH v AS ({TEXT_CURATION_VERDICT_ORACLE}),
    k AS (SELECT doc_id FROM v WHERE keep),
    t AS (SELECT d.lang,
                 CAST(len(string_split_regex(coalesce(d.text, ''),
                                             '\\s+')) AS BIGINT) AS n_tok
          FROM documents d JOIN k USING (doc_id)),
    a AS (SELECT lang, COUNT(*) AS n_docs_kept, SUM(n_tok) AS total_tokens
          FROM t GROUP BY lang)
    SELECT lang, n_docs_kept,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST((total_tokens + 511) // 512 AS BIGINT) AS n_sequences,
           CAST((((total_tokens + 511) // 512) * 512 - total_tokens) * 1000
                // (((total_tokens + 511) // 512) * 512) AS BIGINT)
             AS waste_permille
    FROM a
"""


@query("corpus_build_pipeline", oracle=CORPUS_BUILD_PIPELINE_ORACLE)
def corpus_build_pipeline(spark, sf_dir):
    """L50 END-TO-END corpus build (the capstone composition): the
    five-stage curation gate decides keep per document, the kept set
    is token-counted, and each language's training budget is the
    GPT-style pack-and-split arithmetic (ctx 512: n_sequences =
    ceil(total_tokens / 512), waste_permille = padding share of the
    final partial sequence) — ingestion-to-training-batch in ONE
    driver row. Spark side composes the literal stage operators
    (curation_verdict -> semi-join -> lang rollup); the oracle embeds
    the verdict row's full five-stage SQL as a CTE and re-derives the
    budget, so a drift in ANY stage, the keep semantics, the join, or
    the packing arithmetic hash-mismatches. Gate docs move through
    exactly one semi-join + one lang aggregate after the map-only
    verdict scan."""
    vd = text_curation_verdict(spark, sf_dir)
    docs = _cat(spark, sf_dir).table("documents").df.select(
        "doc_id", "lang", "text"
    )
    # localCheckpoint the WHOLE (thin) verdict frame before filtering:
    # projecting just `keep` lets Catalyst collapse the five stage
    # projections into one fused expression where the stages' shared
    # sub-arrays (token lists, gram HOFs) are re-expanded per
    # reference — measured 130-153 s at sf0.1 vs 7.5 s for the
    # verdict row's own full-column materialization. The checkpoint
    # pins the good stage-by-stage plan and the join side becomes a
    # scalar-thin materialized set.
    keep_ids = (
        _util.own(vd.localCheckpoint(eager=True))
        .filter(F.col("keep")).select("doc_id")
    )
    kept = docs.join(keep_ids, "doc_id", "left_semi")
    tok = F.size(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+")).cast(
        "long"
    )
    agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(tok).alias("total_tokens"),
    )
    n_seq = F.expr("(total_tokens + 511) div 512")
    return agg.select(
        "lang", "n_docs_kept", "total_tokens",
        n_seq.alias("n_sequences"),
        F.expr(
            "(((total_tokens + 511) div 512) * 512 - total_tokens) * 1000"
            " div (((total_tokens + 511) div 512) * 512)"
        ).alias("waste_permille"),
    )


DATA_SELECTION_DSIR_ORACLE = r"""
    WITH t AS (SELECT doc_id, doc_id % 7 = 0 AS tgt,
                      string_split_regex(coalesce(text, ''), '\s+') AS toks
               FROM documents),
    feats AS (
      SELECT doc_id, tgt, tok AS f FROM t, unnest(toks) u(tok)
      UNION ALL
      SELECT doc_id, tgt, toks[g.i] || ' ' || toks[g.i + 1] AS f
      FROM t, unnest(generate_series(1, len(toks) - 1)) g(i)
      WHERE len(toks) >= 2
      UNION ALL
      -- sliding_grams' short-array convention: arrays shorter than n
      -- yield ONE gram, the whole array joined (a 1-token doc emits
      -- its token twice: once as unigram, once as the degenerate gram)
      SELECT doc_id, tgt, array_to_string(toks, ' ') AS f
      FROM t WHERE len(toks) < 2),
    h AS (SELECT doc_id, tgt, md5(f) AS m FROM feats),
    b AS (SELECT doc_id, tgt,
            ((CASE WHEN substring(m, 1, 1) <= '9'
                   THEN ascii(substring(m, 1, 1)) - 48
                   ELSE ascii(substring(m, 1, 1)) - 87 END) * 256
           + (CASE WHEN substring(m, 2, 1) <= '9'
                   THEN ascii(substring(m, 2, 1)) - 48
                   ELSE ascii(substring(m, 2, 1)) - 87 END) * 16
           + (CASE WHEN substring(m, 3, 1) <= '9'
                   THEN ascii(substring(m, 3, 1)) - 48
                   ELSE ascii(substring(m, 3, 1)) - 87 END)) % 1024 AS bkt
          FROM h),
    prof AS (SELECT bkt,
                    COUNT(*) FILTER (WHERE tgt) AS t_b,
                    COUNT(*) FILTER (WHERE NOT tgt) AS r_b
             FROM b GROUP BY bkt),
    tot AS (SELECT CAST(SUM(t_b) AS BIGINT) AS tt,
                   CAST(SUM(r_b) AS BIGINT) AS rr
            FROM prof),
    w AS (SELECT bkt,
                 CAST(floor(1000000 * ln(
                     (CAST(t_b + 1 AS DOUBLE) * CAST(rr + 1024 AS DOUBLE))
                   / (CAST(r_b + 1 AS DOUBLE) * CAST(tt + 1024 AS DOUBLE))))
                   AS BIGINT) AS w
          FROM prof, tot),
    sc AS (SELECT b.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_feats,
                  CAST(SUM(w.w) AS BIGINT) AS score
           FROM b JOIN w USING (bkt) WHERE NOT b.tgt
           GROUP BY b.doc_id),
    r AS (SELECT doc_id, n_feats, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) - 1
                   AS rnk
          FROM sc)
    SELECT doc_id, n_feats, score, CAST(rnk AS BIGINT) AS rnk,
           rnk < 100 AS selected
    FROM r
"""


@query("data_selection_dsir", oracle=DATA_SELECTION_DSIR_ORACLE)
def data_selection_dsir(spark, sf_dir):
    """L50 DSIR importance resampling (Xie et al. 2023) — the
    domain-targeted data-selection stage: docs with doc_id % 7 == 0
    act as the (small) TARGET sample, every other doc is the RAW pool;
    hashed unigram+bigram bucket counts give per-bucket smoothed
    log-probability ratios (floor-scaled to integers ONCE per bucket —
    1024 ln() calls total, each on a ratio of exactly-representable
    products, the bm25_float cross-engine contract), and each raw
    doc's importance score is the exact integer sum of its grams'
    bucket weights; top-100 by (score desc, doc_id) are selected.
    The oracle replays hashing, profiles, weights, scores, and the
    ranked cut verbatim (functions/text.py dsir_importance; ranking
    via the range-partitioned global dense rank, never a
    single-partition window). spread_input: the gram explode is the
    map-heavy stage and sf parquet is one split."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    return TX.dsir_importance(
        d, (F.col("doc_id") % 7 == 0), n_buckets=1024, k=100
    )


ANN_IVF_PQ_SEARCH_ORACLE = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                      list_max(list_transform(embedding,
                               x -> abs(CAST(x AS DOUBLE)))) AS maxabs
               FROM embeddings
               WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id, g.i,
                 (g.i - 1) // 8 AS m, (g.i - 1) % 8 AS j,
                 CASE WHEN maxabs = 0 THEN 0
                      ELSE CAST(floor(emb[g.i] * 127.0 / maxabs) AS BIGINT)
                 END AS qv
          FROM v, unnest(generate_series(1, 64)) AS g(i)),
    lists AS (SELECT vec_id,
                (CASE WHEN emb[1] >= 0 THEN 8 ELSE 0 END
               + CASE WHEN emb[2] >= 0 THEN 4 ELSE 0 END
               + CASE WHEN emb[3] >= 0 THEN 2 ELSE 0 END
               + CASE WHEN emb[4] >= 0 THEN 1 ELSE 0 END) AS list_id
              FROM v),
    codes AS (SELECT vec_id, m,
                     SUM(CASE WHEN qv > 0 THEN 1 << j ELSE 0 END) AS code
              FROM q GROUP BY vec_id, m),
    cent AS (SELECT q.m, c.code, q.j, SUM(q.qv) // COUNT(*) AS c
             FROM q JOIN codes c ON c.vec_id = q.vec_id AND c.m = q.m
             GROUP BY q.m, c.code, q.j),
    qry AS (SELECT vec_id AS query_id FROM v WHERE vec_id < 5),
    qdims AS (SELECT r.query_id, q.m, q.j, q.qv
              FROM qry r JOIN q ON q.vec_id = r.query_id),
    lut AS (SELECT d.query_id, ct.m, ct.code,
                   SUM((d.qv - ct.c) * (d.qv - ct.c)) AS l2
            FROM qdims d JOIN cent ct ON ct.m = d.m AND ct.j = d.j
            GROUP BY d.query_id, ct.m, ct.code),
    probes AS (SELECT l.vec_id AS query_id, xor(l.list_id, f.fl) AS list_id
               FROM lists l, unnest([0, 1, 2, 4, 8]) AS f(fl)
               WHERE l.vec_id < 5),
    cand AS (SELECT p.query_id, l.vec_id
             FROM probes p JOIN lists l ON l.list_id = p.list_id
             WHERE l.vec_id <> p.query_id),
    adc AS (SELECT c.query_id, c.vec_id, CAST(SUM(t.l2) AS BIGINT) AS adc
            FROM cand c
            JOIN codes k ON k.vec_id = c.vec_id
            JOIN lut t ON t.query_id = c.query_id AND t.m = k.m
                      AND t.code = k.code
            GROUP BY c.query_id, c.vec_id),
    short AS (SELECT query_id, vec_id, adc,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY adc ASC, vec_id ASC)
                       AS srnk
              FROM adc),
    ref AS (SELECT s.query_id, s.vec_id, s.adc,
                   CAST(SUM((q2.qv - qd.qv) * (q2.qv - qd.qv)) AS BIGINT)
                     AS l2
            FROM short s
            JOIN q q2 ON q2.vec_id = s.vec_id
            JOIN q qd ON qd.vec_id = s.query_id AND qd.i = q2.i
            WHERE s.srnk <= 40
            GROUP BY s.query_id, s.vec_id, s.adc),
    hits AS (SELECT query_id, vec_id, adc, l2,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY l2 ASC, vec_id ASC) AS rnk
             FROM ref),
    ex AS (SELECT r.query_id, q2.vec_id,
                  SUM((q2.qv - qd.qv) * (q2.qv - qd.qv)) AS l2
           FROM qry r
           JOIN q qd ON qd.vec_id = r.query_id
           JOIN q q2 ON q2.i = qd.i AND q2.vec_id <> r.query_id
           GROUP BY r.query_id, q2.vec_id),
    etop AS (SELECT query_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY l2 ASC, vec_id ASC) AS ernk
             FROM ex)
    SELECT h.query_id, h.vec_id, h.adc, h.l2,
           CAST(h.rnk AS BIGINT) AS rnk,
           COALESCE(e.ernk <= 5, FALSE) AS in_exact_topk
    FROM hits h
    LEFT JOIN (SELECT * FROM etop WHERE ernk <= 5) e
      ON e.query_id = h.query_id AND e.vec_id = h.vec_id
    WHERE h.rnk <= 5
"""


@query("ann_ivf_pq_search", oracle=ANN_IVF_PQ_SEARCH_ORACLE)
def ann_ivf_pq_search(spark, sf_dir):
    """L51 IVF+PQ two-stage ANN search (similarity.ivf_pq_topk — the
    FAISS IVFPQ shape): 5 fixed query vectors (vec_id < 5 — capped,
    never derived from corpus size, the contamination-scan scaling
    lesson) probe their axis-sign coarse list plus its four Hamming-1
    neighbors; candidates are scored by asymmetric distance against
    8x8 sign-code PQ centroids via a per-query broadcast lookup table;
    the ADC top-40 shortlist is reranked by exact int8 L2 (the FAISS
    refine step), and the final top-5 per query carries an
    in_exact_topk audit bit vs the exact int8 L2 top-5 over the whole
    corpus. Every stage is exact integer after int8 quantization, so
    the oracle replays rank-for-rank — approximation here is a
    DETERMINISTIC property of the index, not noise.

    Measured recall curve (scripts/ann_recall_sweep.py, r11 — the
    VERDICT r10 directive-#4 instrument; full table in BASELINE.md):
    on the RANDOM sf0.1 embeddings, recall tracks the two limiters —
    scanned fraction (Hamming 0/1/2/all probes: 0.04/0.32/0.36/0.48)
    and the ADC shortlist (all lists probed, refine_mult 8/40/200:
    0.48/0.84/1.00 — exact rerank recovers everything once the
    shortlist covers the probe set). On a CLUSTERED synthetic corpus
    (trained-embedding geometry: per-cluster sign orthants), the SAME
    index reads recall 1.00 at every probe width, down to 1/16
    scanned. The registered row's 0.32 at sf0.1 is therefore a
    property of untrained random vectors, not of the index; wall cost
    dropped 19.9 s -> ~8 s cold / 3.4 s warm at sf0.1 by
    tracked-caching the listed/codebook/LUT frames (the r11 fix)."""
    e = _cat(spark, sf_dir).table("embeddings").df
    corpus = e.select("vec_id", "embedding")
    qs = corpus.filter(F.col("vec_id") < 5)
    return similarity.ivf_pq_topk(corpus, qs, k=5)


@query("streaming_curation_requery", oracle=TEXT_CURATION_VERDICT_ORACLE)
def streaming_curation_requery(spark, sf_dir):
    """S7/L40 the composed curation gate as a STRUCTURED STREAMING
    stage (the incremental corpus-build shape: score documents as
    they arrive, not in a nightly batch): the documents corpus is
    spread over ~3x-parallelism round-robin parquet files, read back
    through a REAL availableNow file-source stream FORCED onto the
    multi-batch path (maxFilesPerTrigger sized for three size-balanced
    micro-batches), each micro-batch scored by the SAME
    functions.text.curation_verdict the batch row uses — the gate is
    map-only/stateless, which is exactly the property that makes it
    streamable with a plain append sink and batch-identical output —
    and appended to parquet. The requery reads the sink back (explicit
    schema — empty-stream reads must not infer) and the oracle is the
    batch composition oracle VERBATIM: agreement proves the streaming
    path changes nothing per-document. Scale shape: each micro-batch
    pays the single-scan zero-shuffle gate cost; no state store, no
    watermark needed (stateless projection)."""
    import shutil
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    d = cat.table("documents").df.select("doc_id", "text")
    base = Path(str(cat.scratch)) / "stream_curation"
    shutil.rmtree(base, ignore_errors=True)
    src_dir = base / "src"
    # r14 reshape (guide sections 1.2 / 2.5): the r13 layout wrote
    # three fixed id-range slices via three filtered full scans and
    # streamed them at maxFilesPerTrigger=1 — at sf0.1 the third range
    # held 93% of the corpus, so one micro-batch ran 9x longer than
    # the others ON ONE CORE (one file = one scan split). Now ONE
    # round-robin write lays down ~3x-parallelism small files and
    # maxFilesPerTrigger = ceil(n_files/3) keeps the SAME forced
    # multi-batch path (3 genuine micro-batches, batch-identical
    # map-only gate) while each micro-batch scans its file set in
    # parallel and batches are size-balanced at every SF instead of
    # only at the gate SF.
    par = spark.sparkContext.defaultParallelism
    d.repartition(3 * par).write.parquet(str(src_dir))
    n_files = sum(1 for p in src_dir.glob("*.parquet"))
    # explicit multi-batch invariant (ADVICE r14): ceil(n/3) files per
    # trigger yields exactly 3 micro-batches for any n >= 3 EXCEPT
    # n == 4, where no constant trigger size gives 3 (ceil(4/2) = 2,
    # ceil(4/1) = 4) — take 4 single-file batches there. Fewer than 3
    # files (an empty/near-empty corpus writes no part files for
    # empty partitions) cannot force the multi-batch replay at all:
    # stream the files one per trigger, the closest the degenerate
    # corpus gets to the invariant — the gate is map-only and
    # batch-count-invariant, so the OUTPUT is identical either way.
    per_trigger = 1 if n_files <= 4 else max(1, -(-n_files // 3))
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(str(src_dir))
    )
    scored = TX.curation_verdict(
        stream.withColumn("__hyg", _hygiene_dirty_expr()),
        hygiene_col="__hyg",
        blocklist_terms=("dup",),
        max_hits=0,
        margin_threshold=-5000,
    )
    q = (
        scored.writeStream.format("parquet")
        .option("path", str(base / "out"))
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    assert finished, "curation stream did not finish within 300s"
    out = spark.read.schema(scored.schema).parquet(str(base / "out"))
    return out.select(
        "doc_id", "is_clean", "passes", "is_repetitive", "quality_ok",
        "blocked", "fail_mask", "keep",
    )


def _sql_moji_count(var: str) -> str:
    """occurrence sum of every mojibake artifact in SQL column
    ``var`` (the hygiene oracle's __MOJI__ idiom, parameterized)."""
    return " + ".join(
        "(length({v}) - length(replace({v}, '{p}', ''))) // {n}".format(
            v=var, p=p.replace("'", "''"), n=len(p)
        )
        for p in TX.MOJIBAKE_ARTIFACTS
    )


def _sql_repair_chain(var: str) -> str:
    """the repair replace chain in MOJIBAKE_REPAIRS order."""
    out = var
    for artifact, fixed in TX.MOJIBAKE_REPAIRS:
        out = "replace({o}, '{a}', '{f}')".format(
            o=out, a=artifact.replace("'", "''"),
            f=fixed.replace("'", "''"),
        )
    return out


TEXT_UNICODE_REPAIR_ORACLE = r"""
    WITH dirty AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 5 = 0 THEN 'caf' || chr(195) || chr(169)
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN chr(3) ELSE '' END AS t
      FROM documents),
    rep AS (SELECT doc_id, t, __REPAIR__ AS r0 FROM dirty),
    r2 AS (SELECT doc_id, t, r0, replace(r0, chr(65533), '') AS r1
           FROM rep),
    r3 AS (SELECT doc_id, t, r0, r1,
                  regexp_replace(r1, '[\x00-\x08\x0b\x0c\x0e-\x1f]',
                                 '', 'g') AS rr
           FROM r2)
    SELECT doc_id,
           CAST(__MOJI_T__ AS BIGINT) AS n_mojibake_fixed,
           CAST(length(r0) - length(r1) AS BIGINT)
             AS n_replacement_stripped,
           CAST(length(r1) - length(rr) AS BIGINT) AS n_control_stripped,
           md5(rr) AS repaired_md5,
           ((length(rr) - length(replace(rr, chr(65533), ''))) = 0
            AND (__MOJI_RR__) = 0
            AND (length(rr) - length(regexp_replace(rr,
                   '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))) * 100
                < greatest(length(rr), 1)) AS clean_after
    FROM r3
""".replace("__REPAIR__", _sql_repair_chain("t")).replace(
    "__MOJI_T__", _sql_moji_count("t")
).replace("__MOJI_RR__", _sql_moji_count("rr"))


@query("text_unicode_repair", oracle=TEXT_UNICODE_REPAIR_ORACLE)
def text_unicode_repair(spark, sf_dir):
    """L36b encoding repair at driver grade — the FIX half of the
    hygiene pair (CCNet/ftfy: repair mechanically recoverable
    mojibake instead of discarding the document): the corpus dirtied
    by the SAME closed-form pathology twin text_unicode_hygiene uses
    (every 5th doc a mojibake e-acute, every 7th a U+FFFD, every 11th
    an ETX) flows through functions.text.unicode_repair — the
    cp1252-round-trip artifact map derived at import from the
    detector's own MOJIBAKE_ARTIFACTS list, so detect and repair can
    never drift — and the output pins per-doc fix counts, the md5 of
    the repaired text (byte-exact repair evidence), and clean_after =
    the detector re-run on the repaired text (repair must actually
    satisfy the detector). Map-only codegen, zero shuffle; the oracle
    replays dirtying, the replace chain in the same order, the
    strips, and the re-detection verbatim."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    dirty = d.withColumn("text", _hygiene_dirty_expr())
    rep = TX.unicode_repair(dirty).withColumn("__md5", F.md5(F.col("text")))
    h = TX.unicode_hygiene_stats(
        rep,
        keep=(
            "n_mojibake_fixed",
            "n_replacement_stripped",
            "n_control_stripped",
            "__md5",
        ),
    )
    return h.select(
        "doc_id",
        "n_mojibake_fixed",
        "n_replacement_stripped",
        "n_control_stripped",
        F.col("__md5").alias("repaired_md5"),
        F.col("is_clean").alias("clean_after"),
    )


DEDUP_JACCARD_NGRAM_ORACLE = r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(coalesce(text, ''), '\s+') AS toks
               FROM documents),
    s AS (SELECT doc_id,
            CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    sizes AS (SELECT doc_id, len(sh) AS n_fp FROM s),
    ex0 AS (SELECT doc_id, md5(u.g) AS fp FROM s, unnest(sh) AS u(g)),
    dfc AS (SELECT fp, COUNT(*) AS c FROM ex0 GROUP BY fp),
    ex AS (SELECT ex0.doc_id, ex0.fp
           FROM ex0 JOIN dfc USING (fp) WHERE dfc.c <= 64),
    shr AS (SELECT l.doc_id AS a, r.doc_id AS b,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM ex l JOIN ex r
              ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT shr.a, shr.b, shr.shared,
           CAST(na.n_fp AS BIGINT) AS n_a,
           CAST(nb.n_fp AS BIGINT) AS n_b,
           CAST((1000000 * shr.shared)
                // (na.n_fp + nb.n_fp - shr.shared) AS BIGINT) AS jaccard_u
    FROM shr JOIN sizes na ON na.doc_id = shr.a
             JOIN sizes nb ON nb.doc_id = shr.b
    WHERE (1000000 * shr.shared) // (na.n_fp + nb.n_fp - shr.shared)
          >= 300000
"""


@query("dedup_jaccard_ngram", oracle=DEDUP_JACCARD_NGRAM_ORACLE)
def dedup_jaccard_ngram(spark, sf_dir):
    """L2e EXACT n-gram Jaccard near-dup pairs (staged r10 for the r11
    window): the set statistic the MinHash sketch row estimates,
    computed exactly over distinct word-3-gram sets
    (operators/dedup.py jaccard_ngram_pairs) — J emitted as the
    all-integer micro-unit floor (1e6*shared) div union, so every
    value replays bit-for-bit. max_df=64 is the hot-shingle guard (the
    guarded-containment precedent): ubiquitous grams leave the join
    BEFORE the candidate self-join, set sizes still come from the full
    distinct sets. threshold 0.30 in micro-units; min_shared=2 keeps
    single-gram coincidences out. Completes the dedup ladder's
    estimate-vs-exact audit pairing with dedup_minhash_md5."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    return dedup.jaccard_ngram_pairs(
        d, shingle_n=3, min_shared=2, threshold_u=300_000, max_df=64
    )


DEDUP_JACCARD_CLUSTERS_ORACLE = r"""
    WITH RECURSIVE t AS (SELECT doc_id,
                      string_split_regex(coalesce(text, ''), '\s+') AS toks
               FROM documents),
    s AS (SELECT doc_id,
            CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    sizes AS (SELECT doc_id, len(sh) AS n_fp FROM s),
    ex0 AS (SELECT doc_id, md5(u.g) AS fp FROM s, unnest(sh) AS u(g)),
    dfc AS (SELECT fp, COUNT(*) AS c FROM ex0 GROUP BY fp),
    ex AS (SELECT ex0.doc_id, ex0.fp
           FROM ex0 JOIN dfc USING (fp) WHERE dfc.c <= 64),
    shr AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS shared
            FROM ex l JOIN ex r
              ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    prs AS (SELECT shr.a, shr.b
            FROM shr JOIN sizes na ON na.doc_id = shr.a
                     JOIN sizes nb ON nb.doc_id = shr.b
            WHERE (1000000 * shr.shared)
                  // (na.n_fp + nb.n_fp - shr.shared) >= 300000),
    und AS (SELECT a AS x, b AS y FROM prs UNION ALL SELECT b, a FROM prs),
    reach(x, y) AS (
      SELECT x, x FROM (SELECT DISTINCT x FROM und)
      UNION
      SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
    lab AS (SELECT x AS id, MIN(y) AS cluster_id FROM reach GROUP BY x)
    SELECT d.doc_id,
           CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY COALESCE(l.cluster_id, d.doc_id)
             ORDER BY length(coalesce(d.text, '')) DESC, d.doc_id ASC
           ) = 1 AS is_kept
    FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
"""


@query("dedup_jaccard_clusters", oracle=DEDUP_JACCARD_CLUSTERS_ORACLE)
def dedup_jaccard_clusters(spark, sf_dir):
    """L2g exact-Jaccard duplicate CLUSTERS + keepers (staged r10):
    the composition a user actually runs over the exact pair row —
    jaccard_ngram_pairs (3-gram md5 digests, max_df=64 guard,
    J >= 0.30) -> connected_components (min-label pointer jumping,
    O(log diameter) rounds) -> one keeper per cluster (longest text,
    ties to the lowest doc_id; singletons keep themselves). Same
    output contract as dedup_pipeline_keepers, but every edge comes
    from the EXACT set statistic instead of the MinHash sketch, so
    the whole composition — shingles, digests, guard, pair join,
    transitive closure, keeper window — is one DuckDB replay with no
    rows-only step anywhere."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    pairs = dedup.jaccard_ngram_pairs(
        d, shingle_n=3, min_shared=2, threshold_u=300_000, max_df=64
    )
    cc = dedup.connected_components(pairs.select("a", "b"))
    docs = d.select(
        "doc_id",
        F.length(F.coalesce("text", F.lit(""))).cast("bigint").alias(
            "__n_chars"
        ),
    )
    lab = cc.select(F.col("id").alias("doc_id"), "cluster_id")
    j = docs.join(lab, "doc_id", "left").select(
        "doc_id",
        "__n_chars",
        F.coalesce("cluster_id", "doc_id").cast("bigint").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__n_chars").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


DEDUP_JACCARD_MINHASH_AGREEMENT_ORACLE = r"""
    WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
               FROM documents),
    s AS (SELECT doc_id,
            CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    sig AS (SELECT doc_id,
              list_transform(generate_series(0, 11), seed ->
                list_min(list_transform(sh,
                  g -> md5(g || ':' || CAST(seed AS VARCHAR))))) AS m
            FROM s),
    bands AS (SELECT doc_id, u.b AS b,
                     list_slice(m, u.b * 3 + 1, u.b * 3 + 3) AS bsig
              FROM sig, unnest(generate_series(0, 3)) AS u(b)),
    -- hot-bucket guard, mirroring max_bucket=50 on the Spark side:
    -- buckets larger than 50 members are dropped whole before the
    -- self-join (quadratic pair-output bound)
    keep AS (SELECT b, bsig FROM bands
             GROUP BY b, bsig HAVING COUNT(*) <= 50),
    bandsk AS (SELECT bands.* FROM bands
               JOIN keep ON keep.b = bands.b AND keep.bsig = bands.bsig),
    cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             FROM bandsk l JOIN bandsk r
               ON l.b = r.b AND l.bsig = r.bsig AND l.doc_id < r.doc_id),
    est AS (SELECT a, b,
              len(list_filter(generate_series(1, 12),
                              i -> sa.m[i] = sb.m[i])) AS match_cnt
            FROM cand JOIN sig sa ON sa.doc_id = cand.a
                      JOIN sig sb ON sb.doc_id = cand.b),
    hits AS (SELECT a, b, CAST(match_cnt AS BIGINT) AS match_cnt
             FROM est WHERE match_cnt >= 6),
    aud AS (SELECT DISTINCT doc_id FROM (
              SELECT a AS doc_id FROM hits
              UNION ALL SELECT b FROM hits) u),
    sz AS (SELECT s.doc_id, len(sh) AS n_fp
           FROM s JOIN aud USING (doc_id)),
    ex AS (SELECT s.doc_id, md5(g.g) AS fp
           FROM s JOIN aud USING (doc_id), unnest(sh) AS g(g)),
    shr AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS shared
            FROM ex l JOIN ex r ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY 1, 2),
    exact AS (SELECT shr.a, shr.b,
                     (1000000 * shr.shared)
                       // (na.n_fp + nb.n_fp - shr.shared) AS jaccard_u
              FROM shr JOIN sz na ON na.doc_id = shr.a
                       JOIN sz nb ON nb.doc_id = shr.b)
    SELECT hits.a, hits.b, hits.match_cnt,
           CAST(coalesce(exact.jaccard_u, 0) AS BIGINT) AS jaccard_u
    FROM hits LEFT JOIN exact
      ON hits.a = exact.a AND hits.b = exact.b
"""


@query(
    "dedup_jaccard_minhash_agreement",
    oracle=DEDUP_JACCARD_MINHASH_AGREEMENT_ORACLE,
)
def dedup_jaccard_minhash_agreement(spark, sf_dir):
    """L2f MinHash-vs-exact-Jaccard AGREEMENT audit (staged r10; the
    BM25 rank-agreement idiom applied to the dedup ladder): for every
    pair the 12-hash/4-band md5 MinHash twin reports (>= 6/12 slots,
    est J >= 0.5), emit the sketch's matching-slot count NEXT TO the
    exact n-gram Jaccard in integer micro-units — the sketch's error
    becomes a measured column instead of a trusted property.

    Scale shape (REDESIGNED r12, VERDICT r11 "What's wrong" #1 — the
    repo's one scale-killer, fixed on BOTH sides):
    - sketch side: ``max_bucket=50`` drops whole band buckets above
      50 members before the self-join (the jaccard_ngram_pairs
      max_df idiom one layer down — a boilerplate clique thousands
      deep is exactly a bucket every band agrees on), bounding the
      candidate-pair output at C(50,2) per bucket; the oracle
      mirrors the drop in its keep/bandsk CTEs. At the gate SFs the
      largest bucket is 4, so the guard is invisible there.
    - exact side: exact J is computed PER EMITTED PAIR by
      intersecting the two docs' distinct-shingle digest sets
      (array_intersect over ngram_digest_sets arrays) — never a
      digest self-join. The r11 shape semi-joined the corpus to the
      audited ids and re-ran jaccard_ngram_pairs, whose digest join
      is quadratic in shared-shingle df WITHIN the audited set
      (audited docs are near-dups, so their shingles all collide —
      the 100x probe OOMed in exactly that stage). The intersection
      regime's cost is |pairs| x |doc shingle set| BY CONSTRUCTION —
      the "bounded by sketch output" contract made literal.
    All-integer output: match_cnt (0-12) + jaccard_u (micro-units;
    0 when the banded pair shares no 3-gram at all). Values are
    IDENTICAL to the digest-join regime (same distinct-md5 universe,
    same floor arithmetic), so the oracle's exact CTEs are unchanged."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    est = dedup.minhash_lsh_pairs(
        d, n_hashes=12, bands=4, threshold=0.5, hash="md5", max_bucket=50
    ).select(
        "a", "b",
        F.round(F.col("est_jaccard") * 12).cast("bigint").alias("match_cnt"),
    )
    # est feeds THREE plan branches (the audited-id explode plus the
    # fa/fb joins) and fps TWO (fa, fb) — uncached, Spark replays the
    # band self-join three times and the corpus shingle scan twice per
    # action (review finding r12). Both subtrees are bounded (est =
    # sketch pair count; fps = audited-restricted digest sets), so an
    # eager localCheckpoint collapses each to one computation with
    # NOTHING left pinned after the run (no tracked caches to leak
    # into a 50-query correctness window — the ivf_pq_topk lesson).
    # The band-join machinery this hides from THIS row's audited plan
    # stays plan-audited via its twins (dedup_minhash_md5/_lsh).
    est = _util.own(est.localCheckpoint(eager=True))
    audited = est.select(
        F.explode(F.array("a", "b")).alias("id")
    ).distinct()
    # audited-restricted digest sets: plain equi-join (NOT broadcast —
    # at a 10% near-dup rate the audited set is corpus-fraction-sized)
    fps = _util.own(dedup.ngram_digest_sets(d, shingle_n=3).join(
        audited, "id"
    ).localCheckpoint(eager=True))
    fa = fps.select(F.col("id").alias("a"), F.col("__fps").alias("__fa"))
    fb = fps.select(F.col("id").alias("b"), F.col("__fps").alias("__fb"))
    return (
        est.join(fa, "a")
        .join(fb, "b")
        .withColumn(
            "__shared",
            F.size(F.array_intersect("__fa", "__fb")).cast("bigint"),
        )
        .select(
            "a", "b", "match_cnt",
            F.expr(
                "(CAST(1000000 AS BIGINT) * __shared)"
                " div (size(__fa) + size(__fb) - __shared)"
            ).cast("bigint").alias("jaccard_u"),
        )
    )


EVENTS_HEAVY_HITTERS_CMS_ORACLE = """
    WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    d AS (SELECT * FROM generate_series(0, 3) AS t(d)),
    cells AS (SELECT d.d,
                ('0x' || substr(md5(CAST(ev.user_id AS VARCHAR)
                                   || ':' || CAST(d.d AS VARCHAR)),
                                1, 8))::BIGINT % 256 AS bucket,
                COUNT(*) AS cnt
              FROM ev CROSS JOIN d GROUP BY 1, 2),
    k AS (SELECT user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1),
    kb AS (SELECT k.user_id, k.exact_cnt, d.d,
                  ('0x' || substr(md5(CAST(k.user_id AS VARCHAR)
                                     || ':' || CAST(d.d AS VARCHAR)),
                                  1, 8))::BIGINT % 256 AS bucket
           FROM k CROSS JOIN d),
    est AS (SELECT kb.user_id, kb.exact_cnt,
                   MIN(COALESCE(c.cnt, 0)) AS est_cnt
            FROM kb LEFT JOIN cells c
              ON c.d = kb.d AND c.bucket = kb.bucket
            GROUP BY 1, 2)
    SELECT user_id,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt - exact_cnt AS BIGINT) AS err_cnt,
           est_cnt >= exact_cnt AS never_under
    FROM est
    ORDER BY exact_cnt DESC, user_id
    LIMIT 10
"""


@query("events_heavy_hitters_cms", oracle=EVENTS_HEAVY_HITTERS_CMS_ORACLE)
def events_heavy_hitters_cms(spark, sf_dir):
    """L52 count–min-sketch heavy hitters (staged r10-cont for a
    later window; Cormode–Muthukrishnan 2005): the FREQUENCY twin of
    the HLL rollup row. The sketch is built as per-DAY partial
    (d, bucket, cnt) cell frames merged by cell-wise SUM — the
    executable incremental shape: at 100 TB each day contributes at
    most depth×width (4×256 = 1024) cells, weekly/monthly heavy
    hitters merge KB-sized frames without re-touching the event
    stream, and estimates broadcast the merged frame against the
    candidate keys.
    Hashes are md5-derived (first 8 hex chars base-16 — the
    write_sharded idiom), so the ENTIRE machinery — row hashing,
    cell counts, min-over-rows estimate, the top-10 — replays
    bit-for-bit in DuckDB. Audit anchoring follows the repo's
    sketch-audit idiom (minhash agreement, HLL rollup): the top-10 is
    ranked by the EXACT count (ground truth), with the CM estimate,
    the signed error and the ``never_under`` guarantee bit
    (estimate >= exact, always — the CM one-sided-error theorem)
    measured next to it, so sketch error is a value, not a trusted
    property. The event stream here is near-uniform per user, the
    sketch's worst case — the err_cnt column SHOWS that instead of
    hiding it."""
    ev = _cat(spark, sf_dir).table("events").df.filter(
        F.col("user_id").isNotNull()
    )
    day = F.floor(F.col("ts").cast("double") / F.lit(86400)).cast("bigint")
    sk = sketches.cms_build(
        ev, "user_id", depth=4, width=256, partial_by=day
    )
    keys = ev.select("user_id").distinct()
    est = sketches.cms_estimate(keys, sk, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            F.col("est_cnt").cast("bigint").alias("est_cnt"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("err_cnt"),
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_under"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )


EMBEDDING_HARD_NEGATIVES_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
               FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
      SELECT q.qid AS query_id, CAST(q.qlabel AS BIGINT) AS query_label,
             e.vec_id, CAST(e.label AS BIGINT) AS neg_label,
             CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qv::DOUBLE[])
                        * 1000000) AS BIGINT) AS cosine_u
      FROM embeddings e CROSS JOIN q WHERE e.label != q.qlabel)
    SELECT query_id, query_label, vec_id, neg_label, cosine_u, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine_u DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 3
"""


@query("embedding_hard_negatives", oracle=EMBEDDING_HARD_NEGATIVES_ORACLE)
def embedding_hard_negatives(spark, sf_dir):
    """L53 hard-negative mining for contrastive training (staged
    r10-cont; the public DPR / sentence-transformers batch-mining
    recipe): for each of 5 anchor vectors, the top-3 highest-cosine
    corpus vectors whose LABEL differs from the anchor's — the
    near-boundary negatives that carry the gradient signal in an
    embedding fine-tune. Anchors broadcast (the declared nested-loop:
    a 5-row build side with a label-inequality predicate), corpus
    streamed once, scores floor-quantized to micro-units BEFORE the
    per-anchor rank (the similarity_topk_exact cross-engine
    contract). At 100 TB this exact pass is the rerank stage over an
    ivf_pq_topk shortlist; the operator shape is identical."""
    e = _cat(spark, sf_dir).table("embeddings").df.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    anchors = e.filter(F.col("vec_id").isin(0, 1, 2, 3, 4))
    out = similarity.hard_negatives(e, anchors, k=3, quantize=6)
    return out.select(
        "query_id",
        F.col("query_label").cast("bigint").alias("query_label"),
        "vec_id",
        F.col("neg_label").cast("bigint").alias("neg_label"),
        "cosine_u",
        F.col("rank").cast("bigint").alias("rank"),
    )


TEXT_TOKEN_FERTILITY_ORACLE = r"""
    WITH per AS (
      SELECT lang,
             strlen(coalesce(text, '')) AS nb,
             len(string_split_regex(coalesce(text, ''), '\s+')) AS ws,
             len(regexp_extract_all(coalesce(text, ''),
                 '([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])', 1)) AS bpe
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(CASE WHEN SUM(bpe) = 0 THEN 0
                     ELSE (1000000 * SUM(nb)) // SUM(bpe) END AS BIGINT)
             AS bytes_per_bpe_u,
           CAST(CASE WHEN SUM(ws) = 0 THEN 0
                     ELSE (1000000 * SUM(bpe)) // SUM(ws) END AS BIGINT)
             AS bpe_per_ws_u
    FROM per GROUP BY lang
"""


@query("text_token_fertility", oracle=TEXT_TOKEN_FERTILITY_ORACLE)
def text_token_fertility(spark, sf_dir):
    """L54 tokenizer fertility / compression diagnostics (staged
    r10-cont; the bytes-per-token readout of the tokenizer-fairness
    literature): per language, UTF-8 byte, whitespace-token and
    BPE-ish-token totals with two exact integer micro-unit ratios —
    bytes per BPE token (compression rate) and BPE tokens per word
    (subword fan-out). One map-only scan + one map-side-combined
    grouped agg (functions.text.token_fertility_stats); the ratios
    are integer DIV on the group totals, so every value replays
    bit-for-bit in DuckDB."""
    d = _cat(spark, sf_dir).table("documents").df
    return TX.token_fertility_stats(d, text="text", group_by="lang")


ZIP_ARCHIVE_PROBE_ORACLE = """
    WITH m AS (
      SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
             CAST(doc_id AS VARCHAR) || '.txt' AS name,
             md5(coalesce(text, '')) AS h,
             strlen(coalesce(text, '')) AS nb
      FROM documents)
    SELECT shard,
           COUNT(*) AS n_members,
           CAST(SUM(nb) AS BIGINT) AS total_txt_bytes,
           md5(string_agg(name || ':' || h, '|'
                          ORDER BY name || ':' || h)) AS members_md5,
           true AS ok
    FROM m GROUP BY shard
"""


@query("zip_archive_probe", oracle=ZIP_ARCHIVE_PROBE_ORACLE)
def zip_archive_probe(spark, sf_dir):
    """S13 ZIP archives at driver grade (staged r10-cont; the other
    container scraped corpora ship in, next to the S12 tar shards):
    the corpus packed into 16 STORED-entry ZIPs entirely in codegen
    (sources.ziparchive — real per-member CRC-32 via the built-in
    crc32, central-directory offsets computed by an aggregate FOLD
    over the doc-ordered member array, EOCD record; Python zipfile
    accepts the output with a clean testzip(), pinned by unit test)
    and read back by a REAL parser (EOCD tail scan, central-directory
    walk, local-header cross-check, per-entry CRC-32 re-verification;
    compressed/spanned archives rejected — deflate is the documented
    zlib swap point). Same content-level (name, md5) roundtrip pin as
    the tar probe, re-derived by the oracle from the source rows."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    shards = ziparchive.synthesize_zip_shards(
        d, id_col="doc_id", text_col="text", n_shards=16
    )
    return ziparchive.decode_zip_features(shards).select(
        "shard", "n_members", "total_txt_bytes", "members_md5", "ok",
    )


MIXTURE_EPOCH_UPSAMPLING_ORACLE = r"""
    WITH b AS (
      SELECT source, doc_id,
             len(string_split_regex(coalesce(text, ''), '\s+')) AS tok,
             (('0x' || substr(md5(source), 1, 2))::BIGINT % 3 + 1) AS n_ep
      FROM documents),
    s AS (SELECT source, doc_id, tok, n_ep, e.epoch,
                 md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(e.epoch AS VARCHAR) || ':mix') AS key
          FROM b, unnest(generate_series(1, n_ep)) AS e(epoch)),
    w AS (SELECT *, LAG(doc_id) OVER (PARTITION BY source ORDER BY key)
                      AS prev_doc
          FROM s)
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(MAX(n_ep) AS BIGINT) AS n_epochs,
           COUNT(*) AS n_samples,
           CAST(SUM(tok) AS BIGINT) AS total_tokens_sampled,
           CAST(COUNT(*) FILTER (WHERE prev_doc = doc_id) AS BIGINT)
             AS n_adjacent_same_doc
    FROM w GROUP BY source
"""


@query("mixture_epoch_upsampling", oracle=MIXTURE_EPOCH_UPSAMPLING_ORACLE)
def mixture_epoch_upsampling(spark, sf_dir):
    """L59 epoch-aware source upsampling (staged r10-cont; the
    quality-tiered repeat factors of every pretraining mixture —
    'books ×3, web ×1' — with the multi-epoch shuffle audit): each
    source gets a deterministic 1–3 epoch factor (md5-derived
    stand-in; a real mixture config swaps in as a broadcast
    (source, epochs) table), docs explode into per-epoch samples,
    and samples order by md5(doc:epoch:salt) — the stable-shuffle
    idiom, which INTERLEAVES epoch copies instead of replaying the
    corpus per epoch. The audit column counts adjacent same-doc
    sample pairs in that order per source (clumped copies = the
    failure mode the shuffle exists to prevent; the count is
    deterministic and the oracle replays it with the same window).
    One token scan + the bounded ≤3× explode + one windowed lag —
    the mixture_token_budget scaling class."""
    d = _cat(spark, sf_dir).table("documents").df
    n_ep = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 2), 16, 10)
        .cast("bigint") % 3 + 1
    )
    base = d.select(
        "source",
        "doc_id",
        TX.token_count(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("tok"),
        n_ep.alias("n_ep"),
    )
    samples = base.select(
        "source", "doc_id", "tok", "n_ep",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_ep"))).alias(
            "epoch"
        ),
    ).withColumn(
        "key",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"),
                F.col("epoch").cast("string"), F.lit(":mix"),
            )
        ),
    )
    w = Window.partitionBy("source").orderBy("key")
    s2 = samples.withColumn("prev_doc", F.lag("doc_id").over(w))
    return s2.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("n_ep").cast("bigint").alias("n_epochs"),
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("tok").cast("bigint").alias("total_tokens_sampled"),
        F.count_if(F.col("prev_doc") == F.col("doc_id"))
        .cast("bigint")
        .alias("n_adjacent_same_doc"),
    )


TAR_WEBDATASET_PROBE_ORACLE = """
    WITH m AS (
      SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
             CAST(doc_id AS VARCHAR) || '.txt' AS name,
             md5(coalesce(text, '')) AS h,
             strlen(coalesce(text, '')) AS nb,
             1 AS is_txt
      FROM documents
      UNION ALL
      SELECT CAST(doc_id % 16 AS BIGINT),
             CAST(doc_id AS VARCHAR) || '.cls',
             md5(coalesce(lang, '')), 0, 0
      FROM documents)
    SELECT shard,
           COUNT(*) AS n_members,
           CAST(SUM(is_txt) AS BIGINT) AS n_txt,
           CAST(COUNT(*) - SUM(is_txt) AS BIGINT) AS n_cls,
           CAST(SUM(nb) AS BIGINT) AS total_txt_bytes,
           md5(string_agg(name || ':' || h, '|'
                          ORDER BY name || ':' || h)) AS members_md5,
           true AS ok
    FROM m GROUP BY shard
"""


@query("tar_webdataset_probe", oracle=TAR_WEBDATASET_PROBE_ORACLE)
def tar_webdataset_probe(spark, sf_dir):
    """S12 WebDataset tar shards at driver grade (staged r10-cont;
    the standard multimodal training-data container — samples as
    adjacent {key}.{ext} members in plain POSIX ustar shards): the
    documents corpus is PACKED into 16 content-addressed shards
    entirely in codegen (sources.tarball.synthesize_tar_shards —
    correct octal sizes, header checksums, 512-padding, zero-block
    trailer; Python tarfile accepts the output, pinned by unit test)
    and walked back by a REAL ustar parser (checksum verification,
    octal fields, padding skip) inside Arrow-batched mapInPandas.
    Per shard: member counts by extension, total .txt bytes, and an
    order-insensitive md5 over (name, content-md5) pairs — which the
    oracle re-derives straight from the source rows, so a parser
    that drops, truncates, or mis-slices ANY member's content
    hash-mismatches. Packing = one groupBy(shard); unpacking =
    map-only over shards (the WebDataset parallelism contract)."""
    d = _cat(spark, sf_dir).table("documents").df.select(
        "doc_id", "text", "lang"
    )
    shards = tarball.synthesize_tar_shards(
        d, id_col="doc_id", text_col="text", cls_col="lang", n_shards=16
    )
    return tarball.decode_tar_features(shards).select(
        "shard", "n_members", "n_txt", "n_cls",
        "total_txt_bytes", "members_md5", "ok",
    )


TAR_STREAMING_PACK_REQUERY_ORACLE = """
    WITH est AS (
      SELECT SUM(1024
                 + ((strlen(coalesce(text, '')) + 511) // 512) * 512
                 + ((strlen(coalesce(lang, '')) + 511) // 512) * 512)
               AS b
      FROM documents),
    ns AS (SELECT GREATEST(1, (b + 262143) // 262144) AS n FROM est),
    m AS (
      SELECT CAST(d.doc_id % ns.n AS BIGINT) AS shard,
             CAST(d.doc_id AS VARCHAR) || '.txt' AS name,
             md5(coalesce(d.text, '')) AS h,
             strlen(coalesce(d.text, '')) AS nb,
             1 AS is_txt
      FROM documents d, ns
      UNION ALL
      SELECT CAST(d.doc_id % ns.n AS BIGINT),
             CAST(d.doc_id AS VARCHAR) || '.cls',
             md5(coalesce(d.lang, '')), 0, 0
      FROM documents d, ns)
    SELECT shard,
           COUNT(*) AS n_members,
           CAST(SUM(is_txt) AS BIGINT) AS n_txt,
           CAST(COUNT(*) - SUM(is_txt) AS BIGINT) AS n_cls,
           CAST(SUM(nb) AS BIGINT) AS total_txt_bytes,
           md5(string_agg(name || ':' || h, '|'
                          ORDER BY name || ':' || h)) AS members_md5,
           true AS ok
    FROM m GROUP BY shard
"""


@query("tar_streaming_pack_requery", oracle=TAR_STREAMING_PACK_REQUERY_ORACLE)
def tar_streaming_pack_requery(spark, sf_dir):
    """S12b PRODUCTION WebDataset packer requery (staged r11; VERDICT
    r10 directive #3 — the partitionBy+streaming-writer seam turned
    into code): the documents corpus is packed by
    sources.tarball.pack_tar_shards_streaming — shard count DERIVED
    from the corpus byte estimate (one declared 1-row scalar agg;
    256 KiB target here so the gate corpus yields several shards and
    the 100x corpus yields ~100x MORE shards of the SAME size — the
    production contract, shard size bounded while count grows),
    repartition(shard) + sortWithinPartitions, an Arrow-batched
    mapInPandas writer streaming member bytes straight to per-shard
    FILES (peak task memory: one Arrow batch; tmp+atomic-rename
    against retries). The requery RE-READS the written files through
    the distributed binaryFile source and walks them with the same
    real ustar parser as the fixture row — what you get is what
    landed on disk. The oracle re-derives shard count, membership,
    member counts, byte totals and the order-insensitive
    (name, content-md5) digest straight from the source rows, so a
    writer that drops, truncates, splits or mis-shards ANY member
    hash-mismatches. Byte-identity with the codegen fixture at equal
    n_shards is unit-pinned (tests/test_source_readers.py)."""
    import shutil
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    d = cat.table("documents").df.select("doc_id", "text", "lang")
    out = Path(str(cat.scratch)) / "tar_stream_pack"
    shutil.rmtree(out, ignore_errors=True)
    summary = tarball.pack_tar_shards_streaming(
        d, str(out), shard_target_bytes=262144
    )
    # materialize the write (bounded: one row/shard); an EMPTY corpus
    # writes zero shard files, where the binaryFile glob would throw —
    # degrade to the empty feature frame instead (empty-input sweep)
    if summary.count() == 0:
        return spark.createDataFrame([], tarball.TAR_FEATURE_SCHEMA)
    bins = spark.read.format("binaryFile").load(str(out / "*.tar"))
    shards = bins.select(
        F.regexp_extract("path", r"shard-(\d+)\.tar$", 1)
        .cast("long")
        .alias("shard"),
        F.col("content").alias("payload"),
    )
    return tarball.decode_tar_features(shards).select(
        "shard", "n_members", "n_txt", "n_cls",
        "total_txt_bytes", "members_md5", "ok",
    )


TAR_WEBDATASET_SAMPLES_ORACLE = """
    WITH est AS (
      SELECT SUM(1024
                 + ((strlen(coalesce(text, '')) + 511) // 512) * 512
                 + ((strlen(coalesce(lang, '')) + 511) // 512) * 512)
               AS b
      FROM documents),
    ns AS (SELECT GREATEST(1, (b + 262143) // 262144) AS n FROM est)
    SELECT d.doc_id AS key,
           CAST(d.doc_id % ns.n AS BIGINT) AS shard,
           coalesce(d.text, '') AS txt,
           coalesce(d.lang, '') AS cls,
           true AS complete
    FROM documents d, ns
"""


@query("tar_webdataset_samples", oracle=TAR_WEBDATASET_SAMPLES_ORACLE)
def tar_webdataset_samples(spark, sf_dir):
    """S12c WebDataset SAMPLE reader (staged r11): the consumption
    half of the container story — pack the documents corpus with the
    PRODUCTION streaming packer (S12b), re-read the shard files
    through binaryFile, then decode_tar_samples groups each shard's
    adjacent {key}.{ext} members into ONE ROW PER SAMPLE (key, txt,
    cls, complete) — the unit a training loader iterates. The oracle
    re-derives every sample straight from the source rows (shard =
    doc_id % derived-n, txt/cls = the coalesced source columns), so a
    reader that drops a sample, splits members across samples,
    mis-groups keys, or corrupts content hash-mismatches. Scale:
    pack is the S12b streaming writer; read is map-only over shards,
    one Arrow stage, no shuffle."""
    import shutil
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    d = cat.table("documents").df.select("doc_id", "text", "lang")
    out = Path(str(cat.scratch)) / "tar_sample_pack"
    shutil.rmtree(out, ignore_errors=True)
    summary = tarball.pack_tar_shards_streaming(
        d, str(out), shard_target_bytes=262144
    )
    if summary.count() == 0:
        return spark.createDataFrame([], tarball.TAR_SAMPLE_SCHEMA).select(
            F.col("key").cast("bigint"), "shard", "txt", "cls", "complete"
        )
    bins = spark.read.format("binaryFile").load(str(out / "*.tar"))
    shards = bins.select(
        F.regexp_extract("path", r"shard-(\d+)\.tar$", 1)
        .cast("long")
        .alias("shard"),
        F.col("content").alias("payload"),
    )
    return tarball.decode_tar_samples(shards).select(
        F.col("key").cast("bigint").alias("key"),
        "shard", "txt", "cls", "complete",
    )


ZIP_STREAMING_PACK_REQUERY_ORACLE = """
    WITH est AS (
      SELECT SUM(76 + 2 * (length(CAST(doc_id AS VARCHAR)) + 4)
                 + strlen(coalesce(text, ''))) AS b
      FROM documents),
    ns AS (SELECT GREATEST(1, (b + 131071) // 131072) AS n FROM est),
    m AS (
      SELECT CAST(d.doc_id % ns.n AS BIGINT) AS shard,
             CAST(d.doc_id AS VARCHAR) || '.txt' AS name,
             md5(coalesce(d.text, '')) AS h,
             strlen(coalesce(d.text, '')) AS nb
      FROM documents d, ns)
    SELECT shard,
           COUNT(*) AS n_members,
           CAST(SUM(nb) AS BIGINT) AS total_txt_bytes,
           md5(string_agg(name || ':' || h, '|'
                          ORDER BY name || ':' || h)) AS members_md5,
           true AS ok
    FROM m GROUP BY shard
"""


@query("zip_streaming_pack_requery", oracle=ZIP_STREAMING_PACK_REQUERY_ORACLE)
def zip_streaming_pack_requery(spark, sf_dir):
    """S13b PRODUCTION ZIP packer requery (staged r11; directive #3's
    second half): pack_zip_shards_streaming streams STORED-entry
    members into per-shard ZIP files — shard count from the byte
    estimate (128 KiB target), only the central directory held to
    shard close, classic-ZIP ceilings raised loudly per shard — then
    the requery re-reads the files via binaryFile and the real
    EOCD/central-directory/CRC-verifying parser. Oracle re-derives
    shard count, membership and digests from the source rows;
    byte-identity with the codegen fixture at equal n_shards is
    unit-pinned."""
    import shutil
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    d = cat.table("documents").df.select("doc_id", "text")
    out = Path(str(cat.scratch)) / "zip_stream_pack"
    shutil.rmtree(out, ignore_errors=True)
    summary = ziparchive.pack_zip_shards_streaming(
        d, str(out), shard_target_bytes=131072
    )
    # materialize the write; empty corpus -> zero files -> degrade to
    # the empty feature frame (the tar requery's convention)
    if summary.count() == 0:
        return spark.createDataFrame([], ziparchive.ZIP_FEATURE_SCHEMA)
    bins = spark.read.format("binaryFile").load(str(out / "*.zip"))
    shards = bins.select(
        F.regexp_extract("path", r"shard-(\d+)\.zip$", 1)
        .cast("long")
        .alias("shard"),
        F.col("content").alias("payload"),
    )
    return ziparchive.decode_zip_features(shards).select(
        "shard", "n_members", "total_txt_bytes", "members_md5", "ok"
    )


AUDIO_MP3_FRAMES_PROBE_ORACLE = """
    WITH f AS (
      SELECT d.doc_id, g.f,
             CASE (d.doc_id + g.f) % 14
               WHEN 0 THEN 32 WHEN 1 THEN 40 WHEN 2 THEN 48
               WHEN 3 THEN 56 WHEN 4 THEN 64 WHEN 5 THEN 80
               WHEN 6 THEN 96 WHEN 7 THEN 112 WHEN 8 THEN 128
               WHEN 9 THEN 160 WHEN 10 THEN 192 WHEN 11 THEN 224
               WHEN 12 THEN 256 ELSE 320 END AS br,
             CASE d.doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
               ELSE 32000 END AS sr,
             (d.doc_id + g.f) % 2 AS pad
      FROM documents d, generate_series(0, 8) g(f)
      WHERE g.f < d.doc_id % 6 + 3)
    SELECT doc_id AS media_id,
           'mp3' AS media_type,
           COUNT(*) AS n_frames,
           CAST(MIN(sr) AS INT) AS sample_rate,
           CAST(SUM((144 * br * 1000) // sr + pad) AS BIGINT) AS n_bytes,
           CAST((COUNT(*) * 1152 * 1000) // MIN(sr) AS BIGINT)
             AS duration_ms,
           CAST(COUNT(DISTINCT br) AS BIGINT) AS n_distinct_bitrates,
           true AS ok
    FROM f GROUP BY doc_id
"""


@query("audio_mp3_frames_probe", oracle=AUDIO_MP3_FRAMES_PROBE_ORACLE)
def audio_mp3_frames_probe(spark, sf_dir):
    """L5m MP3 frame-walk probe (staged r10-cont; the compressed
    audio container next to WAV's raw PCM — most scraped audio ships
    as MP3): codegen-synthesized VALID variable-bitrate MPEG-1 Layer
    III streams (bitrate index cycles per frame, so any walker that
    assumes a constant stride mis-lands on every payload) walked
    frame-accurately by parse_mp3_frames inside Arrow-batched
    mapInPandas — header validation, per-frame length from THAT
    frame's header (144*br/sr + padding), exact end-of-payload
    consumption, mid-stream sample-rate-change rejection. The oracle
    replays the generative model per frame with a correlated lateral
    and the bitrate table as a CASE ladder — frame count, byte size,
    integer duration, and the VBR distinct-bitrate count all pinned.
    Full spectral decode is the documented ffmpeg swap point."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_mp3_payloads(d, "doc_id")
    return multimodal.decode_mp3_features(media).select(
        "media_id", "media_type", "n_frames", "sample_rate",
        "n_bytes", "duration_ms", "n_distinct_bitrates", "ok",
    )


CLASSIFIER_CALIBRATION_BINS_ORACLE = (
    "WITH cls AS ({cls}),\n"
    "gq AS ({gq}),\n"
    "j AS (SELECT cls.margin, gq.passes FROM cls JOIN gq USING (doc_id)),\n"
    "b AS (SELECT ((margin + 10000000) // 1000) - 10000 AS bin, passes"
    " FROM j)\n"
    "SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,\n"
    "       CAST(COUNT(*) FILTER (WHERE passes) AS BIGINT) AS n_gopher_ok,\n"
    "       CAST((1000000 * COUNT(*) FILTER (WHERE passes)) // COUNT(*)"
    " AS BIGINT) AS ok_ppm\n"
    "FROM b GROUP BY bin"
).format(cls=TEXT_QUALITY_CLASSIFIER_ORACLE, gq=TEXT_GOPHER_QUALITY_ORACLE)


@query(
    "classifier_calibration_bins",
    oracle=CLASSIFIER_CALIBRATION_BINS_ORACLE,
)
def classifier_calibration_bins(spark, sf_dir):
    """L58 classifier calibration audit (staged r10-cont; the
    reliability-diagram readout every deployed quality classifier
    owes): classifier margins (functions.text
    quality_classifier_scores — the fastText-shaped hash model)
    binned 1000-wide, with the per-bin agreement rate against the
    INDEPENDENT Gopher rule verdict (gopher_quality_stats) in exact
    ppm — is a higher margin actually more likely to be rule-clean?
    The binning floor-divides through a positive shift
    (((margin + 1e7) div 1000) - 1e4) because Spark's ``div``
    truncates toward zero while DuckDB's ``//`` floors — on shifted
    positives they agree bit-for-bit (the lexical-diversity
    floor-identity lesson). Two map-only scans + one doc-keyed join
    + one bin agg; emitted as DATA (n/ok/ppm per bin), no fragile
    monotonicity bit — the stand-in weights are a hash scramble, so
    flat agreement is the expected honest reading until a trained
    table swaps in. Input spread (r14): both scoring scans are
    map-only text HOF chains that a single-split source serialized."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    sc = TX.quality_classifier_scores(d).select("doc_id", "margin")
    gq = TX.gopher_quality_stats(d).select("doc_id", "passes")
    j = sc.join(gq, "doc_id")
    b = j.select(
        F.expr("((margin + 10000000) div 1000) - 10000").alias("bin"),
        "passes",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("passes")).cast("bigint").alias("n_gopher_ok"),
        F.expr(
            "CAST((1000000 * count_if(passes)) div count(1) AS BIGINT)"
        ).alias("ok_ppm"),
    )


DEDUP_MINHASH_INCREMENTAL_ORACLE = r"""
    WITH base AS (
      SELECT doc_id, text, TRUE AS is_index FROM documents
      WHERE doc_id < 250
      UNION ALL
      SELECT doc_id, text, FALSE FROM documents WHERE doc_id >= 250
      UNION ALL
      SELECT doc_id + 10000000, text, FALSE FROM documents
      WHERE doc_id < 21),
    t AS (SELECT doc_id, is_index,
                 string_split_regex(text, '\s+') AS toks
          FROM base),
    s AS (SELECT doc_id, is_index,
            CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    sig AS (SELECT doc_id, is_index,
              list_transform(generate_series(0, 11), seed ->
                list_min(list_transform(sh,
                  g -> md5(g || ':' || CAST(seed AS VARCHAR))))) AS m
            FROM s),
    bands AS (SELECT doc_id, is_index, u.b AS b,
                     list_slice(m, u.b * 3 + 1, u.b * 3 + 3) AS bsig
              FROM sig, unnest(generate_series(0, 3)) AS u(b)),
    hits AS (SELECT DISTINCT l.doc_id, r.doc_id AS idx_id
             FROM bands l JOIN bands r
               ON l.b = r.b AND l.bsig = r.bsig
             WHERE NOT l.is_index AND r.is_index),
    agg AS (SELECT doc_id, COUNT(*) AS n, MIN(idx_id) AS fm
            FROM hits GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_index_matches,
           CAST(a.fm AS BIGINT) AS first_match,
           a.n IS NOT NULL AS is_dup
    FROM (SELECT doc_id FROM base WHERE NOT is_index) b
    LEFT JOIN agg a USING (doc_id)
"""


@query("dedup_minhash_incremental", oracle=DEDUP_MINHASH_INCREMENTAL_ORACLE)
def dedup_minhash_incremental(spark, sf_dir):
    """L13b INCREMENTAL fuzzy dedup (staged r10-cont; the fuzzy
    counterpart of the exact-digest dedup_incremental row): the
    corpus's MinHash band buckets (dedup.minhash_band_buckets — the
    12-hash/4-band md5 twin, 4 index rows per doc) act as the STORED
    index; a new batch (the unseen tail of the corpus plus 21
    id-shifted replicas of indexed docs, the dedup_incremental
    fixture shape with a collision-proof +10M shift) joins its own
    band signatures against the index on (band, sig) equality — the
    corpus is never re-shingled. Per batch doc: how many distinct
    indexed docs it banded with, the smallest such id, and the dup
    verdict. The replicas MUST hit (identical text, identical
    signatures); the unseen tail mostly must not. Scale shape: index
    build is one signature groupBy done ONCE; each batch pays its own
    shingling plus a batch-sized equi-join against the (tiny) index —
    the anti-join-the-index shape at fuzzy granularity. Input spread
    (r14): index and batch branches BOTH re-derive md5 signatures
    from this frame, so a single-split source serialized two full
    signature scans (measured 2x at sf0.1)."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    index_docs = d.filter(F.col("doc_id") < 250)
    batch = d.filter(F.col("doc_id") >= 250).unionAll(
        d.filter(F.col("doc_id") < 21).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    idx = dedup.minhash_band_buckets(
        index_docs, n_hashes=12, bands=4, hash="md5"
    ).select(F.col("id").alias("idx_id"), "band", "sig")
    bb = dedup.minhash_band_buckets(
        batch, n_hashes=12, bands=4, hash="md5"
    ).select(F.col("id").alias("doc_id"), "band", "sig")
    hits = bb.join(idx, ["band", "sig"]).select("doc_id", "idx_id").distinct()
    agg = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_index_matches"),
        F.min("idx_id").alias("first_match"),
    )
    return batch.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_index_matches", F.lit(0)).cast("bigint").alias(
            "n_index_matches"
        ),
        F.col("first_match").cast("bigint").alias("first_match"),
        F.col("n_index_matches").isNotNull().alias("is_dup"),
    )


DEDUP_MINHASH_INCREMENTAL_GROW_ORACLE = r"""
    WITH base AS (
      SELECT doc_id, text, TRUE AS is_index FROM documents
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, text, FALSE FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT doc_id + 10000000, text, FALSE FROM documents
      WHERE doc_id % 3 = 0 AND doc_id < 63),
    t AS (SELECT doc_id, is_index,
                 string_split_regex(text, '\s+') AS toks
          FROM base),
    s AS (SELECT doc_id, is_index,
            CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    sig AS (SELECT doc_id, is_index,
              list_transform(generate_series(0, 11), seed ->
                list_min(list_transform(sh,
                  g -> md5(g || ':' || CAST(seed AS VARCHAR))))) AS m
            FROM s),
    bands AS (SELECT doc_id, is_index, u.b AS b,
                     list_slice(m, u.b * 3 + 1, u.b * 3 + 3) AS bsig
              FROM sig, unnest(generate_series(0, 3)) AS u(b)),
    hits AS (SELECT DISTINCT l.doc_id, r.doc_id AS idx_id
             FROM bands l JOIN bands r
               ON l.b = r.b AND l.bsig = r.bsig
             WHERE NOT l.is_index AND r.is_index),
    agg AS (SELECT doc_id, COUNT(*) AS n, MIN(idx_id) AS fm
            FROM hits GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_index_matches,
           CAST(a.fm AS BIGINT) AS first_match,
           a.n IS NOT NULL AS is_dup
    FROM (SELECT doc_id FROM base WHERE NOT is_index) b
    LEFT JOIN agg a USING (doc_id)
"""


@query(
    "dedup_minhash_incremental_grow",
    oracle=DEDUP_MINHASH_INCREMENTAL_GROW_ORACLE,
)
def dedup_minhash_incremental_grow(spark, sf_dir):
    """L13c INCREMENTAL fuzzy dedup, BOTH-SIDES-GROW regime (staged
    r11; VERDICT r10 directive #7 — the regime the L13b fixture never
    exercises, promoted from the ad-hoc proportional-split scratch
    probe in BASELINE.md to an oracle-pinned row): the stored band
    index is a PROPORTIONAL slice of the corpus (doc_id % 3 == 0,
    ~1/3) instead of L13b's pinned 250 docs, and the batch is the
    other ~2/3 plus 21 id-shifted replicas of indexed docs
    (collision-proof +10M shift). At the 100x probe corpus BOTH the
    index build and the batch join therefore carry 100x rows — the
    production regime where yesterday's index grew out of yesterday's
    corpus. Same 12-hash/4-band md5 twin, same (band, sig) equi-join,
    same verdict columns as L13b; the measured both-sides ratio was
    3.2 at 100x on the scratch probe this row replaces. Input spread
    (r14): as in L13b, both branches re-derive signatures from this
    frame — spread once, parallelize both scans."""
    d = _util.spread_input(
        _cat(spark, sf_dir).table("documents").df.select("doc_id", "text"),
        spark,
    )
    index_docs = d.filter(F.col("doc_id") % 3 == 0)
    batch = d.filter(F.col("doc_id") % 3 != 0).unionAll(
        d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 63)).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    idx = dedup.minhash_band_buckets(
        index_docs, n_hashes=12, bands=4, hash="md5"
    ).select(F.col("id").alias("idx_id"), "band", "sig")
    bb = dedup.minhash_band_buckets(
        batch, n_hashes=12, bands=4, hash="md5"
    ).select(F.col("id").alias("doc_id"), "band", "sig")
    hits = bb.join(idx, ["band", "sig"]).select("doc_id", "idx_id").distinct()
    agg = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_index_matches"),
        F.min("idx_id").alias("first_match"),
    )
    return batch.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_index_matches", F.lit(0)).cast("bigint").alias(
            "n_index_matches"
        ),
        F.col("first_match").cast("bigint").alias("first_match"),
        F.col("n_index_matches").isNotNull().alias("is_dup"),
    )


MULTIMODAL_TIFF_PROBE_ORACLE = """
    SELECT d.doc_id AS media_id,
           'tiff' AS media_type,
           CAST(d.doc_id % 5 + 4 AS INT) AS width,
           CAST(d.doc_id % 7 + 3 AS INT) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM((d.doc_id + g.x * 2 + gy.y * 7) % 256) AS BIGINT)
             AS sum_b,
           CAST(SUM((d.doc_id * 17 + gy.y * 5) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((d.doc_id * 13 + g.x * 3) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((g.x + gy.y * (d.doc_id % 5 + 4) + 1)
                    * ((d.doc_id + g.x * 2 + gy.y * 7) % 256)) AS BIGINT)
             AS wsum_b,
           true AS ok
    FROM documents d,
         generate_series(0, 7) g(x),
         generate_series(0, 8) gy(y)
    WHERE g.x < d.doc_id % 5 + 4 AND gy.y < d.doc_id % 7 + 3
    GROUP BY d.doc_id
"""


@query("multimodal_tiff_probe", oracle=MULTIMODAL_TIFF_PROBE_ORACLE)
def multimodal_tiff_probe(spark, sf_dir):
    """L5t TIFF pixel decode at driver grade (staged r10-cont; the
    scanned-document format of OCR/document-AI pipelines): spec-valid
    baseline little-endian TIFFs — real 9-entry IFD, offset-stored
    BitsPerSample array, one RGB strip — synthesized entirely in
    codegen, then FULLY decoded by parse_tiff_pixels (a genuine IFD
    walk: both byte orders, inline-or-offset value arrays,
    multi-strip assembly; compression/photometric gates) inside
    Arrow-batched mapInPandas. The oracle replays the generative
    pixel model (R=(id*13+3x)%256, G=(id*17+5y)%256,
    B=(id+2x+7y)%256, w=id%5+4, h=id%7+3) with correlated
    generate_series laterals — the PNG/GIF-probe idiom over the IFD
    container. Same single-split spread as the other media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_tiff_payloads(d, "doc_id")
    feats = multimodal.decode_pixel_features(media)
    return feats.select(
        "media_id", "media_type", "width", "height", "n_pixels",
        "sum_b", "sum_g", "sum_r", "wsum_b", "ok",
    )


EVENTS_RATE_ANOMALIES_ORACLE = """
    WITH c AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
             COUNT(*) AS cnt
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2),
    b AS (
      SELECT event_type, hour_bucket, cnt,
             COUNT(*) OVER w AS n_base,
             CAST(SUM(cnt) OVER w AS BIGINT) AS base_sum,
             CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS base_sumsq
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, hour_bucket, CAST(cnt AS BIGINT) AS cnt,
           base_sum, base_sumsq,
           (cnt * 24 - base_sum > 0
            AND (cnt * 24 - base_sum) * (cnt * 24 - base_sum)
                > 9 * (24 * base_sumsq - base_sum * base_sum)) AS is_spike
    FROM b WHERE n_base = 24
"""


@query("events_rate_anomalies", oracle=EVENTS_RATE_ANOMALIES_ORACLE)
def events_rate_anomalies(spark, sf_dir):
    """L56 rolling rate-anomaly detection (staged r10-cont; the
    ops-analytics staple of the reference's own event domain): hourly
    event counts per type against a trailing 24-full-hours baseline,
    flagged when the count sits more than THREE standard deviations
    above the baseline mean — computed ENTIRELY in int64 by clearing
    denominators: with n=24, mean=sum/n and var=(n*sumsq-sum^2)/n^2,
    the z>3 test (cnt-mean)^2 > 9*var becomes
    (cnt*n - sum)^2 > 9*(n*sumsq - sum^2) — no division, no floats,
    bit-replayable (safe while hourly counts stay under ~3e8, i.e.
    squares under int64). Baseline is ROWS-based over PRESENT hours
    (documented: silent hours compress the frame rather than zero-fill
    — the right default for sparse types; a dense spine is a
    generate_series join away). One grouped count + one window — the
    time_tumbling_hour scaling class."""
    ev = _cat(spark, sf_dir).table("events").df.filter(
        F.col("ts").isNotNull()
    )
    hour = F.floor(F.col("ts").cast("double") / F.lit(3600)).cast("bigint")
    cnts = ev.select("event_type", hour.alias("hour_bucket")).groupBy(
        "event_type", "hour_bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(-24, -1)
    )
    b = cnts.select(
        "event_type",
        "hour_bucket",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_base"),
        F.sum("cnt").over(w).cast("bigint").alias("base_sum"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("bigint").alias(
            "base_sumsq"
        ),
    ).filter(F.col("n_base") == 24)
    diff = F.col("cnt") * 24 - F.col("base_sum")
    var24 = F.lit(24) * F.col("base_sumsq") - F.col("base_sum") * F.col(
        "base_sum"
    )
    return b.select(
        "event_type",
        "hour_bucket",
        "cnt",
        "base_sum",
        "base_sumsq",
        ((diff > 0) & (diff * diff > F.lit(9) * var24)).alias("is_spike"),
    )


EVENTS_LAST_TOUCH_ATTRIBUTION_ORACLE = """
    WITH p AS (SELECT user_id, ts,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events
               WHERE event_type = 'purchase'
                 AND ts IS NOT NULL AND user_id IS NOT NULL),
    t AS (SELECT user_id, ts, MAX(event_type) AS touch_type
          FROM events
          WHERE event_type IN ('click', 'view')
            AND ts IS NOT NULL AND user_id IS NOT NULL
          GROUP BY user_id, ts),
    m AS (SELECT p.cents,
                 (SELECT t.touch_type FROM t
                  WHERE t.user_id = p.user_id AND t.ts <= p.ts
                    AND epoch(p.ts) - epoch(t.ts) <= 604800
                  ORDER BY t.ts DESC LIMIT 1) AS touch_type
          FROM p)
    SELECT touch_type, COUNT(*) AS n_purchases,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
    FROM m GROUP BY touch_type
"""


@query(
    "events_last_touch_attribution",
    oracle=EVENTS_LAST_TOUCH_ATTRIBUTION_ORACLE,
)
def events_last_touch_attribution(spark, sf_dir):
    """L57 last-touch conversion attribution (staged r10-cont; the
    marketing-analytics composition over the as-of operator): each
    purchase is attributed to the SAME user's most recent click/view
    within a 7-day lookback (operators.asof.asof_join, backward with
    tolerance — matches older than 7 days, or absent, attribute to
    NULL = organic), then revenue rolls up per touch type. Money is
    pinned as integer cents via floor(value*100) BEFORE any sum —
    the same IEEE double product in both engines, so the cents are
    bit-identical and the sums exact. Scale shape: the as-of join is
    one union + user-keyed window sort (the asof_join_signup class),
    purchases and touches both pruned by type BEFORE the shuffle."""
    ev = _cat(spark, sf_dir).table("events").df.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select("user_id", "ts", F.col("event_type").alias("touch_type"))
        # tied (user, ts) touches collapse to ONE deterministic row
        # (max touch_type) BEFORE the as-of pick: asof_join's window
        # has no tie-break beyond ts, so a click and a view at the
        # same instant would otherwise attribute partition-order-
        # dependently (review finding, r10-cont; latent — fixtures
        # carry no ties — but real second-granularity data would)
        .groupBy("user_id", "ts")
        .agg(F.max("touch_type").alias("touch_type"))
    )
    m = asof.asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["touch_type"],
        tolerance="7 days",
        direction="backward",
    )
    return m.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias(
            "sum_cents"
        ),
    )


MULTIMODAL_GIF_PROBE_ORACLE = """
    SELECT d.doc_id AS media_id,
           'gif' AS media_type,
           CAST(d.doc_id % 5 + 4 AS INT) AS width,
           CAST(d.doc_id % 7 + 3 AS INT) AS height,
           COUNT(*) AS n_pixels,
           CAST(SUM((d.doc_id * 3
                     + ((d.doc_id + g.x * 3 + gy.y * 5) % 4) * 41) % 256)
                AS BIGINT) AS sum_b,
           CAST(SUM((d.doc_id * 11
                     + ((d.doc_id + g.x * 3 + gy.y * 5) % 4) * 29) % 256)
                AS BIGINT) AS sum_g,
           CAST(SUM((d.doc_id * 7
                     + ((d.doc_id + g.x * 3 + gy.y * 5) % 4) * 13) % 256)
                AS BIGINT) AS sum_r,
           CAST(SUM((g.x + gy.y * (d.doc_id % 5 + 4) + 1)
                    * ((d.doc_id * 3
                        + ((d.doc_id + g.x * 3 + gy.y * 5) % 4) * 41) % 256))
                AS BIGINT) AS wsum_b,
           true AS ok
    FROM documents d,
         generate_series(0, 7) g(x),
         generate_series(0, 8) gy(y)
    WHERE g.x < d.doc_id % 5 + 4 AND gy.y < d.doc_id % 7 + 3
    GROUP BY d.doc_id
"""


@query("multimodal_gif_probe", oracle=MULTIMODAL_GIF_PROBE_ORACLE)
def multimodal_gif_probe(spark, sf_dir):
    """L5g GIF pixel decode at driver grade (staged r10-cont; the
    last classic legacy image format, and the first with MANDATORY
    compression in the container): spec-valid GIF89a payloads — real
    LZW code stream built with the classic uncompressed-GIF technique
    (CLEAR before every literal pair keeps the dictionary inside the
    3-bit code width), 4-entry id-derived global color table —
    synthesized entirely in codegen, then FULLY decoded by
    parse_gif_pixels (a genuine variable-width LZW decoder: dictionary
    growth, width bumps, the KwKwK case, extension-block skipping)
    inside Arrow-batched mapInPandas. The oracle replays the
    generative palette-index model (pix=(id+3x+5y)%4 through the
    id-derived palette, w=id%5+4, h=id%7+3) with correlated
    generate_series laterals — the PNG-probe idiom over the
    LZW-compressed format. Same single-split spread as the other
    media probes."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_gif_payloads(d, "doc_id")
    feats = multimodal.decode_pixel_features(media)
    return feats.select(
        "media_id", "media_type", "width", "height", "n_pixels",
        "sum_b", "sum_g", "sum_r", "wsum_b", "ok",
    )


@query("streaming_sketch_requery", oracle=EVENTS_HEAVY_HITTERS_CMS_ORACLE)
def streaming_sketch_requery(spark, sf_dir):
    """S7e/L52 the count–min sketch as a STREAMING ingest (the
    production shape the batch twin's docstring promises: sketch the
    stream as it arrives, merge cells later): events spread over
    round-robin parquet files, read back through a REAL availableNow
    file-source stream forced onto a three-micro-batch path, and each
    micro-batch reduced to its PARTIAL (d, bucket, cnt) cell frame by
    the same sketches.cms_build the batch row uses, appended to a
    cell sink via foreachBatch — the documented pattern for
    aggregating sinks that merge downstream, and the honest streaming
    counterpart of a mergeable sketch (no state store: each batch's
    128-odd cells are final the moment the batch closes, because
    counter addition commutes). The requery merges the sink by
    cell-wise SUM and re-derives the SAME top-10 heavy-hitter audit
    as events_heavy_hitters_cms — the oracle is the batch oracle
    VERBATIM: agreement proves the micro-batch boundaries changed
    nothing. At 100 TB each micro-batch contributes KBs of cells and
    the merge never re-touches the event stream."""
    import shutil
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    ev = cat.table("events").df.select("event_id", "user_id").filter(
        F.col("user_id").isNotNull()
    )
    base = Path(str(cat.scratch)) / "stream_sketch"
    shutil.rmtree(base, ignore_errors=True)
    src_dir = base / "src"
    # three genuine micro-batches, r14 reshape: ONE round-robin write
    # of three size-balanced files replaces the three filtered full
    # scans and their 93%-skewed third slice (guide section 1.2). The
    # (event_id, user_id) rows are two ints, so per-batch scan cost is
    # trivial and the cheap 3-file layout beats a many-file spread
    # (measured: 3x-parallelism files cost +0.8 s in listing/commit
    # overhead here while winning nothing back — unlike the text-heavy
    # curation stream, where within-batch scan parallelism pays).
    # Micro-batch BOUNDARIES move but cell addition commutes (the
    # mergeable-sketch property this row exists to demonstrate), so
    # the merged sink and the audit output are unchanged.
    ev.repartition(3).write.parquet(str(src_dir))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    cells_dir = base / "cells"
    cell_schema = sketches.cms_build(
        ev.limit(0), "user_id", depth=4, width=256
    ).schema

    def _emit(batch_df, batch_id):
        sketches.cms_build(
            batch_df, "user_id", depth=4, width=256
        ).write.mode("append").parquet(str(cells_dir))

    q = (
        stream.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    assert finished, "sketch stream did not finish within 300s"
    partials = spark.read.schema(cell_schema).parquet(str(cells_dir))
    sk = partials.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    keys = ev.select("user_id").distinct()
    est = sketches.cms_estimate(keys, sk, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            F.col("est_cnt").cast("bigint").alias("est_cnt"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("err_cnt"),
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_under"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )


MIXTURE_TEMPERATURE_BUDGET_ORACLE = r"""
    WITH t AS (
      SELECT source, doc_id,
             len(string_split_regex(coalesce(text, ''), '\s+')) AS tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    tot AS (SELECT source, CAST(SUM(tok) AS BIGINT) AS total_tokens
            FROM t GROUP BY source),
    w AS (SELECT source, total_tokens,
                 CAST(floor(sqrt(CAST(total_tokens AS DOUBLE)))
                      AS BIGINT) AS w_sqrt
          FROM tot),
    ws AS (SELECT SUM(w_sqrt) AS w_all FROM w),
    alloc AS (SELECT w.source, w.total_tokens, w.w_sqrt,
                     CAST((2000 * w.w_sqrt) // ws.w_all AS BIGINT)
                       AS alloc_tokens
              FROM w, ws),
    c AS (SELECT source, doc_id, tok,
                 SUM(tok) OVER (PARTITION BY source ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT a.source, a.total_tokens, a.w_sqrt, a.alloc_tokens,
           COUNT(*) FILTER (WHERE c.cum - c.tok < a.alloc_tokens)
             AS n_kept,
           CAST(COALESCE(SUM(c.tok) FILTER
                  (WHERE c.cum - c.tok < a.alloc_tokens), 0) AS BIGINT)
             AS kept_tokens
    FROM alloc a JOIN c ON c.source = a.source
    GROUP BY 1, 2, 3, 4
"""


@query("mixture_temperature_budget", oracle=MIXTURE_TEMPERATURE_BUDGET_ORACLE)
def mixture_temperature_budget(spark, sf_dir):
    """L55 temperature-reweighted mixture budgeting (staged r10-cont;
    the alpha-exponent source reweighting of the multilingual-
    pretraining literature — XLM-R / mC4's p_i ∝ n_i^alpha at
    alpha=0.5): per-source token totals are reweighted by
    floor(sqrt(total)) — IEEE-754 sqrt is correctly rounded, so the
    floor is bit-identical in every engine — a 2000-token global
    budget is split proportionally by exact integer DIV on those
    weights (the 1-row weight-sum broadcast, the unigram-fppm scalar
    pattern), and each source then draws docs in content-addressed
    md5(doc_id) order until ITS allocation is crossed — the
    mixture_token_budget greedy draw with the constant threshold
    replaced by the computed per-source quota. Low-resource sources
    get a larger-than-proportional share (the whole point of
    temperature sampling); the emitted n_kept/kept_tokens make the
    flattening measurable next to total_tokens. One token scan, one
    source agg, one window — re-weighting never re-shuffles the
    corpus, only the thresholds move."""
    d = _cat(spark, sf_dir).table("documents").df
    t = d.select(
        "source",
        "doc_id",
        TX.token_count(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    totals = t.groupBy("source").agg(
        F.sum("tok").cast("bigint").alias("total_tokens")
    )
    w = totals.withColumn(
        "w_sqrt",
        F.floor(F.sqrt(F.col("total_tokens").cast("double"))).cast("bigint"),
    )
    wsum = w.agg(F.sum("w_sqrt").cast("bigint").alias("__w_all"))
    alloc = w.crossJoin(F.broadcast(wsum)).select(
        "source",
        "total_tokens",
        "w_sqrt",
        F.expr("(CAST(2000 AS BIGINT) * w_sqrt) div __w_all").alias(
            "alloc_tokens"
        ),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("tok").over(win))
    j = c.join(F.broadcast(alloc), "source")
    kept = F.col("cum") - F.col("tok") < F.col("alloc_tokens")
    return j.groupBy(
        "source", "total_tokens", "w_sqrt", "alloc_tokens"
    ).agg(
        F.count_if(kept).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.col("tok"))), F.lit(0)
        ).cast("bigint").alias("kept_tokens"),
    )


def _ivf_pq_oracle_for_batch(pred: str, batch: int) -> str:
    """The ann_ivf_pq_search oracle with its query-set predicate
    swapped (both sites: the qry CTE and the probes CTE — in the
    probes scope the unqualified vec_id resolves to lists l, the only
    relation carrying it) and a batch tag appended."""
    inner = ANN_IVF_PQ_SEARCH_ORACLE.replace("vec_id < 5", pred)
    if inner.count(pred) != 2:
        # Explicit raise, not assert (ADVICE r12): the guard must
        # survive `python -O` — an ANN_IVF_PQ_SEARCH_ORACLE edit that
        # changes the predicate text has to fail at import, never
        # silently produce a wrong batched oracle.
        raise ValueError(
            "ANN_IVF_PQ_SEARCH_ORACLE no longer contains exactly two "
            f"'vec_id < 5' predicate sites (found {inner.count(pred)} "
            f"of {pred!r}); update _ivf_pq_oracle_for_batch's rewrite"
        )
    return (
        f"SELECT *, CAST({batch} AS BIGINT) AS batch FROM ({inner})"
    )


ANN_IVF_PQ_BATCHED_ORACLE = (
    _ivf_pq_oracle_for_batch("vec_id < 5", 1)
    + " UNION ALL "
    + _ivf_pq_oracle_for_batch("vec_id >= 5 AND vec_id < 10", 2)
)


@query("ann_ivf_pq_batched", oracle=ANN_IVF_PQ_BATCHED_ORACLE)
def ann_ivf_pq_batched(spark, sf_dir):
    """L51b IVF+PQ index REUSE across query batches (the r12
    build/search API split driven under the oracle gate): the index —
    the two cached frames build_ivf_pq_index materializes, the FAISS
    "train once" step — is built ONE time and answers TWO disjoint
    query batches (vec_id < 5, then 5 <= vec_id < 10); results are
    tagged by batch and unioned. This is the production loop the
    one-shot ann_ivf_pq_search row cannot express: at 100 TB the
    index build is the corpus-pass cost and every query batch after
    the first pays only probes + ADC + refine. The oracle replays the
    full IVF+PQ pipeline once per batch predicate — if the second
    search saw a consumed or mutated index, batch-2 rows would
    hash-mismatch. Caches are scope-released after an eager
    checkpoint of the bounded output (the ivf_pq_topk contract)."""
    e = _cat(spark, sf_dir).table("embeddings").df
    corpus = e.select("vec_id", "embedding")
    idx = similarity.build_ivf_pq_index(corpus)
    b1 = corpus.filter(F.col("vec_id") < 5)
    b2 = corpus.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    out = (
        similarity.ivf_pq_search(idx, b1, k=5)
        .withColumn("batch", F.lit(1).cast("bigint"))
        .unionByName(
            similarity.ivf_pq_search(idx, b2, k=5)
            .withColumn("batch", F.lit(2).cast("bigint"))
        )
    )
    out = _util.own(out.localCheckpoint(eager=True))
    _util.release([idx["listed"], idx["centroids"]])
    return out


BPE_MERGES_FILE_ROUNDTRIP_ORACLE = (
    "SELECT *, CAST("
    + str(len(_BPE_EXPORT_MERGES))
    + " AS BIGINT) AS n_merges_loaded FROM ("
    + BPE_ENCODE_CORPUS_ORACLE
    + ")"
)


@query("bpe_merges_file_roundtrip", oracle=BPE_MERGES_FILE_ROUNDTRIP_ORACLE)
def bpe_merges_file_roundtrip(spark, sf_dir):
    """L28c the merges.txt SEAM driven under the oracle gate (VERDICT
    r11 directive #5 made the loader executable; this row makes the
    driver PROVE loaded ≡ inline on the gate corpus): the fixed
    export merge list is serialized to a real merges.txt file
    (dump_bpe_merges — '#version:' header, one 'a b' pair per line),
    parsed back with load_bpe_merges (the format every public BPE
    tokenizer ships), and the corpus is encoded with the LOADED list.
    The oracle is the bpe_encode_corpus replay VERBATIM (same inline
    merges) plus the loaded-merge count — any format drift (priority
    reorder, token mangling, header mishandling) changes a fold and
    hash-mismatches. Map-only, zero shuffle; the merges file is
    KB-scale driver-side config, exactly like production."""
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    path = Path(str(cat.scratch)) / "bpe_roundtrip_merges.txt"
    path.parent.mkdir(parents=True, exist_ok=True)
    TX.dump_bpe_merges(_BPE_EXPORT_MERGES, path)
    loaded = TX.load_bpe_merges(path)
    d = _util.spread_input(
        cat.table("documents").df.select("doc_id", "text"), spark
    ).select(
        "doc_id", "text",
        F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("bigint").alias("n_tokens"),
    )
    enc = TX.bpe_encode(d, merges=loaded)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        F.md5(F.encode(F.concat_ws(" ", F.col("bpe_tokens")), "UTF-8"))
        .alias("tokens_md5"),
        F.lit(len(loaded)).cast("bigint").alias("n_merges_loaded"),
    )


def _hf_tokenizer_oracle() -> str:
    """The bpe_encode_corpus oracle's fold chain shared BY REFERENCE,
    with the final SELECT rewritten (marker-count-guarded, the
    _ivf_pq_oracle_for_batch precedent) to ALSO emit the id-mapped
    hash/unk columns from the same deterministic vocab the Spark row
    loads — so the replay text and the id assignment can never drift
    between the twins."""
    from .functions import text as _TX

    marker = (
        "SELECT doc_id, n_tokens, CAST(len(tl) AS BIGINT) AS n_bpe_tokens,\n"
        "           md5(array_to_string(tl, ' ')) AS tokens_md5\n"
        "    FROM s4"
    )
    if BPE_ENCODE_CORPUS_ORACLE.count(marker) != 1:
        raise ValueError(
            "BPE_ENCODE_CORPUS_ORACLE no longer contains exactly one "
            "final-SELECT marker; update _hf_tokenizer_oracle's "
            "rewrite to match"
        )
    vocab = _TX.hf_vocab_from_merges(_BPE_EXPORT_MERGES)
    case = (
        "CASE x "
        + " ".join(
            f"WHEN '{tok}' THEN {vid}"
            for tok, vid in sorted(vocab.items(), key=lambda kv: kv[1])
        )
        + " ELSE -1 END"
    )
    final = f"""SELECT doc_id, n_tokens, CAST(len(tl) AS BIGINT) AS n_bpe_tokens,
           md5(array_to_string(tl, ' ')) AS tokens_md5,
           md5(array_to_string(list_transform(tl,
               x -> CAST(({case}) AS VARCHAR)), ' ')) AS ids_md5,
           CAST(len(list_filter(tl, x -> ({case}) = -1)) AS BIGINT)
             AS n_unk,
           CAST({len(vocab)} AS BIGINT) AS n_vocab_loaded
    FROM s4"""
    return BPE_ENCODE_CORPUS_ORACLE.replace(marker, final)


@query("hf_tokenizer_file_roundtrip", oracle=_hf_tokenizer_oracle())
def hf_tokenizer_file_roundtrip(spark, sf_dir):
    """L28d the TWO-FILE tokenizer SEAM driven under the oracle gate
    (VERDICT r13 directive #7a — the vocab.json + merges.txt pair
    every public BPE tokenizer ships, completing the merges-only r13
    row): the deterministic GPT-2-style vocab derived from the fixed
    export merge list (specials, base symbols in first-appearance
    order, products in merge order — hf_vocab_from_merges) is
    serialized WITH the merges to a real vocab.json + merges.txt
    pair (dump_hf_tokenizer), parsed back strictly
    (load_hf_tokenizer: JSON-object vocab, unique non-negative ids,
    every merge operand AND product id-checked against the vocab),
    and the corpus is encoded with the LOADED merges then id-mapped
    with the LOADED vocab (unknown corpus words -> -1, the <unk>
    convention). The oracle is the bpe_encode_corpus replay (shared
    BY REFERENCE, marker-guard rewritten to expose the token list)
    plus the SAME deterministic id CASE-mapping — any drift in
    either file (id reorder, token mangling, merge reorder) changes
    ids_md5 or tokens_md5 and hash-mismatches. Map-only, zero
    shuffle; both files are KB-scale driver-side config that become
    plan literals, exactly like production."""
    from pathlib import Path

    cat = _cat(spark, sf_dir)
    base = Path(str(cat.scratch))
    base.mkdir(parents=True, exist_ok=True)
    vp, mp = base / "hf_vocab.json", base / "hf_merges.txt"
    TX.dump_hf_tokenizer(
        TX.hf_vocab_from_merges(_BPE_EXPORT_MERGES), _BPE_EXPORT_MERGES,
        vp, mp,
    )
    vocab, merges = TX.load_hf_tokenizer(vp, mp)
    d = _util.spread_input(
        cat.table("documents").df.select("doc_id", "text"), spark
    ).select(
        "doc_id", "text",
        F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("bigint").alias("n_tokens"),
    )
    enc = TX.bpe_encode(d, merges=merges)
    # id-map with the LOADED vocab as one plan-literal lookup map
    # (KB-scale config -> literals, the merges broadcast analogue)
    pairs = []
    for tok, vid in sorted(vocab.items(), key=lambda kv: kv[1]):
        pairs.extend([F.lit(tok), F.lit(vid)])
    vmap = F.create_map(*pairs)
    ids = F.transform(
        F.col("bpe_tokens"),
        lambda x: F.coalesce(F.element_at(vmap, x), F.lit(-1)),
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        F.md5(F.encode(F.concat_ws(" ", F.col("bpe_tokens")), "UTF-8"))
        .alias("tokens_md5"),
        F.md5(F.encode(
            F.concat_ws(
                " ", F.transform(ids, lambda i: i.cast("string"))
            ),
            "UTF-8",
        )).alias("ids_md5"),
        F.size(F.filter(ids, lambda i: i == -1))
        .cast("bigint").alias("n_unk"),
        F.lit(len(vocab)).cast("bigint").alias("n_vocab_loaded"),
    )


AUDIO_MP3_SIDEINFO_PROBE_ORACLE = """
    WITH fg AS (
      SELECT d.doc_id, g.f, gr.g,
             CASE d.doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
               ELSE 32000 END AS sr,
             CASE WHEN g.f = 0 THEN 0
                  ELSE (d.doc_id + g.f) % 64 END AS mdb,
             (d.doc_id * 17 + g.f * 31 + gr.g * 7) % 4096 AS p23,
             (d.doc_id * 5 + g.f * 3 + gr.g) % 289 AS bv,
             (d.doc_id * 11 + g.f * 7 + gr.g * 3) % 256 AS gain
      FROM documents d,
           generate_series(0, 8) g(f),
           generate_series(0, 1) gr(g)
      WHERE g.f < d.doc_id % 6 + 3)
    SELECT doc_id AS media_id,
           'mp3' AS media_type,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_frames,
           CAST(MIN(sr) AS INT) AS sample_rate,
           CAST(SUM(CASE WHEN g = 0 THEN mdb ELSE 0 END) AS BIGINT)
             AS sum_main_data_begin,
           CAST(SUM(p23) AS BIGINT) AS sum_part23,
           CAST(SUM(gain) AS BIGINT) AS sum_global_gain,
           CAST(MAX(bv) AS BIGINT) AS max_big_values,
           CAST(SUM(CASE WHEN g = 0 AND mdb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reservoir_frames,
           true AS reservoir_ok,
           true AS ok
    FROM fg GROUP BY doc_id
"""


@query("audio_mp3_sideinfo_probe", oracle=AUDIO_MP3_SIDEINFO_PROBE_ORACLE)
def audio_mp3_sideinfo_probe(spark, sf_dir):
    """L5m2 MP3 side-info + bit-reservoir decode (VERDICT r13
    directive #7b — the frame-header row taken into the frame
    CONTENT): codegen-synthesized valid mono MPEG-1 Layer III
    streams whose every frame carries a REAL bit-packed 17-byte
    side-info block (string bit-concat packing, independent of the
    reader), decoded by parse_mp3_sideinfo inside Arrow-batched
    mapInPandas — 136-bit field unpacking per the public spec
    layout, big_values spec-bound validation, and the bit-reservoir
    back-pointer (main_data_begin) validated against the main-data
    bytes PREVIOUS frames actually banked (capped at the 9-bit 511).
    The oracle replays the whole generative side-info model with
    correlated laterals over (frame, granule) — any packing drift,
    mis-read field, or broken reservoir accounting flips a sum and
    hash-mismatches. Spectral decode (Huffman/IMDCT/filterbank)
    stays the documented executable refusal: decode_mp3_samples
    raises with the ffmpeg swap contract. Map-only, zero shuffle,
    payloads never leave executors."""
    docs = _cat(spark, sf_dir).table("documents").df.select("doc_id")
    # rows-per-task-aware partition sizing from the input's parquet
    # footers (util.stat_partitions, r15): full parallelism at scale,
    # fewer per-task Arrow setups on a tiny gate corpus
    d = docs.repartition(_util.stat_partitions(docs, spark))
    media = multimodal.synthesize_mp3_sideinfo_payloads(d, "doc_id")
    return multimodal.decode_mp3_sideinfo_features(media).select(
        "media_id", "media_type", "n_frames", "sample_rate",
        "sum_main_data_begin", "sum_part23", "sum_global_gain",
        "max_big_values", "n_reservoir_frames", "reservoir_ok", "ok",
    )


DEDUP_SOFT_WEIGHTS_ORACLE = r"""
    WITH f AS (SELECT doc_id,
                      substr(md5(regexp_replace(lower(trim(text)),
                                 '\s+', ' ', 'g')), 1, 2) AS fp
               FROM documents),
    c AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS cluster_size,
                 MIN(doc_id) AS keep_id
          FROM f GROUP BY fp)
    SELECT doc_id, fp, cluster_size,
           CAST(1000000 // cluster_size AS BIGINT) AS weight_u,
           doc_id = keep_id AS is_canonical
    FROM f JOIN c USING (fp)
"""


@query("dedup_soft_weights", oracle=DEDUP_SOFT_WEIGHTS_ORACLE)
def dedup_soft_weights(spark, sf_dir):
    """L1b SOFT deduplication — down-weight duplicates instead of
    dropping them (SoftDedup, Xue et al., ACL 2024; the 1/count
    reweighting is the exact-duplicate base case): every document
    keeps a row, carrying its content-cluster size and the integer
    micro-unit sampling weight 1e6 div size, plus the keep-min
    canonical flag so a hard-dedup consumer can threshold the SAME
    frame (operators.dedup.soft_dedup_weights). The gate corpus has
    no byte-duplicates, so the row passes fp_len=2 — the 2-hex-char
    fingerprint prefix (the doc_fingerprint_prefix idiom) manufactures
    real multi-member clusters whose sizes and weights the oracle
    replays exactly; production uses the full digest, same plan.
    Scale shape: map-only fingerprint, ONE digest-keyed groupBy, and
    a join back on the same key that reuses the groupBy's exchange —
    text never crosses a shuffle. Staged r13 under the one-round-max
    invariant (VERDICT r12 directive #2): flips in r14."""
    d = _cat(spark, sf_dir).table("documents").df
    return dedup.soft_dedup_weights(d, fp_len=2)


def _soft_weights_fuzzy_oracle() -> str:
    """The dedup_jaccard_clusters oracle's CTE chain (shingles ->
    guarded pairs -> recursive closure -> min-label) shared BY
    REFERENCE up to its ``lab`` CTE, with the keeper-window final
    SELECT swapped for cluster sizes + SoftDedup weights — the
    _ivf_pq_oracle_for_batch rewrite precedent, guarded by an
    explicit raise so an upstream oracle edit cannot silently
    desynchronize the twins."""
    marker = "lab AS (SELECT x AS id, MIN(y) AS cluster_id FROM reach GROUP BY x)"
    if DEDUP_JACCARD_CLUSTERS_ORACLE.count(marker) != 1:
        raise ValueError(
            "DEDUP_JACCARD_CLUSTERS_ORACLE no longer contains exactly "
            "one 'lab' CTE marker; update _soft_weights_fuzzy_oracle's "
            "rewrite to match"
        )
    prefix = DEDUP_JACCARD_CLUSTERS_ORACLE.split(marker)[0] + marker
    return prefix + """,
    memb AS (SELECT d.doc_id,
                    CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT)
                      AS cluster_id
             FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
    szs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   MIN(doc_id) AS keep_id
            FROM memb GROUP BY cluster_id)
    SELECT m.doc_id, m.cluster_id, s.cluster_size,
           CAST(1000000 // s.cluster_size AS BIGINT) AS weight_u,
           m.doc_id = s.keep_id AS is_canonical
    FROM memb m JOIN szs s USING (cluster_id)
"""


@query("dedup_soft_weights_fuzzy", oracle=_soft_weights_fuzzy_oracle())
def dedup_soft_weights_fuzzy(spark, sf_dir):
    """L1c SOFT dedup over FUZZY clusters — the full SoftDedup method
    (Xue et al., ACL 2024 weight near-duplicate commonness, not just
    byte-identity): the guarded exact-Jaccard pair row
    (jaccard_ngram_pairs: 3-gram md5 digests, max_df=64, J >= 0.30 —
    the dedup_jaccard_clusters edge source verbatim) is transitively
    closed and every document emits its near-dup cluster size, the
    1e6-div-size sampling weight, and the keep-min canonical flag
    (operators.dedup.soft_weights_from_pairs — the same primitive
    accepts MinHash-LSH or pHash pair frames unchanged). Because the
    edge source is the EXACT set statistic, the whole composition —
    shingles, guard, pair join, transitive closure, sizes, weights —
    is one DuckDB replay with no rows-only step. Scale shape: the
    pair stage is the guarded equi-join (bounded by max_df), CC is
    edge-bounded pointer jumping, the weighting is one label-keyed
    groupBy — text never crosses an exchange after the shingle
    explode. Staged r13 (one-round-max invariant): flips in r14."""
    d = _cat(spark, sf_dir).table("documents").df.select("doc_id", "text")
    pairs = dedup.jaccard_ngram_pairs(
        d, shingle_n=3, min_shared=2, threshold_u=300_000, max_df=64
    )
    return dedup.soft_weights_from_pairs(d, pairs)


DATA_SELECTION_MOORE_LEWIS_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS t
      FROM documents),
    refi AS (SELECT * FROM tok WHERE lang = 'en'),
    refg AS (SELECT * FROM tok WHERE lang <> 'en'),
    rpi AS (SELECT t[g.i] || ' ' || t[g.i + 1] AS gram
            FROM refi, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    bci AS (SELECT gram, COUNT(*) AS c12 FROM rpi GROUP BY gram),
    pci AS (SELECT string_split(gram, ' ')[1] AS w1,
                   CAST(SUM(c12) AS BIGINT) AS pc
            FROM bci GROUP BY 1),
    vi AS (SELECT COUNT(DISTINCT w) AS V FROM (
             SELECT unnest(t) AS w FROM refi) WHERE w <> ''),
    rpg AS (SELECT t[g.i] || ' ' || t[g.i + 1] AS gram
            FROM refg, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    bcg AS (SELECT gram, COUNT(*) AS c12 FROM rpg GROUP BY gram),
    pcg AS (SELECT string_split(gram, ' ')[1] AS w1,
                   CAST(SUM(c12) AS BIGINT) AS pc
            FROM bcg GROUP BY 1),
    vg AS (SELECT COUNT(DISTINCT w) AS V FROM (
             SELECT unnest(t) AS w FROM refg) WHERE w <> ''),
    tp AS (SELECT doc_id, t[g.i] || ' ' || t[g.i + 1] AS gram,
                  t[g.i] AS w1
           FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    sp AS (SELECT doc_id,
                  CAST(floor(-log10((COALESCE(i.c12, 0) + 1.0)
                       / (COALESCE(ip.pc, 0) + vi.V)) * 1000000)
                       AS BIGINT) AS ni,
                  CAST(floor(-log10((COALESCE(g2.c12, 0) + 1.0)
                       / (COALESCE(gp.pc, 0) + vg.V)) * 1000000)
                       AS BIGINT) AS ng
           FROM tp LEFT JOIN bci i USING (gram)
                LEFT JOIN pci ip USING (w1)
                LEFT JOIN bcg g2 USING (gram)
                LEFT JOIN pcg gp USING (w1)
                CROSS JOIN vi CROSS JOIN vg),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(ni) AS BIGINT) AS sum_nll_in_e6,
                  CAST(SUM(ng) AS BIGINT) AS sum_nll_gen_e6
           FROM sp GROUP BY doc_id),
    pd2 AS (SELECT *, CAST((sum_nll_in_e6 // n_bigrams)
                           - (sum_nll_gen_e6 // n_bigrams) AS BIGINT)
                        AS delta_e6
            FROM pd),
    rk AS (SELECT *, row_number() OVER (ORDER BY delta_e6, doc_id) - 1
                     AS r
           FROM pd2)
    SELECT doc_id, n_bigrams, sum_nll_in_e6, sum_nll_gen_e6, delta_e6,
           r < 100 AS selected
    FROM rk
    UNION ALL
    SELECT doc_id, 0, 0, 0, NULL, false FROM tok WHERE len(t) < 2
"""


@query("data_selection_moore_lewis", oracle=DATA_SELECTION_MOORE_LEWIS_ORACLE)
def data_selection_moore_lewis(spark, sf_dir):
    """L34b cross-entropy-difference data selection (Moore & Lewis,
    ACL 2010 — the classic targeted-selection method DSIR
    generalizes; functions.text.moore_lewis_scores): an IN-DOMAIN
    add-one bigram LM fit on the lang='en' slice and a GENERAL one on
    the complement score every document; delta_e6 = mean in-domain
    NLL minus mean general NLL (floor-scaled micro-units, the
    text_lm_perplexity arithmetic verbatim per side), and the 100
    smallest-delta docs — the ones the in-domain model explains best
    relative to the general one — are flagged selected. The oracle
    replays BOTH models, both NLL folds, the delta and the ranked
    cut. Scale shape: one bigram explode feeds both vocabulary-sized
    broadcast models; wide work is the doc-keyed re-aggregation and
    one range sort of the score frame (global_dense_rank — never a
    single-partition window). Staged r13 under the one-round-max
    invariant (VERDICT r12 directive #2): flips in r14."""
    d = _cat(spark, sf_dir).table("documents").df
    return TX.moore_lewis_scores(
        d, F.col("lang") == "en", F.col("lang") != "en", top_n=100
    )
