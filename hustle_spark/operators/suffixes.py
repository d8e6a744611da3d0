"""Distributed suffix array + LCP + repeated-substring groups.

The CHARACTER-level half of ExactSubstr (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL 2022, build a byte
suffix array of the whole corpus and cut repeats >= 50 bytes):
``operators.dedup.repeated_span_removal`` covers token-window repeats
at one fixed width; this module finds EXACT repeated substrings of any
length >= a threshold, with their suffix-array interval, occurrence
and document counts — the sub-span repeats a fixed window width
cannot see.

Spark-first construction — prefix doubling (Manber–Myers), the suffix
array algorithm whose inner loop IS a distributed sort:

- one row per (doc, pos) suffix; suffixes never cross document
  boundaries (equivalently: corpus concatenation with per-document
  unique sentinels, the Lee et al. layout),
- round 0 ranks every suffix by its first ``prefix_cap`` characters
  directly (one global dense rank over the carried prefix — skipping
  log2(prefix_cap) doubling rounds),
- round k sorts (rank[pos], rank[pos + h]) pairs and re-ranks,
  doubling h, until every rank is distinct or h covers the longest
  document — O(log max_doc_len) rounds, each one doc-partitioned
  window (lead) plus one range-partitioned global dense rank,
- global dense rank never funnels through a single partition: range
  repartition -> per-partition dense_rank -> closed-form offsets from
  the <= shuffle_partitions per-partition distinct counts (a bounded
  driver collect, same class as connected_components' convergence
  check).

LCP between rank-adjacent suffixes is computed from the carried
``prefix_cap``-character prefixes (codegen zip_with; exact up to the
cap, reported as min(true LCP, cap)) — the bounded-LCP contract that
avoids Kasai's sequential pass and per-level rank matrices.

Carried-bytes-per-position accounting (the r9 width cut): the prefix
rides exactly TWO stages — the one SA range sort (where it is the
sort key) and the LCP self-join — at ~(24 + prefix_cap) bytes/row;
every stage after the LCP projection (the frozen member frame, the
member dense rank, the boundary running sum, the group/mark
aggregations) carries only (id, pos, rank, lcp_prev) scalars,
~24 bytes/row — a ~2-3x shuffle/spill cut at cap 24-40 on the
corpus-sized scans, and the group sample text is re-derived at the
end from a broadcast join of the (few) groups against one docs scan.
Lee et al. pay 8 bytes/byte for the in-memory SA; one scalar row per
character position is the same honest cost, distributed.

Scale shape: every wide operation is an equi-join or a range sort on
scalar keys; per-round frames are localCheckpoint'ed (the
connected_components lineage idiom) so plans stay flat across rounds.
Within-doc windows mean one task sees one document's positions —
shard pathologically long documents upstream (the module treats a
document as the parallelism atom, exactly like the token-window
passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import global_dense_rank as _global_dense_rank
from ..util import global_running_sum as _running_sum


def suffix_positions(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    prefix_cap: int = 64,
) -> DataFrame:
    """One row per suffix: (id, pos, __prefix) where pos is 0-based and
    __prefix carries the first ``prefix_cap`` characters of the suffix
    (computed map-side while the document text is in hand — the only
    place text is touched). NULL and empty documents contribute no
    suffixes (nothing to repeat). The prefix is the module's working
    payload: ranking round 0, capped LCP, and the reported sample text
    all come from it."""
    from ..util import spread_input

    t = F.coalesce(F.col(text), F.lit(""))
    return (
        spread_input(df, df.sparkSession)
        .select(F.col(id_col), t.alias("__t"))
        .filter(F.length("__t") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.length("__t") - 1)).alias(
                "__pos"
            ),
            F.col("__t"),
        )
        .select(
            id_col,
            F.col("__pos").cast("int").alias("pos"),
            F.expr(f"substring(__t, __pos + 1, {int(prefix_cap)})").alias(
                "__prefix"
            ),
        )
    )


def suffix_array(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    prefix_cap: int = 64,
    max_rounds: int = 32,
) -> DataFrame:
    """Corpus-wide suffix array: (id, pos, __prefix, rank) with rank a
    0-based GLOBAL lexicographic index over every suffix of every
    document, ties between byte-identical suffixes broken by
    (id, pos) — exactly ``ORDER BY suffix, id, pos`` in an oracle
    engine. A suffix that is a proper prefix of another sorts first
    (the unique-sentinel convention: absent continuation ranks below
    every real rank).

    Prefix doubling with a ``prefix_cap``-character head start; rounds
    end when all ranks are distinct (checked per round — the
    iterative-algorithm class, like connected_components) or h covers
    the longest document. Each round: lead(rank, h) inside the doc
    partition, one global dense rank on the (rank, next-rank) pair,
    and a localCheckpoint to keep the plan flat."""
    base = suffix_positions(df, text=text, id_col=id_col, prefix_cap=prefix_cap)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.length("__prefix")).alias("maxp"),
    ).collect()[0]
    n = stats["n"]
    cur = _global_dense_rank(base, ["__prefix"], "rank")
    if n == 0:
        return cur
    max_len_row = (
        df.select(F.max(F.length(F.coalesce(F.col(text), F.lit("")))).alias("m"))
        .collect()[0]
    )
    max_len = max_len_row["m"] or 0
    h = int(prefix_cap)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    for _ in range(max_rounds):
        distinct = cur.agg(F.max("rank").alias("mx")).collect()[0]["mx"]
        if distinct == n - 1 or h >= max_len:
            break
        paired = cur.withColumn(
            "__r2", F.coalesce(F.lead("rank", h).over(w_doc), F.lit(-1))
        )
        cur = _global_dense_rank(
            paired, ["rank", "__r2"], "__nr"
        ).drop("rank", "__r2").withColumnRenamed("__nr", "rank")
        h *= 2
    # final total order: byte-equal suffixes tie on rank; break by
    # (id, pos) so rank becomes a unique 0-based index, matching the
    # oracle's ORDER BY suffix, id, pos
    return (
        _global_dense_rank(cur, ["rank", id_col, "pos"], "__u")
        .drop("rank")
        .withColumnRenamed("__u", "rank")
    )


def suffix_array_capped(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    prefix_cap: int = 64,
) -> DataFrame:
    """CAP-ORDER suffix array: rank orders by (__prefix, id, pos) —
    ONE global range sort, no doubling rounds. For every consumer
    whose logic is bounded by ``prefix_cap`` this is EQUIVALENT to the
    full-suffix order, by this argument (the r8 measured win — the
    doubling loop was 6 full-corpus sort+checkpoint rounds at sf0.1
    that contribute nothing to cap-bounded consumers):

    - A suffix shorter than the cap IS its own prefix, so a prefix
      that is a proper prefix of another names a class of exactly-
      equal strings; lexicographic order therefore keeps every
      cap-prefix tie class CONTIGUOUS in the full-suffix order too,
      and the classes appear in the same (prefix-string) order.
    - The two orders thus differ only by a permutation WITHIN tie
      classes. Capped LCP between rank-adjacent suffixes is a class-
      level constant (equal prefixes inside a class; the boundary
      pair's LCP depends only on the two classes' prefixes), so
      member sets, island runs, group intervals, their start indices
      (= MIN(rank)), counts, repeat lengths, and removal marks are
      all identical under either order.

    Consumers that need the TRUE full-suffix order beyond the cap
    (none in this module's public surface) use ``suffix_array``."""
    from pyspark import StorageLevel

    base = suffix_positions(df, text=text, id_col=id_col, prefix_cap=prefix_cap)
    # DISK_ONLY: one row per character with the carried prefix is the
    # module's one corpus-sized frame — in memory it crowds out the 32
    # concurrent sort buffers (the r8 sf1 OOM in the 8g local heap)
    return _global_dense_rank(
        base, ["__prefix", id_col, "pos"], "rank",
        checkpoint_storage=StorageLevel.DISK_ONLY,
    )


def _capped_lcp(a, b):
    """Common-prefix length of two (already cap-bounded) strings in
    pure codegen: zip the character arrays, find the first mismatch.
    zip_with pads the shorter side with NULL, and NULL != ch yields
    NULL (not false), so the first FALSE is always a genuine mismatch
    and a fully-matching shorter string falls through to min(len)."""
    za = F.split(a, "(?!^)")
    zb = F.split(b, "(?!^)")
    eq = F.zip_with(za, zb, lambda x, y: x == y)
    first_false = F.array_position(eq, F.lit(False))
    return F.when(
        first_false > 0, (first_false - 1).cast("int")
    ).otherwise(F.least(F.length(a), F.length(b)).cast("int"))


def lcp_adjacent(sa: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Adds ``lcp_prev``: the capped LCP between each suffix and its
    rank-predecessor (NULL for rank 0). Rank-adjacency is a plain
    self-equi-join on rank (ranks are unique integers), not a global
    window — the shuffle is on a scalar key."""
    prev = sa.select(
        (F.col("rank") + 1).alias("rank"), F.col("__prefix").alias("__pprefix")
    )
    return sa.join(prev, "rank", "left").withColumn(
        "lcp_prev",
        F.when(
            F.col("__pprefix").isNotNull(),
            _capped_lcp(F.col("__prefix"), F.col("__pprefix")),
        ),
    ).drop("__pprefix")


def repeated_substring_groups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
    min_docs: int = 2,
    prefix_cap: int = 64,
) -> DataFrame:
    """Right-maximal repeated substrings of length >= ``min_len``
    characters, straight off the suffix array: every maximal run of
    rank-consecutive suffixes whose adjacent capped LCPs all reach
    ``min_len`` is one GROUP — the occurrences of a shared substring of
    length >= min_len (the suffix-array interval of that substring).
    Groups are filtered to those spanning >= ``min_docs`` distinct
    documents (cross-document repeats; set min_docs=1 to include
    within-document self-repeats).

    Returns one row per group:
      group_id     — rank of the group's first suffix (stable),
      n_occ        — number of occurrences (suffixes in the interval),
      n_docs       — distinct documents touched,
      repeat_len   — min(true shared length, prefix_cap): the minimum
                     adjacent LCP over the interval, saturating at the
                     cap (a group whose repeat_len == prefix_cap may
                     share arbitrarily more),
      sample       — the shared substring itself, to repeat_len chars.

    GRAM-CLASS FORMULATION (r14 — the optimization that removes the
    corpus-wide position sort): an adjacent capped LCP >= min_len means
    the two suffixes agree on their first min_len characters, i.e.
    share their min_len-GRAM (LCP >= min_len requires both suffixes to
    carry >= min_len chars, and then it IS gram equality). Suffixes
    with equal grams are CONTIGUOUS in the (cap-prefix, id, pos) order
    — truncation is monotone, so any suffix sorting between two
    class members shares their gram and is itself a member. Therefore:

    - members  = suffixes whose gram class has >= 2 occurrences,
    - islands  = exactly the gram classes (internal edges all >=
      min_len by gram equality; class boundaries always split because
      a differing gram caps the edge LCP below min_len; rank gaps
      cannot occur inside a contiguous class),
    - group_id = MIN(rank) over the class = the number of suffixes
      whose min_len-TRUNCATED suffix string sorts strictly below the
      gram (classes occupy contiguous rank intervals in gram order;
      a suffix shorter than min_len that prefixes the gram compares
      below it, matching the shorter-suffix-first sentinel
      convention) — an exclusive prefix sum of per-gram position
      counts in gram order,
    - repeat_len / sample need the cap-prefix only WITHIN qualifying
      classes (min over adjacent-member capped LCPs; when
      prefix_cap == min_len they are the constants min_len / gram and
      the member pass is skipped entirely).

    The plan is one gram aggregation plus one range sort of the
    DISTINCT-gram count table — no corpus-position sort, no LCP
    self-join, no member rank, no running-sum scan (the r13 shape:
    9.0 s at sf0.1; the guide section 2.3-2.4 shuffle-removal pass).

    Scale shape: the wide operations are a hash aggregation keyed on
    the gram and a range sort of the deduplicated gram table;
    qualifying-class member work is proportional to true repeats."""
    base = suffix_positions(df, text=text, id_col=id_col, prefix_cap=prefix_cap)
    pos = base.withColumn(
        "__gram",
        F.col("__prefix") if prefix_cap == min_len
        else F.expr(f"substring(__prefix, 1, {int(min_len)})"),
    )
    # per-gram totals over ALL positions (short tail grams included:
    # they cannot form classes but their counts place every class's
    # rank interval); exclusive prefix sum in gram order = MIN(rank)
    cnt = pos.groupBy("__gram").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    cum = _running_sum(cnt, "__gram", "n_occ", "__cum")
    classes = cum.withColumn(
        "group_id", (F.col("__cum") - F.col("n_occ")).cast("bigint")
    ).filter(
        (F.length("__gram") == min_len)
        & (F.col("n_occ") >= 2)
        & (F.col("n_docs") >= min_docs)
    )
    if prefix_cap == min_len:
        # cap-saturated special case: every internal edge's capped LCP
        # is exactly min_len and the shared sample IS the gram
        return classes.select(
            "group_id",
            "n_occ",
            "n_docs",
            F.lit(int(min_len)).cast("int").alias("repeat_len"),
            F.col("__gram").alias("sample"),
        )
    # general case: min adjacent capped LCP + first member's prefix,
    # computed only over members of qualifying classes
    mem = pos.join(classes.select("__gram"), "__gram", "left_semi")
    w_cls = Window.partitionBy("__gram").orderBy("__prefix", id_col, "pos")
    edged = mem.withColumn("__pp", F.lag("__prefix").over(w_cls))
    stats = (
        edged.withColumn(
            "__lcp",
            F.when(
                F.col("__pp").isNotNull(),
                _capped_lcp(F.col("__prefix"), F.col("__pp")),
            ),
        )
        .groupBy("__gram")
        .agg(
            F.min("__lcp").alias("__rl"),
            F.min(F.struct(F.col("__prefix").alias("p"))).alias("__first"),
        )
    )
    return classes.join(stats, "__gram").select(
        "group_id",
        "n_occ",
        "n_docs",
        F.col("__rl").cast("int").alias("repeat_len"),
        F.expr("substring(__first.p, 1, __rl)").alias("sample"),
    )


def repeated_substring_removal(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
    min_docs: int = 2,
    prefix_cap: int = 64,
) -> DataFrame:
    """Character-exact ExactSubstr CUT (Lee et al. ACL 2022): every
    character covered by a substring of length >= ``min_len`` that
    repeats across >= ``min_docs`` distinct documents is removed from
    ALL of them — the char-level complement of
    ``dedup.repeated_span_removal``'s token windows, with exact repeat
    boundaries from the suffix array instead of window-width rounding.
    Set min_docs=1 to also cut within-document self-repeats.

    Coverage is cap-independent: every suffix position inside a long
    repeat is its own member, and each member marks only
    [pos, pos + min_len) — the union of those windows tiles the whole
    repeat exactly, so ``prefix_cap`` only needs to be >= min_len for
    DETECTION, never for cut length.

    Returns (id_col, text, n_chars, n_removed): surviving text with
    the removed intervals' characters deleted (gap concatenation — no
    whitespace normalization; character offsets are the contract
    here), original char count, chars removed. Documents with nothing
    flagged pass through verbatim; NULL text folds to ''.

    GRAM-CLASS FORMULATION (r14, see repeated_substring_groups): a
    member is a suffix whose min_len-gram class has >= 2 occurrences,
    and island qualification (>= min_docs distinct documents) is the
    class's distinct-document count — the cut never consults ranks,
    LCP values, or the cap-prefix, so the whole corpus-position sort,
    LCP self-join, member rank and running-sum scan of the r13 shape
    (10.3 s at sf0.1) collapse into ONE gram-keyed window pass (the
    same shuffle key the class stats need; guide section 2.3-2.4).
    ``prefix_cap`` only bounds DETECTION (capped LCP < min_len when
    cap < min_len finds no members — preserved explicitly); it never
    widens a row here.

    Scale shape: one hash shuffle of (id, pos, gram) scalars keyed on
    the gram; marks collapse per document (bounded by the doc's own
    length), merge into disjoint intervals via the same codegen fold
    as the token pass, and the rebuild is size(intervals)+1 substring
    copies."""
    from ..util import spread_input

    base = df.select(
        F.col(id_col), F.coalesce(F.col(text), F.lit("")).alias("__t")
    )
    if prefix_cap < min_len:
        # capped LCP can never reach min_len: no members, no cuts —
        # the r13 shape's behavior, kept explicit
        return base.select(
            id_col,
            F.col("__t").alias(text),
            F.length("__t").cast("bigint").alias("n_chars"),
            F.lit(0).cast("bigint").alias("n_removed"),
        )
    t = F.coalesce(F.col(text), F.lit(""))
    pos = (
        spread_input(df, df.sparkSession)
        .select(F.col(id_col), t.alias("__t"))
        .filter(F.length("__t") >= min_len)
        .select(
            id_col,
            # only positions carrying a FULL min_len-gram can be
            # members; tail positions' short grams form their own
            # (never-qualifying) classes, so dropping them map-side
            # changes nothing downstream
            F.explode(
                F.sequence(F.lit(0), F.length("__t") - int(min_len))
            ).alias("__pos"),
            F.col("__t"),
        )
        .select(
            id_col,
            F.col("__pos").cast("int").alias("__lo"),
            F.expr(f"substring(__t, __pos + 1, {int(min_len)})").alias(
                "__gram"
            ),
        )
    )
    # membership via a groupBy stats frame + semi-join, NOT a
    # whole-partition window (r15, guide section 2.5): count/collect_set
    # over Window.partitionBy(gram) puts EVERY occurrence of one gram in
    # a single task and materializes the per-gram doc set per partition
    # — a ubiquitous boilerplate gram (whitespace runs, HTML fragments)
    # is a classic hot key at corpus scale. The aggregation gets
    # map-side partial combine and the semi-join is skew-splittable by
    # AQE (the build side carries one row per qualifying gram).
    # Same shape repeated_substring_groups already uses for its stats.
    if min_docs >= 2:
        # nd >= min_docs >= 2 implies n_occ >= 2, so qualification is
        # a pure distinct-(gram, doc) count. Grams are deduped PER
        # DOCUMENT map-side (array_distinct over the doc's own gram
        # array — state bounded by one document, the HOF-work class),
        # so the one stats shuffle carries one row per (doc, distinct
        # gram) into a map-side-combined count — no corpus-wide
        # hash-distinct state, no second exchange. NULL-id documents
        # count toward no gram's distinct-document total (the
        # collect_set(id) semantics this count replaced)
        doc_grams = (
            spread_input(df, df.sparkSession)
            .select(F.col(id_col), t.alias("__t"))
            .filter(F.col(id_col).isNotNull() & (F.length("__t") >= min_len))
            .select(
                id_col,
                F.explode(
                    F.array_distinct(
                        F.expr(
                            f"transform(sequence(0, length(__t) - {int(min_len)}),"
                            f" i -> substring(__t, i + 1, {int(min_len)}))"
                        )
                    )
                ).alias("__gram"),
            )
        )
        qual = (
            doc_grams.groupBy("__gram")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__gram")
        )
    else:
        # min_docs <= 1: every repeated gram qualifies regardless of
        # document spread — a plain map-side-combined occurrence count
        qual = (
            pos.groupBy("__gram")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("__gram")
        )
    members = pos.join(qual, "__gram", "left_semi")
    marks = (
        members.select(F.col(id_col), F.col("__lo"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__lo")).alias("__starts"))
    )
    withs = base.join(marks, id_col, "left").select(
        id_col,
        "__t",
        F.coalesce("__starts", F.array().cast("array<int>")).alias("__starts"),
    )
    nch = F.length("__t")
    hi_of = lambda s: F.least(s + min_len - 1, nch - 1)  # noqa: E731
    # same merge fold as the token pass: sorted starts collapse into
    # sorted, disjoint, gap-separated [lo, hi] intervals
    intervals = F.aggregate(
        F.col("__starts"),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            F.try_element_at(acc, F.lit(-1)).isNotNull()
            & (s <= F.try_element_at(acc, F.lit(-1))["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.try_element_at(acc, F.lit(-1))["lo"].alias("lo"),
                        F.greatest(
                            F.try_element_at(acc, F.lit(-1))["hi"], hi_of(s)
                        ).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("lo"), hi_of(s).cast("int").alias("hi")
                    )
                ),
            )
        ),
    )
    with_iv = withs.select(id_col, "__t", intervals.alias("__iv"))

    def gap_piece(j):
        prev_hi = F.when(
            j > 0, F.try_element_at(F.col("__iv"), j)["hi"]
        ).otherwise(F.lit(-1))
        next_lo = F.coalesce(
            F.try_element_at(F.col("__iv"), j + 1)["lo"], F.length("__t")
        )
        return F.col("__t").substr(
            prev_hi + 2, F.greatest(F.lit(0), next_lo - prev_hi - 1)
        )

    kept = F.array_join(
        F.transform(F.sequence(F.lit(0), F.size(F.col("__iv"))), gap_piece),
        "",
    )
    n_removed = F.aggregate(
        F.col("__iv"),
        F.lit(0),
        lambda acc, iv: acc + iv["hi"] - iv["lo"] + 1,
    )
    return with_iv.select(
        id_col,
        kept.alias(text),
        F.length("__t").cast("bigint").alias("n_chars"),
        F.coalesce(n_removed, F.lit(0)).cast("bigint").alias("n_removed"),
    )
