"""Deduplication operators for LLM training-data pipelines (north-star
EXT; SURVEY.md section 2.10).

Scale design notes (the whole point of these being Spark-first):

- **Exact dedup** is a hash-groupBy — one shuffle on a short
  fixed-width digest (md5), never on the full text. At 100 TB the
  digest shuffle is ~32 bytes/doc regardless of document size.
- **MinHash/LSH** turns O(n^2) pair comparison into band-bucket
  grouping: near-duplicate candidates collide in at least one band
  bucket with high probability, so the only join is an equi-join on
  (band, bucket-signature) — shuffle-friendly, linear in candidates.
- **SimHash** reduces each doc to a 64-bit fingerprint; near-dups are
  fingerprints within small Hamming distance, found by banding the 64
  bits into k chunks (two fingerprints within d bits share an exact
  chunk for k > d) — again an equi-join, no cross product.
- **N-gram Jaccard** here verifies candidate pairs exactly; at scale
  it runs *after* LSH blocking, never as a full self-join. The
  ``blocking_key`` argument is how callers bound the pair space.

Everything below stays in built-in functions (codegen) except the
MinHash signature computation, which uses integer hash arithmetic via
``F.hash``/``xxhash64`` — still JVM-side, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Cached intermediates (minhash/simhash signature frames) are owned by
# the calling thread (util.own) and freed by util.release(). Caching is
# the right call at scale — signatures are ~300 B/doc vs re-scanning
# the full text corpus 3x.
from ..util import is_checkpoint, own, release


def exact_dedup(df: DataFrame, cols: list[str], keep_by: str | None = None) -> DataFrame:
    """Drop exact duplicates over ``cols``. With ``keep_by``, keeps the
    row with the smallest ``keep_by`` per group (deterministic choice,
    unlike ``dropDuplicates`` which keeps an arbitrary row)."""
    if keep_by is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(F.col(keep_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingles of a text column as an array<string>.

    Whitespace tokenization + sliding window via the shared
    shifted-concat formulation (functions.text.sliding_grams — one
    array allocation per pass, not per gram; measured 2x faster
    through the 32-seed MinHash signature stage in round 4). Output
    strings are bit-identical to the old slice-per-gram transform
    (pinned by test_shingles and every minhash/Jaccard oracle).
    """
    from ..functions.text import sliding_grams

    return sliding_grams(F.split(text_col, r"\s+"), n)


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, minhash array) — n_hashes independent min-hashes of the
    shingle set.

    ``hash="xxhash64"`` (default) is the fast scale path: seeded
    JVM-side 8-byte longs. ``hash="md5"`` takes the min over
    ``md5(shingle || ':' || seed)`` hex strings instead — slower, but
    md5 is implemented identically in DuckDB, which makes the full
    signature→band→bucket-join machinery cross-engine replayable (the
    registry's dedup_minhash_md5 differential query; same idiom as
    functions.text.rolling_hash_fingerprint). Lexicographic min over
    lowercase hex equals numeric min over the 128-bit values, so the
    two variants have identical MinHash semantics.

    Computed entirely per-row (``array_min`` over a transformed shingle
    array per seed): ZERO shuffle — an earlier explode+groupBy
    formulation shuffled every (doc, shingle) pair, which at 100 TB is
    a shuffle of the whole corpus's token stream. Map-only stages scale
    with input and parallelism only."""
    sh = F.array_distinct(shingles(F.col(text), shingle_n))
    tmp = df.select(F.col(id_col), sh.alias("__sh"))

    if hash == "xxhash64":
        def hasher(seed: int):
            # single-arg lambda: F.transform passes the array INDEX to a
            # two-arg lambda, which would silently replace the seed
            return lambda s: F.xxhash64(s, F.lit(seed))
    elif hash == "md5":
        def hasher(seed: int):
            return lambda s: F.md5(F.concat(s, F.lit(f":{seed}")))
    else:
        raise ValueError(f"unknown hash {hash!r}; use 'xxhash64' or 'md5'")

    mins = [
        F.array_min(F.transform("__sh", hasher(seed))).alias(f"h{seed}")
        for seed in range(n_hashes)
    ]
    return tmp.select(F.col(id_col), *mins).select(
        id_col, F.array(*[f"h{s}" for s in range(n_hashes)]).alias("minhash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, then exact
    estimated-Jaccard filter on the signatures.

    Returns (a, b, est_jaccard) with a < b. Deterministic: seeded
    hashes, no sampling. The only shuffles are the signature groupBy
    and the band-bucket self-join — no cross product anywhere.
    ``hash="md5"`` selects the cross-engine-replayable signature
    variant (see minhash_signatures).

    ``max_bucket`` is the HOT-BUCKET guard (VERDICT r11 "What's
    wrong" #1): a band bucket with n members emits C(n, 2) candidate
    pairs, so one boilerplate clique thousands deep — real web
    corpora carry them — turns the band join quadratic. With
    ``max_bucket`` set, buckets LARGER than it are dropped whole
    before the self-join (the jaccard_ngram_pairs max_df idiom one
    layer down: a fingerprint shared by "everything" identifies
    nothing), bounding worst-case pair output at
    C(max_bucket, 2) x n_buckets. Recall note: members of a dropped
    mega-bucket usually still pair through their OTHER bands unless
    those are equally hot — i.e. the guard only silences cliques so
    pervasive that every band agrees, which is exactly the
    boilerplate case. Default None preserves the unguarded shape for
    callers that pre-bound their input."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}): "
            "the trailing hashes would be paid for but never banded, "
            "silently lowering recall below the configured curve"
        )
    rows_per_band = n_hashes // bands
    sigs = own(
        minhash_signatures(df, text, id_col, n_hashes, shingle_n, hash=hash).cache()
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.slice("minhash", b * rows_per_band + 1, rows_per_band).alias("sig"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bb")
    )
    if max_bucket is not None:
        # drop whole hot buckets BEFORE the self-join: one window over
        # the same (bb) shuffle key the join needs anyway — no extra
        # shuffle shape, and the count never leaves the executor
        wb = Window.partitionBy("bb")
        buckets = (
            buckets.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
    left = buckets.alias("L")
    right = buckets.alias("R")
    cand = (
        left.join(right, (F.col("L.bb") == F.col("R.bb")) & (F.col("L.id") < F.col("R.id")))
        .select(F.col("L.id").alias("a"), F.col("R.id").alias("b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("a"), F.col("minhash").alias("ma"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("minhash").alias("mb"))
    est = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.size(F.filter(F.zip_with("ma", "mb", lambda x, y: x == y), lambda v: v))
                / F.lit(n_hashes)
            ).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def minhash_band_buckets(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    hash: str = "md5",
) -> DataFrame:
    """Flat (id, band, sig) band-bucket frame — the STORED INDEX
    format of incremental fuzzy dedup: ``bands`` rows per document,
    each carrying that band's signature slice. Persist this frame
    once per corpus (a few tens of bytes per doc) and new batches
    join against it on (band, sig) equality — never re-shingling the
    corpus, the fuzzy counterpart of the exact digest index
    (dedup_incremental). Same validation and banding arithmetic as
    minhash_lsh_pairs; ``hash='md5'`` keeps the whole index
    cross-engine replayable."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}): "
            "the trailing hashes would be paid for but never banded, "
            "silently lowering recall below the configured curve"
        )
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, text, id_col, n_hashes, shingle_n, hash=hash)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.slice("minhash", b * rows_per_band + 1, rows_per_band).alias(
                "sig"
            ),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    blocking_key: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing
    ``blocking_key`` (at scale: an LSH bucket; must be provided to
    bound the pair space — a full self-join is refused).

    Returns (a, b, jaccard) with a < b, jaccard >= threshold.
    """
    if blocking_key is None:
        raise ValueError(
            "ngram_jaccard_pairs requires a blocking_key; an unblocked "
            "self-join is O(n^2) and will not survive at scale — run "
            "minhash_lsh_pairs first and verify its candidates instead"
        )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.col(blocking_key).alias("blk"),
        F.array_distinct(shingles(F.col(text), n)).alias("sh"),
    )
    a = sh.alias("A")
    b = sh.alias("B")
    pairs = a.join(b, (F.col("A.blk") == F.col("B.blk")) & (F.col("A.id") < F.col("B.id")))
    inter = F.size(F.array_intersect(F.col("A.sh"), F.col("B.sh")))
    union = F.size(F.array_union(F.col("A.sh"), F.col("B.sh")))
    return (
        pairs.select(
            F.col("A.id").alias("a"),
            F.col("B.id").alias("b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprints: per-bit +/-1 votes of distinct-token
    hashes, folded back into one long.

    Shape: explode tokens once, hash each token once, then a single
    partial+final HashAggregate with 64 vote columns — one pass over
    the token stream (the earlier formulation ran 64 separate array
    folds per document, re-walking the token array per bit)."""
    masks = [(1 << b) if b < 63 else -(2**63) for b in range(bits)]
    mask_arr = F.array(*[F.lit(m) for m in masks])
    toks = F.array_distinct(F.split(F.col(text), r"\s+"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # one fold over the token hashes, accumulating a 64-slot vote array:
    # map-only (no explode, no shuffle) — at corpus scale the token
    # stream never crosses the network
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, mask_arr, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    fp = F.aggregate(
        F.zip_with(votes, mask_arr, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return df.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: two 64-bit fingerprints within
    ``max_hamming`` bits share at least one of ``chunks`` exact
    ``64/chunks``-bit chunks (pigeonhole, chunks > max_hamming) —
    candidates come from an equi-join on (chunk_index, chunk_value),
    then exact popcount filter.

    Scale note: random-pair chunk collisions scale as
    ``chunks * 2^-(64/chunks)``; keep chunks small (wide chunks) so
    candidate generation stays near-linear. chunks=4 (16-bit) admits
    ~6e-5 of pairs; chunks=8 (8-bit) would admit ~1.4% — quadratic."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for the pigeonhole guarantee")
    fps = own(simhash(df, text, id_col).cache())
    width = 64 // chunks
    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("ci"),
                F.shiftrightunsigned("simhash", c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
            )
            for c in range(chunks)
        ]
    )
    buckets = fps.select(F.col(id_col).alias("id"), F.col("simhash"), F.explode(chunk_cols).alias("ch"))
    l, r = buckets.alias("L"), buckets.alias("R")
    cand = (
        l.join(r, (F.col("L.ch") == F.col("R.ch")) & (F.col("L.id") < F.col("R.id")))
        .select(
            F.col("L.id").alias("a"),
            F.col("R.id").alias("b"),
            F.col("L.simhash").alias("fa"),
            F.col("R.simhash").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph — the cluster
    step that follows candidate-pair dedup (LSH/SimHash emit PAIRS; a
    training pipeline needs one keeper per duplicate CLUSTER, and pair
    chains a~b~c must collapse into one cluster even when a~c was never
    emitted).

    Returns (id, cluster_id) for every node appearing in ``edges``,
    where cluster_id is the minimum node id in the component. Pass a
    dict as ``stats`` to receive {"iterations": n, "converged": bool}
    — the instrument behind the O(log diameter) claim (stress.py times
    convergence on long-chain graphs).

    Algorithm: min-label propagation with pointer jumping, the standard
    shuffle-based CC for Spark (same family as the large-star/small-star
    map-reduce algorithm — Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Each iteration is two equi-joins + a
    groupBy-min (all shuffles on the node id); pointer jumping
    (label <- label[label]) doubles propagation distance per iteration,
    so convergence is O(log diameter) iterations, not O(diameter).
    Iteration is driver-controlled with a convergence check — this is
    the declared iterative-algorithm class, not a hot-path collect.
    The returned frame reads a checkpoint owned by the calling thread
    (util.own); util.release() frees it.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    # materialize the DIRECTED edge list once (eager checkpoint), then
    # derive the undirected view from it: for real pair graphs the
    # edge-producing join (LSH candidates / cosine verify / digest
    # Jaccard) is the dominant cost, and the old union-of-two-branches
    # cache computed that subtree TWICE inside its materializing job
    # (r14 — one full pairs pass saved; guide section 1.2). The union
    # over checkpoint blocks is memory-fast every iteration, so the
    # separate und cache is no longer needed.
    e0 = own(edges.select(
        F.col(a_col).alias("x"), F.col(b_col).alias("y")
    ).localCheckpoint(eager=True))
    und = e0.union(
        e0.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    # initial label: min(self, min neighbor)
    labels = own((
        und.groupBy("x").agg(F.min("y").alias("nbr_min"))
        .select("x", F.least(F.col("x"), F.col("nbr_min")).alias("label"))
    ).cache())
    if stats is not None:
        stats["iterations"] = 0
        stats["converged"] = False
    for _ in range(max_iterations):
        if stats is not None:
            stats["iterations"] += 1
        # propagate: candidate label = min over neighbors' labels
        nbr = (
            und.join(labels.withColumnRenamed("x", "y"), "y")
            .groupBy("x").agg(F.min("label").alias("nbr_label"))
        )
        # cached: referenced twice by the pointer-jump self-join below
        prop = own((
            labels.join(nbr, "x", "left")
            .select("x", F.least("label", F.coalesce("nbr_label", "label")).alias("label"))
        ).cache())
        # pointer jump: label <- label[label]
        #
        # localCheckpoint, not cache: each iteration's plan references the
        # previous one ~4x (jumped -> prop twice, prop -> labels + nbr), so
        # without lineage TRUNCATION the logical plan grows exponentially
        # and the DRIVER dies building plan trees long before any executor
        # works — cache materializes data but keeps the full plan. Eager
        # local checkpoint cuts the plan to a leaf each iteration. On a
        # real cluster with dynamic allocation use
        # spark.sparkContext.setCheckpointDir + .checkpoint() instead
        # (executor loss would drop local blocks).
        jumped = own((
            prop.alias("P")
            .join(
                prop.select(F.col("x").alias("label"), F.col("label").alias("ll")).alias("L"),
                "label",
                "left",
            )
            .select(F.col("x"), F.least(F.col("label"), F.coalesce("ll", "label")).alias("label"))
        ).localCheckpoint(eager=True))
        changed = (
            jumped.alias("N")
            .join(labels.alias("O"), "x")
            .filter(F.col("N.label") != F.col("O.label"))
            .count()
        )
        # jumped is materialized and reads neither: free the superseded
        # label frame (the initial cache or last round's checkpoint)
        release([labels, prop])
        labels = jumped
        if changed == 0:
            if stats is not None:
                stats["converged"] = True
            break
    # the loop ran at least once, so labels is a checkpoint leaf that no
    # longer reads e0's edge-sized blocks: free them NOW instead of at
    # the query boundary (compositions calling CC repeatedly inside one
    # query otherwise accumulate them). labels stays owned: downstream
    # actions read its blocks instead of replaying the loop.
    assert is_checkpoint(labels)
    release([e0])
    return labels.select(F.col("x").alias("id"), F.col("label").alias("cluster_id"))


def simhash_md5_bits(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, bits) — 64-bit SimHash as a '0'/'1' string, votes drawn
    from the first 16 hex chars of md5(token).

    VERIFICATION build of ``simhash``: md5 is implemented identically
    in DuckDB, so the whole vote-fold is cross-engine replayable (the
    registry's dedup_simhash_md5 differential query — same idiom as the
    md5 MinHash twin). The production ``simhash`` stays on xxhash64
    (one 8-byte hash + bitwiseAND per token vs 64 substring/ascii
    extractions per token here); identical SimHash semantics, ~10x the
    per-token expression cost — use this variant for oracles, not
    pipelines."""
    toks = F.array_distinct(F.split(F.col(text), r"\s+"))
    pos = F.array(*[F.lit(b) for b in range(64)])

    def vote(t):
        m = F.md5(t)
        def bit(b):
            ch = m.substr(F.floor(b / 4).cast("int") + F.lit(1), F.lit(1))
            nib = F.when(ch <= "9", F.ascii(ch) - 48).otherwise(F.ascii(ch) - 87)
            return (F.floor(nib / F.pow(F.lit(2.0), F.lit(3) - b % 4)).cast("int")) % 2
        return bit

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(
            acc, pos, lambda a, b: a + F.when(vote(t)(b) == 1, 1).otherwise(-1)
        ),
    )
    bits = F.concat_ws(
        "", F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0"))
    )
    return df.select(F.col(id_col), bits.alias("bits"))


def simhash_md5_near_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """simhash_near_pairs on the md5 bitstring variant: identical
    pigeonhole banding (a pair within max_hamming bits shares at least
    one exact 64/chunks-bit chunk), candidates from a (chunk_index,
    chunk_value) equi-join, exact hamming filter. Fully replayable in
    SQL — see registry.dedup_simhash_md5."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for the pigeonhole guarantee")
    width = 64 // chunks
    fps = own(simhash_md5_bits(df, text, id_col).cache())
    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("ci"),
                F.substring("bits", c * width + 1, width).alias("cv"),
            )
            for c in range(chunks)
        ]
    )
    buckets = fps.select(
        F.col(id_col).alias("id"), F.col("bits"), F.explode(chunk_cols).alias("ch")
    )
    left, right = buckets.alias("L"), buckets.alias("R")
    cand = (
        left.join(right, (F.col("L.ch") == F.col("R.ch")) & (F.col("L.id") < F.col("R.id")))
        .select(
            F.col("L.id").alias("a"),
            F.col("R.id").alias("b"),
            F.col("L.bits").alias("ba"),
            F.col("R.bits").alias("bb"),
        )
        .distinct()
    )
    ham = F.size(
        F.filter(
            F.zip_with(F.split("ba", ""), F.split("bb", ""), lambda x, y: x != y),
            lambda v: v,
        )
    )
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def winnowing_fingerprints(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, fingerprints) — winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003; the MOSS local fingerprinting algorithm): hash every
    k-token gram, slide a window over ``window`` consecutive gram
    hashes, keep the MINIMUM hash per window, dedupe.

    The winnowing guarantee: any substring shared by two documents that
    spans at least ``k + window - 1`` tokens contributes at least one
    IDENTICAL fingerprint to both — so containment detection via
    fingerprint equi-join has no false negatives above that span, at an
    expected fingerprint density of only 2/(window+1) per gram. That
    density bound is what makes this the scale path: fingerprints per
    doc grow linearly with doc length divided by ~(window/2), and
    extraction is entirely per-row HOFs — ZERO shuffle, same contract
    as minhash_signatures.

    Documents with fewer than ``window`` grams emit the single minimum
    gram hash (deterministic boundary, replayable by any engine).
    ``hash="md5"`` selects lexicographic-min over md5 hex strings —
    identical semantics in DuckDB for differential replay, same idiom
    as minhash_signatures.
    """
    grams = shingles(F.col(text), k)
    if hash == "xxhash64":
        gh = F.transform(grams, lambda g: F.xxhash64(g))
    elif hash == "md5":
        gh = F.transform(grams, lambda g: F.md5(g))
    else:
        raise ValueError(f"unknown hash {hash!r}; use 'xxhash64' or 'md5'")
    tmp = df.select(F.col(id_col), gh.alias("__gh"))
    g = F.col("__gh")
    n = F.size(g)
    # Sliding-window min as window-1 element-wise least() passes over
    # shifted copies — measured 3.5x faster than the naive
    # slice-per-window transform (one array allocation per WINDOW).
    # zip_with pads the shorter side with NULLs (it does NOT truncate
    # like Python zip) and least() skips nulls, so the tail holds
    # partial-window minima — the final slice cuts back to the
    # n - window + 1 true windows.
    m = g
    for s in range(1, window):
        m = F.zip_with(
            m,
            F.slice(g, s + 1, F.greatest(n - s, F.lit(0))),
            lambda a, b: F.least(a, b),
        )
    fps = F.when(
        n >= window, F.array_distinct(F.slice(m, 1, n - window + 1))
    ).otherwise(F.array(F.array_min(g)))
    return tmp.select(F.col(id_col), fps.alias("fingerprints"))


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
    hash: str = "xxhash64",
) -> DataFrame:
    """Document-CONTAINMENT pairs — the dedup case Jaccard misses: a
    short document copied inside a much longer one has tiny Jaccard
    (the union is dominated by the long doc) but containment
    |FP(a) ∩ FP(b)| / min(|FP(a)|, |FP(b)|) near 1. Returns
    (a, b, shared, n_a, n_b, containment) with a < b, shared >=
    ``min_shared`` and containment >= ``threshold``.

    Scale shape: winnowed fingerprints explode to (id, fp) rows at
    density 2/(window+1); candidate generation is a self equi-join ON
    THE FINGERPRINT (never a cross product) followed by a (a, b) count
    — both shuffles carry 16-byte rows. ``max_df`` drops fingerprints
    present in more than that many documents BEFORE the join
    (boilerplate headers/footers are exactly the ubiquitous
    fingerprints that would otherwise drive a quadratic hot bucket —
    the same reason TF-IDF down-weights stopwords); the filter is one
    window count over the fingerprint key. Sizes are re-joined from the
    per-doc fingerprint counts, so containment uses each doc's FULL
    fingerprint set even when max_df dropped some from the join.
    """
    # cached: the fingerprint frame feeds sizes + BOTH join sides — four
    # re-evaluations of the (interpreted) HOF chain otherwise, same
    # rationale as minhash_lsh_pairs caching its signatures
    fps = own(
        winnowing_fingerprints(df, text, id_col, k, window, hash).cache()
    )
    shared = _digest_pair_counts(
        fps.select(F.col(id_col).alias("id"), F.col("fingerprints")),
        "fingerprints", min_shared, max_df,
    )
    return (
        shared.withColumn(
            "containment", F.col("shared") / F.least(F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "shared", "n_a", "n_b", "containment")
    )


def _digest_pair_counts(
    fps: DataFrame, digests_col: str, min_shared: int, max_df: int | None
) -> DataFrame:
    """The candidate-pair machinery ``containment_pairs`` and
    ``jaccard_ngram_pairs`` share (split out by the r10 review — the
    two had diverge-prone near-verbatim copies, the same reason
    retrieval.py grew ``bm25_tf_frame``): from an (id, <digest array>)
    frame, return (a, b, shared, n_a, n_b) with a < b and shared >=
    ``min_shared``. Sizes come from the FULL per-doc array; ``max_df``
    drops digests present in more than that many documents BEFORE the
    self-join (the hot-bucket guard), so dropped digests shrink
    ``shared`` but never corrupt the set sizes. Both wide shuffles
    move (id, digest) scalars only — never payloads, never a cross
    product."""
    sizes = fps.select("id", F.size(digests_col).alias("n_fp"))
    ex = fps.select("id", F.explode(digests_col).alias("fp"))
    if max_df is not None:
        w = Window.partitionBy("fp")
        ex = ex.withColumn("__df", F.count(F.lit(1)).over(w)).filter(
            F.col("__df") <= max_df
        ).drop("__df")
    l, r = ex.alias("L"), ex.alias("R")
    shared = (
        l.join(r, (F.col("L.fp") == F.col("R.fp")) & (F.col("L.id") < F.col("R.id")))
        .groupBy(F.col("L.id").alias("a"), F.col("R.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    na = sizes.select(F.col("id").alias("a"), F.col("n_fp").alias("n_a"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n_fp").alias("n_b"))
    return shared.join(na, "a").join(nb, "b")


def ngram_digest_sets(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, __fps) — each document's DISTINCT word-``shingle_n``-gram
    set as md5 digests, the exact-Jaccard universe both
    ``jaccard_ngram_pairs`` (digest self-join regime) and the
    per-pair intersection regime (dedup_jaccard_minhash_agreement)
    read. Split out in r12 so the two regimes share one shingle
    construction and can never drift from the DuckDB replay
    (string_split_regex + 3-gram join + md5). Map-only; callers
    cache."""
    sh = F.array_distinct(
        shingles(F.coalesce(F.col(text), F.lit("")), shingle_n)
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(sh, lambda s: F.md5(s)).alias("__fps"),
    )


def jaccard_ngram_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_shared: int = 2,
    threshold_u: int = 500_000,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs — the set statistic
    ``minhash_lsh_pairs`` ESTIMATES, computed exactly over the distinct
    word-``shingle_n``-gram sets:

        J(a, b) = |S(a) ∩ S(b)| / |S(a) ∪ S(b)|

    Returns (a, b, shared, n_a, n_b, jaccard_u) with a < b, shared >=
    ``min_shared`` and jaccard_u >= ``threshold_u``; ``jaccard_u`` is
    the exact integer floor of 1e6·J (``(1_000_000 * shared) div
    union`` — all-integer, so every emitted value replays bit-for-bit
    in DuckDB; no float leaves the operator). Next to the MinHash row
    this completes the estimate-vs-exact audit pairing: run both at
    the same threshold and the estimate's error distribution is
    directly measurable.

    Scale shape: same as ``containment_pairs`` — distinct shingles
    digest to md5 per row (map-only), candidate generation is a self
    equi-join ON THE DIGEST (never a cross product), and both wide
    shuffles carry 16-byte digests. ``max_df`` drops shingles present
    in more than that many documents BEFORE the join (ubiquitous
    boilerplate grams are exactly the hot buckets that would drive a
    quadratic blowup); set sizes are re-joined from the FULL distinct
    set, so dropped grams shrink ``shared`` (reported honestly) but
    never corrupt |S(a)| or |S(b)|."""
    fps = own(ngram_digest_sets(df, text, id_col, shingle_n).cache())
    shared = _digest_pair_counts(fps, "__fps", min_shared, max_df)
    return (
        shared.select(
            "a", "b",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "jaccard_u",
            F.expr(
                "(CAST(1000000 AS BIGINT) * shared)"
                " div (n_a + n_b - shared)"
            ),
        )
        .filter(F.col("jaccard_u") >= threshold_u)
        .select("a", "b", "shared", "n_a", "n_b", "jaccard_u")
    )


def dedup_pipeline(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    quality=None,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash: str = "xxhash64",
    max_iterations: int = 50,
) -> DataFrame:
    """The composed near-dup removal pipeline a curation run actually
    executes: MinHash-LSH candidate pairs → connected-components
    duplicate clusters → ONE canonical survivor per cluster. Returns
    ``df``'s rows plus (cluster_id, is_kept): filter ``is_kept`` for
    the deduplicated corpus; the full frame is the audit trail
    (which cluster each casualty belonged to and who won).

    Canonical selection: highest ``quality`` expression wins (default
    ``functions.text.quality_score``), ties to the LOWEST id —
    deterministic across partitionings, so re-runs keep the SAME
    representatives (idempotent curation). Docs in no pair are
    singleton clusters (cluster_id = own id, kept).

    Scale shape: every stage is a shape this module already proves —
    map-only signatures, banded equi-join candidates, O(log d)
    pointer-jump CC over id pairs, and one final window over
    cluster_id. The document TEXT is never shuffled; only ids, hashes,
    and the quality scalar move. Signature and CC label frames are
    owned by the calling thread — call ``util.release()`` after
    materializing the result.
    """
    from ..functions.text import quality_score

    pairs = minhash_lsh_pairs(
        df, text, id_col, n_hashes, bands, shingle_n, threshold, hash
    ).select("a", "b")
    clusters = connected_components(pairs, max_iterations=max_iterations)
    q = quality_score(F.col(text)) if quality is None else quality
    scored = df.select(
        F.col(id_col), q.alias("__q")
    ).join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        "__q",
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q").desc(), F.col(id_col).asc()
    )
    keep = scored.withColumn("is_kept", F.row_number().over(w) == 1).select(
        id_col, "cluster_id", "is_kept"
    )
    return df.join(keep, id_col)


def repeated_span_removal(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style cross-document repeated-span removal (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022) at token-window granularity: every ``span``-token window
    whose exact content occurs in at least ``min_docs`` DISTINCT
    documents is cut from ALL of them, and overlapping flagged windows
    merge into maximal removed runs — the substring-level complement
    of document-level MinHash dedup (a boilerplate sentence pasted
    into thousands of otherwise-unique pages survives doc-level dedup
    but not this). Documents shorter than ``span`` tokens contribute
    their whole text as one window (the sliding_grams boundary
    convention), so exact short duplicates vanish entirely.

    Returns (id_col, text, n_tokens, n_removed) with the surviving
    tokens re-joined by single spaces (whitespace-normalized — the
    same contract a tokenizer-bound pipeline consumes); NULL-text
    documents reassemble to '' (the module's NULL-doc convention).

    Scale shape: the window table is the ExactSubstr cost — one row
    per token position — but only (id, pos, md5) crosses the shuffle
    (~48 B/row; window TEXT never moves, digests are computed
    map-side). The duplicate-digest set is corpus-sized in the worst
    case, so it is joined back with a plain shuffle equi-join, NOT a
    broadcast (unlike boilerplate's bounded heavy-hitter set). Flagged
    starts collapse per document (bounded by the document's own
    length), merge into disjoint intervals via one codegen fold, and
    the rebuild slices the gaps between the (sorted, disjoint,
    gap-separated) intervals and flattens — size(intervals)+1
    contiguous copies, O(tokens + intervals) per doc with no
    per-token predicate. Suffix arrays do this with better constants
    on one machine; this is the shape that distributes.
    """
    base = _span_tokens(df, text, id_col)
    # the digest-only window table feeds BOTH the frequency aggregate
    # and the flag join (a self-join shape Spark would otherwise
    # compute twice — the plan showed two full explode+scan subtrees);
    # it is the skinny (id, pos, md5) frame, so caching it is cheap
    windows = own(_span_windows(base, id_col, span).cache())
    hot = (
        windows.groupBy("__d")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__d")
    )
    flagged = windows.join(hot, "__d", "left_semi")
    return _rebuild_without_spans(base, flagged, id_col, text, span)


def repeated_span_removal_withindoc(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span: int = 16,
    min_occurrences: int = 2,
) -> DataFrame:
    """WITHIN-document repeated-span removal — the self-repetition
    half of ExactSubstr (Lee et al. ACL 2022's motivating pathology:
    generated/scraped documents that loop the same passage): every
    ``span``-token window whose exact content occurs at least
    ``min_occurrences`` times INSIDE one document keeps its FIRST
    occurrence and is cut everywhere else in that document,
    overlapping flagged windows merging into maximal removed runs.
    Complements ``repeated_span_removal`` (cross-document, min_docs
    distinct docs, cut from ALL of them): run both for full
    ExactSubstr coverage. Same output contract — (id_col, text,
    n_tokens, n_removed), whitespace-normalized reassembly, NULL
    text folds to ''.

    Scale shape: strictly LIGHTER than the cross-doc pass — the same
    one-row-per-token-position window table, but frequency and
    first-occurrence are computed with window functions partitioned
    by (doc, digest), so the only wide exchange is ONE shuffle keyed
    by document+digest (no corpus-wide duplicate-digest set, no
    second join back); per-partition groups are bounded by a single
    document's repeat count. The rebuild is the shared gap-slice
    fold: O(tokens + intervals) per doc, map-only."""
    from pyspark.sql import Window as W

    base = _span_tokens(df, text, id_col)
    windows = _span_windows(base, id_col, span)
    spec = W.partitionBy(id_col, "__d")
    flagged = (
        windows.withColumn("__c", F.count(F.lit(1)).over(spec))
        .withColumn("__mn", F.min("__pos").over(spec))
        .filter(
            (F.col("__c") >= min_occurrences)
            & (F.col("__pos") > F.col("__mn"))
        )
        .select(id_col, "__pos")
    )
    return _rebuild_without_spans(base, flagged, id_col, text, span)


def _span_tokens(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """(id, __toks) token frame shared by the repeated-span passes.
    NULL text folds into the empty-text path up front (split(NULL)
    yields a NULL array whose size poisons every downstream count):
    a NULL doc behaves exactly like '' — one empty token, removable
    if its window is duplicated, n_tokens = 1."""
    toks = F.split(F.coalesce(F.col(text), F.lit("")), r"\s+")
    return df.select(F.col(id_col), toks.alias("__toks"))


def _span_windows(base: DataFrame, id_col: str, span: int) -> DataFrame:
    """The skinny (id, pos, md5-digest) window table — one row per
    token position, computed map-side so window TEXT never crosses a
    shuffle (~48 B/row is the ExactSubstr cost)."""
    from ..functions.text import sliding_grams

    return base.select(
        id_col,
        F.posexplode(sliding_grams(F.col("__toks"), span)).alias(
            "__pos", "__gram"
        ),
    ).select(id_col, "__pos", F.md5(F.col("__gram")).alias("__d"))


def _rebuild_without_spans(
    base: DataFrame, flagged: DataFrame, id_col: str, text: str, span: int
) -> DataFrame:
    """Shared tail of the repeated-span passes: collapse flagged
    window starts per document, merge overlapping windows into
    disjoint intervals with one codegen fold, and rebuild the kept
    text by slicing the gaps between intervals."""
    starts = flagged.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__pos")).alias("__starts")
    )
    marked = base.join(starts, id_col, "left").select(
        id_col,
        "__toks",
        F.coalesce("__starts", F.array().cast("array<int>")).alias("__starts"),
    )
    ntok = F.size(F.col("__toks"))
    hi_of = lambda s: F.least(s + span - 1, ntok - 1)  # noqa: E731
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
    with_iv = marked.select(id_col, "__toks", intervals.alias("__iv"))

    # Rebuild by slicing the GAPS between intervals: the merge fold
    # above guarantees __iv is sorted, disjoint, and gap-separated
    # (any start within hi+1 of the previous interval was merged), so
    # the kept text is exactly the concatenation of the token slices
    # between consecutive intervals — gap j spans
    # (iv[j-1].hi, iv[j].lo) with virtual sentinels hi=-1 before the
    # first interval and lo=n_tokens after the last. size(__iv)+1
    # slices, each a contiguous copy: O(tokens + intervals) per doc
    # with no per-token predicate and no quadratic accumulator growth
    # (an aggregate() that appends to its accumulator re-copies it
    # every step — the shape this replaces).
    nt = F.size(F.col("__toks"))

    def gap_slice(j):
        # j counts gaps 0..size(__iv); interval indices are 1-based
        prev_hi = F.when(
            j > 0, F.try_element_at(F.col("__iv"), j)["hi"]
        ).otherwise(F.lit(-1))
        next_lo = F.coalesce(
            F.try_element_at(F.col("__iv"), j + 1)["lo"], nt
        )
        return F.slice(
            F.col("__toks"),
            prev_hi + 2,  # slice() is 1-based; first kept token is hi+1
            F.greatest(F.lit(0), next_lo - prev_hi - 1),
        )

    kept = F.flatten(
        F.transform(F.sequence(F.lit(0), F.size(F.col("__iv"))), gap_slice)
    )
    n_removed = F.aggregate(
        F.col("__iv"),
        F.lit(0),
        lambda acc, iv: acc + iv["hi"] - iv["lo"] + 1,
    )
    return with_iv.select(
        id_col,
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias(text),
        F.coalesce(F.size("__toks"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(n_removed, F.lit(0)).cast("bigint").alias("n_removed"),
    )


def line_dedup_keep_first(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 3,
) -> DataFrame:
    """L38 corpus-level line deduplication (the CCNet / C4 span-dedup
    stage: drop every repeated line across the WHOLE corpus, keeping
    only its first occurrence) with per-document survivor stats and a
    reassembly digest:

      n_lines     — lines in the document
      n_kept      — lines surviving corpus-wide keep-first
      kept_chars  — characters across kept lines
      kept_md5    — md5 of the kept lines re-joined in position order
                    (the md5-twin idiom: one 32-char digest proves the
                    full reassembled text without shipping it)

    The corpus is newline-free, so "lines" are derived
    deterministically as chunks of ``line_tokens`` whitespace tokens
    (3295 of 7643 line occurrences are corpus-duplicated at sf0.001 —
    the op is heavily engaged). "First" is total-ordered: the minimal
    (doc_id, position) occurrence of each exact line text survives;
    all later occurrences are dropped, exactly CCNet's rule.

    Scale shape: ONE wide shuffle keyed by the line text (the window
    partition), then one keyed by doc for reassembly — the CCNet
    shape. At 100 TB the window key would be a 16-byte line digest
    (md5) rather than the raw string to cut shuffle width; the raw
    key is kept here so the oracle replay is byte-transparent, and
    the swap is a one-line change. Skewed hot lines (boilerplate)
    are handled by AQE skew-split; the per-line state is one
    row_number, never a collected list."""
    t = F.coalesce(F.col(text), F.lit(""))
    toks = F.split(t, r"\s+")
    lines = df.select(F.col(id_col), toks.alias("__toks")).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(__toks) + {line_tokens} - 1)"
                f" div {line_tokens}),"
                f" i -> array_join(slice(__toks, (i - 1) * {line_tokens} + 1,"
                f" {line_tokens}), ' '))"
            )
        ).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("pos"))
    flagged = lines.withColumn("__rn", F.row_number().over(w))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.count_if(F.col("__rn") == 1).cast("bigint").alias("n_kept"),
            F.sum(
                F.when(F.col("__rn") == 1, F.length("line")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("kept_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__rn") == 1,
                                    F.struct(F.col("pos"), F.col("line")),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
    )


def soft_dedup_weights(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    fp_len: int = 32,
) -> DataFrame:
    """Soft deduplication — DOWN-WEIGHT duplicates instead of dropping
    them (public provenance: SoftDedup, Xue et al., ACL 2024 — keep
    every copy but shrink its sampling weight so the training
    distribution matches the deduplicated one; the 1/count reweighting
    is the exact-duplicate base case of their commonness weighting).
    Cluster key = the content fingerprint (functions.text.fingerprint,
    md5 of whitespace-normalized lowercased text) truncated to
    ``fp_len`` hex chars; per document emit its cluster size, the
    integer micro-unit sampling weight ``weight_u = 1e6 div size``
    (every copy in an n-cluster carries ~1/n of a full weight — the
    cluster's total stays ~1e6 regardless of duplication depth), and
    ``is_canonical`` (the keep-min representative, so a hard-dedup
    consumer can threshold the same frame). Short ``fp_len`` values
    coarsen the cluster key — the registered gate row passes fp_len=2
    (the doc_fingerprint_prefix idiom) because the synthetic corpus
    has no true byte-duplicates; production uses the full digest.

    Scale shape: fingerprint is map-only; cluster sizes are ONE
    groupBy on the (<=16-byte) digest key; the join back to documents
    is keyed by the same digest, so the groupBy's exchange is reused
    (no second corpus shuffle); document text never crosses an
    exchange."""
    from ..functions.text import fingerprint

    fp = fingerprint(F.col(text), fp_len)
    keyed = df.select(F.col(id_col), fp.alias("fp"))
    sizes = keyed.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.min(id_col).alias("__keep"),
    )
    return keyed.join(sizes, "fp").select(
        id_col,
        "fp",
        "cluster_size",
        F.expr("CAST(1000000 AS BIGINT) div cluster_size")
        .cast("bigint")
        .alias("weight_u"),
        (F.col(id_col) == F.col("__keep")).alias("is_canonical"),
    )


def soft_weights_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """SoftDedup's commonness weighting over ANY duplicate-pair
    source (the fuzzy generalization of :func:`soft_dedup_weights` —
    SoftDedup, Xue et al., ACL 2024 weight near-duplicate clusters,
    not just byte-identical ones): take a pair frame ``(a, b)`` from
    any detector — exact-Jaccard (jaccard_ngram_pairs), MinHash-LSH
    (minhash_lsh_pairs), pHash groups — close it transitively with
    :func:`connected_components`, and emit every document's
    near-dup cluster size, the sampling weight ``1e6 div size``, and
    the keep-min canonical flag. Documents in no pair are their own
    singleton cluster at full weight, so the output is a total
    weighting of the corpus a sampler can join directly.

    Scale shape: CC is the pointer-jumping operator (edge-bounded,
    O(log diameter) rounds); sizes are ONE groupBy on the cluster
    label; both joins are keyed by id/label scalars — document text
    never enters this operator at all."""
    cc = connected_components(pairs.select("a", "b"))
    lab = cc.select(F.col("id").alias(id_col), "cluster_id")
    memb = docs.select(id_col).join(lab, id_col, "left").select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col))
        .cast("bigint")
        .alias("cluster_id"),
    )
    sizes = memb.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.min(id_col).alias("__keep"),
    )
    return memb.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        F.expr("CAST(1000000 AS BIGINT) div cluster_size")
        .cast("bigint")
        .alias("weight_u"),
        (F.col(id_col) == F.col("__keep")).alias("is_canonical"),
    )
