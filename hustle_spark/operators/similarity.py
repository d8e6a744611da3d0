"""Embedding similarity search (north-star EXT; SURVEY.md section 2.10 L3).

Two tiers, as a real pipeline would deploy them:

- **Brute-force cosine top-k** — exact baseline. For a *small query
  set* against a huge corpus this is a broadcast join (query side
  broadcast, corpus streamed, no shuffle of the corpus) followed by a
  per-query top-k window. Linear in corpus size; the right choice
  whenever queries are few.
- **LSH-bucketed ANN** (random hyperplane signatures) — the scale path
  for all-pairs / many-query workloads: cosine-similar vectors collide
  in signature buckets, so candidate generation is an equi-join on
  (table, band signature). Probes multiple hash tables for recall.

The dot product stays in codegen via ``F.zip_with`` + ``F.aggregate``
(no Python). 64-dim testdata vectors make per-row cost trivial; at
1e9+ rows the corpus scan dominates and both paths stream it once.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a, b):
    """Cosine similarity of two array<numeric> columns (codegen only).
    A zero-norm vector yields NULL (try_divide) instead of aborting the
    job with ANSI DIVIDE_BY_ZERO — NULL similarity fails every
    threshold and ranks last, the graceful degradation a corpus
    containing an all-zero embedding needs."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``exclude_self=True`` (default) drops corpus rows whose id equals
    the query's id — correct ONLY when queries are drawn from the
    corpus id space (the "find my neighbors" shape every registry
    consumer uses). Pass False when query ids live in their own
    namespace, or a corpus row that merely shares a number with an
    unrelated query would silently vanish from its results.

    Returns (query_id, vec_id, cosine, rank). The query side is
    broadcast — the corpus is never shuffled, only scanned. Ties broken
    by corpus id for determinism.

    ``quantize=N`` ranks on ``floor(cosine * 10^N)`` (emitted as a
    BIGINT ``cosine_u`` column) instead of the raw double. Cross-engine
    differential testing needs this: ranking raw doubles and comparing
    rounded output lets two engines disagree at round-boundary ties,
    while floor-quantizing BEFORE the rank makes both the ordering and
    the emitted value identical everywhere (floor has no rounding-mode
    hazard on binary doubles).
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    cond = F.col(id_col) != F.col("query_id") if exclude_self else F.lit(True)
    scored = c.join(F.broadcast(q), cond).select(
        "query_id",
        id_col,
        cosine(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _rank_topk(scored, k, id_col, quantize)


def _rank_topk(scored: DataFrame, k: int, id_col: str, quantize: int | None) -> DataFrame:
    """Per-query top-k over a (query_id, id, cosine) frame. With
    ``quantize=N`` the rank is computed on ``floor(cosine * 10^N)``
    (emitted as BIGINT ``cosine_u``) — same cross-engine-determinism
    contract as cosine_topk."""
    if quantize is not None:
        scored = scored.withColumn(
            "cosine_u", F.floor(F.col("cosine") * F.lit(float(10 ** quantize))).cast("bigint")
        ).drop("cosine")
        score_name = "cosine_u"
    else:
        score_name = "cosine"
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_name).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize: int | None = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the batch-mining
    pass of a retrieval/embedding fine-tune, per the public DPR /
    sentence-transformers recipe): for each anchor vector, the top-k
    most-cosine-similar corpus vectors whose ``label_col`` DIFFERS
    from the anchor's — the negatives closest to the decision
    boundary, which carry most of the gradient signal.

    Same physical shape as :func:`cosine_topk` — anchors broadcast,
    corpus streamed exactly once, per-anchor top-k window — with the
    label-inequality predicate folded into the (nested-loop, by
    design) broadcast join. At 100 TB the exact scan is the rerank
    stage: candidate generation goes through ivf_pq_topk first and
    this runs over its shortlist.

    Returns (query_id, query_label, vec_id, neg_label, cosine_u|cosine,
    rank); ties broken by corpus id, scores floor-quantized before the
    rank when ``quantize`` is set (the cross-engine contract
    cosine_topk documents).
    """
    q = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("__cv"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neg_label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        id_col,
        "neg_label",
        cosine(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _rank_topk(scored, k, id_col, quantize)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-normal hyperplanes for signed random projection."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_signatures(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_tables: int = 4,
    bits_per_table: int = 8,
    seed: int = 42,
    method: str = "expr",
) -> DataFrame:
    """Add ``__sig_t`` columns: per-table sign-bit signatures (long).

    Hyperplanes ship to executors as literal arrays (tiny: tables *
    bits * dim doubles) — effectively a broadcast, no shuffle.

    ``method="expr"`` (default) evaluates every dot product as a
    codegen expression — zero Python, right for modest dim*bits.
    ``method="numpy"`` computes all signatures in one Arrow-batched
    matmul ``X @ P.T`` inside a pandas UDF — at high dim x many bits
    (e.g. 768-dim x 64 bits) one BLAS call replaces dim*bits scalar
    expression ops per row and wins by an order of magnitude. Same
    planes, same bit packing; sign can differ from the expr path only
    if a dot product lands within float accumulation error of exactly
    0 (measure-zero for real embeddings).
    """
    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    if method == "numpy":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        P = np.asarray(planes, dtype=np.float64)  # (T*B, dim)
        n_t, bpt = n_tables, bits_per_table
        weights = (np.int64(1) << np.arange(bpt, dtype=np.int64))

        def _sigs_fn(v):
            if len(v) == 0:
                return pd.Series([], dtype=object)
            # NULL embeddings get NULL signatures (the expr path's
            # behavior); np.vstack over a None would otherwise throw a
            # matmul shape error and kill the job
            mask = v.notna().to_numpy()
            out = np.empty(len(v), dtype=object)
            out[~mask] = None
            if mask.any():
                X = np.vstack(v[mask].to_numpy())    # (m, dim)
                bits = (X @ P.T) >= 0.0              # (m, T*B)
                packed = bits.reshape(len(X), n_t, bpt).astype(np.int64) @ weights
                # element-wise assignment: numpy would read a bulk
                # list-of-arrays as a 2-D fill and reject it
                for idx, row in zip(np.nonzero(mask)[0], packed):
                    out[idx] = row
            return pd.Series(out)

        # annotations set with the real (locally imported) pandas class:
        # string hints would not resolve from pandas_udf's scope
        _sigs_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
        _sigs = pandas_udf(_sigs_fn, "array<long>")

        out = df.withColumn("__sigs", _sigs(F.col(vec_col).cast("array<double>")))
        for t in range(n_tables):
            out = out.withColumn(f"__sig_{t}", F.col("__sigs")[t])
        return out.drop("__sigs")
    if method != "expr":
        raise ValueError(f"unknown signature method {method!r}; use 'expr' or 'numpy'")
    out = df
    for t in range(n_tables):
        sig = F.lit(0).cast("long")
        for b in range(bits_per_table):
            p = planes[t * bits_per_table + b]
            plane_arr = F.array(*[F.lit(x) for x in p])
            sig = sig + F.when(_dot(F.col(vec_col), plane_arr) >= 0, F.lit(1 << b)).otherwise(0)
        # NULL embedding -> NULL signature (it must never equi-join a
        # bucket; the all-whens-false fallthrough would otherwise give
        # it signature 0 — a REAL bucket, manufacturing false
        # candidates against vectors whose dots are all negative)
        out = out.withColumn(
            f"__sig_{t}",
            F.when(F.col(vec_col).isNotNull(), sig),
        )
    return out


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    bits_per_table: int = 8,
    seed: int = 42,
    signature_method: str = "expr",
    quantize: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any hash
    table signature with the query, then exact cosine rank among
    candidates. All joins are equi-joins on (table, signature).
    ``signature_method="numpy"`` switches signature computation to the
    Arrow matmul path (see lsh_signatures) — use for high-dim vectors.
    ``quantize=N`` ranks on floor-quantized cosine (see _rank_topk)."""
    csig = lsh_signatures(corpus, dim, vec_col, n_tables, bits_per_table, seed, signature_method)
    qsig = lsh_signatures(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        dim,
        "__qv",
        n_tables,
        bits_per_table,
        seed,
        signature_method,
    )
    c_buckets = csig.select(
        id_col,
        vec_col,
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__sig_{t}").alias("s")) for t in range(n_tables)])
        ).alias("bucket"),
    )
    q_buckets = qsig.select(
        "query_id",
        "__qv",
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__sig_{t}").alias("s")) for t in range(n_tables)])
        ).alias("bucket"),
    )
    cand = c_buckets.join(F.broadcast(q_buckets), "bucket").filter(
        F.col(id_col) != F.col("query_id") if exclude_self else F.lit(True)
    )
    # Score BEFORE the dedup shuffle: a (query, corpus) pair colliding in
    # several tables yields identical cosines, so max() dedups exactly —
    # and the one shuffle then carries (query_id, id, cosine) scalars
    # (~24 B/row) instead of two full vectors (~12 KB/row at 768-dim).
    # The broadcast join keeps candidates map-side, so the <= n_tables
    # redundant cosine evals collapse in the partial aggregate anyway.
    scored = (
        cand.select(
            "query_id", id_col, cosine(F.col(vec_col), F.col("__qv")).alias("cosine")
        )
        .groupBy("query_id", id_col)
        .agg(F.max("cosine").alias("cosine"))
    )
    return _rank_topk(scored, k, id_col, quantize)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 6,
    bits_per_table: int = 10,
    seed: int = 42,
    signature_method: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold)
    via LSH bucketing — the embedding analogue of MinHash dedup.

    Scale shape: the bucket self-join's co-location shuffle (n_tables
    exploded copies of each row, both sides) is irreducible unless
    ``df`` is pre-partitioned by signature — but everything AFTER it
    need not carry vectors. Cosine is computed AT the join output
    (same stage, before any further exchange), the threshold filter
    kills non-dups immediately, and the dedup of multi-table collisions
    is a ``distinct()`` over (a, b, cosine) SCALARS — ~24 B/row, never
    over rows carrying both embeddings (~12 KB/row at 768-dim), and
    never dependent on Catalyst's filter-below-aggregate pushdown to
    stay that way. Duplicate candidates re-compute cosine (bounded by
    n_tables, map-side, vectorized) — CPU is the cheap currency,
    shuffle bytes the expensive one. The tempting alternative (dedup
    bare id pairs first, re-join vectors after) measures strictly
    WORSE: the re-join shuffles one vector per candidate row, which
    exceeds the bucket-join bytes whenever candidates/row > n_tables.
    Measured (scripts/stress.py emb768, 30k x 768-dim): this shape and
    the old fat-distinct shape both shuffle 357 MB — the bucket
    co-location, computed once and read twice via ReusedExchange, with
    the old shape's fat distinct saved only by the filter pushdown —
    while the id/re-join shape shuffles 1225 MB."""
    sig = lsh_signatures(df, dim, vec_col, n_tables, bits_per_table, seed, signature_method)
    buckets = sig.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__sig_{t}").alias("s")) for t in range(n_tables)])
        ).alias("bucket"),
    )
    l, r = buckets.alias("L"), buckets.alias("R")
    return (
        l.join(r, (F.col("L.bucket") == F.col("R.bucket")) & (F.col("L.id") < F.col("R.id")))
        .select(
            F.col("L.id").alias("a"),
            F.col("R.id").alias("b"),
            cosine(F.col("L.v"), F.col("R.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def ivf_index(
    corpus: DataFrame,
    dim: int,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
):
    """IVF (inverted-file) coarse quantizer: k-means centroids + a
    corpus assignment column. Returns (assigned_corpus, centroids)
    where centroids is a small driver-side list [(list_id, [floats])].

    Scale shape: centroids train on a SAMPLE (k-means over billions of
    rows is wasteful — accuracy saturates quickly), assignment is one
    map-only pass (argmin over n_lists broadcast centroids), and the
    index is just a column — repartitioning by it co-locates each list.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if sample_fraction >= 1.0 else corpus.sample(sample_fraction, seed=seed)
    train_vec = train.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    if train_vec.isEmpty():
        # KMeans.fit on zero rows dies with an opaque JVM error; an
        # index over an empty corpus is a caller bug — say so. (The
        # isEmpty probe short-circuits on the first non-empty
        # partition, negligible next to the fit itself.)
        raise ValueError(
            "ivf_index: training set is empty — cannot build an IVF "
            "index over an empty corpus (check the corpus path / "
            "sample_fraction)"
        )
    km = KMeans(k=n_lists, seed=seed, maxIter=20)
    model = km.fit(train_vec)
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]

    # assignment: argmin squared distance over broadcast centroid literals,
    # expression-only (no model.transform -> no Vector conversion on the
    # full corpus; stays in codegen)
    v = F.col(vec_col).cast("array<double>")
    best = F.lit(None).cast("int")
    best_d = F.lit(float("inf"))
    for i, c in centroids:
        carr = F.array(*[F.lit(x) for x in c])
        d = F.aggregate(
            F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        best = F.when(d < best_d, F.lit(i)).otherwise(best)
        best_d = F.least(best_d, d)
    assigned = corpus.withColumn("__ivf_list", best)
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantize: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` nearest
    centroid lists per query (``exclude_self``: see cosine_topk).
    centroid lists per query, exact cosine rerank within them.

    vs LSH: IVF adapts to the data distribution (centroids follow
    density) and bounds the scanned fraction to ~n_probe/n_lists of the
    corpus; the probe-list join is an equi-join on the list id.
    """
    assigned, centroids = ivf_index(corpus, dim, n_lists, id_col, vec_col, seed)

    # driver-side probe selection per query would break distribution for
    # large query sets; instead compute each query's probe lists with the
    # same expression pattern, then explode
    qv = F.col(vec_col).cast("array<double>")
    dists = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(qv, F.array(*[F.lit(x) for x in c]), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(i).alias("list_id"),
        )
        for i, c in centroids
    ])
    probes = F.slice(F.array_sort(dists), 1, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qv.alias("__qv"),
        F.explode(F.transform(probes, lambda s: s["list_id"])).alias("__ivf_list"),
    )
    cand = assigned.join(F.broadcast(q), "__ivf_list").filter(
        F.col(id_col) != F.col("query_id") if exclude_self else F.lit(True)
    )
    scored = cand.select(
        "query_id", id_col, cosine(F.col(vec_col).cast("array<double>"), F.col("__qv")).alias("cosine")
    )
    return _rank_topk(scored, k, id_col, quantize)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = floor(x[i] *
    127 / max|x|)``, stored as array<int> plus the double scale
    (``max|x| / 127``) needed to dequantize (``x ≈ q * scale``).

    4x memory/IO reduction vs float32 — at 100 TB of embeddings the
    difference between an ANN index that fits executor memory and one
    that spills. Pure codegen map (transform/aggregate HOFs), no
    shuffle, no Python. ``floor`` (not round) keeps the mapping
    identical across engines (round half-away vs half-even varies);
    the extra quantization noise vs rounding is <1 LSB and irrelevant
    to retrieval metrics.

    Zero vectors (max|x| = 0) quantize to all-zero with scale 0.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    q = F.when(maxabs == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x * F.lit(127.0) / maxabs).cast("int"))
    )
    return df.withColumns({out_col: q, scale_col: maxabs / F.lit(127.0)})


def rp_coefficients(dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic +-1 random-projection coefficients from md5
    parity: coef[j][i] = +1 if the first hex nibble of
    md5("rp:<seed>:<j>:<i>") is even else -1. Unlike the Gaussian
    hyperplanes above, this matrix is recomputable by ANY engine
    (DuckDB replays the same md5 strings in SQL), which is what lets a
    projection query be hash-checked end-to-end."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    method: str = "expr",
    scale: int = 1_000_000,
) -> DataFrame:
    """Signed random-projection dimensionality reduction (the
    Achlioptas/JL +-1 construction): project each embedding to
    ``out_dim`` components, emitted as ``proj_e6`` —
    floor(y_j * scale) as array<long> — so the float fold is
    engine-invariant (the module's floor-scaling idiom). The standard
    pre-ANN shrink: at 768-dim production vectors an 8-64-dim sketch
    cuts index memory/IO 10-100x while approximately preserving
    distances (JL lemma); +-1 coefficients make each component one
    sign-flip sum, no multiplies in spirit.

    Coefficients ship as literal arrays (out_dim * dim doubles — tiny,
    effectively broadcast, no shuffle); the op is map-only.

    ``method="expr"``: codegen left-fold per component — exact,
    deterministic, the oracle path. ``method="numpy"``: one
    Arrow-batched matmul for all components (the lsh_signatures
    speed-path idiom) — floor-scaled values can differ in the last
    unit from the expr path where BLAS pairwise summation rounds
    differently, so it is the production path, not the oracle path.
    """
    coefs = rp_coefficients(dim, out_dim, seed)
    v = F.col(vec_col).cast("array<double>")
    if method == "numpy":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(coefs, dtype=np.float64)  # (out_dim, dim)

        def _proj_fn(col):
            if len(col) == 0:
                return pd.Series([], dtype=object)
            X = np.vstack(col.to_numpy())  # (n, dim)
            Y = np.floor(X @ C.T * scale).astype(np.int64)
            return pd.Series(list(Y))

        _proj_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
        _proj = pandas_udf(_proj_fn, "array<long>")
        return df.withColumn("proj_e6", _proj(v))
    if method != "expr":
        raise ValueError(f"unknown projection method {method!r}; use 'expr' or 'numpy'")
    comps = []
    for j in range(out_dim):
        carr = F.array(*[F.lit(c) for c in coefs[j]])
        comps.append(F.floor(_dot(v, carr) * scale).cast("long"))
    return df.withColumn("proj_e6", F.array(*comps))


def embedding_contamination_scan(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold_e6: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic
    sibling of the n-gram contamination scan (paraphrased benchmark
    questions share no n-grams but sit at cosine ~0.95+): flag every
    corpus vector whose max cosine against ANY benchmark vector
    reaches ``threshold_e6`` (floor-scaled integer micro-units — the
    module's cross-engine determinism idiom). Returns
    (id_col, max_cosine_e6, matched_bench_id, contaminated).

    Scale shape: the benchmark set is BROADCAST (eval suites are
    thousands of rows, never corpus-scale); the corpus is scanned once
    and never shuffled — the per-corpus-row max collapses map-side in
    the partial aggregate. Ties on max_cosine_e6 break to the lowest
    benchmark id so the matched id is deterministic."""
    bid = bench_id_col or id_col
    b = benchmark.select(
        F.col(bid).alias("__bench_id"),
        F.col(vec_col).cast("array<double>").alias("__bv"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    scored = c.join(F.broadcast(b)).select(
        id_col,
        "__bench_id",
        F.floor(cosine(F.col("__cv"), F.col("__bv")) * 1_000_000)
        .cast("bigint").alias("__cos_e6"),
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(
                F.col("__cos_e6").alias("c"), (-F.col("__bench_id")).alias("nb")
            ),
            F.struct(F.col("__cos_e6").alias("c"), (-F.col("__bench_id")).alias("nb")),
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col("__best.c").alias("max_cosine_e6"),
        (-F.col("__best.nb")).cast("bigint").alias("matched_bench_id"),
        (F.col("__best.c") >= threshold_e6).alias("contaminated"),
    )


def sign_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 4,
    out_col: str = "list_id",
) -> DataFrame:
    """Deterministic axis-sign coarse quantizer: cluster id = the sign
    bits of the first ``n_bits`` dimensions (2^n_bits clusters). A
    zero-training-cost, engine-replayable stand-in for a learned
    coarse quantizer — production SemDeDup swaps in build_ivf's
    sampled k-means (same (id, vec, cluster) output shape); axis signs
    are the n_bits axis-aligned members of the random-hyperplane
    family LSH uses. Map-only, codegen, no shuffle."""
    bit = lambda i: F.when(  # noqa: E731
        F.element_at(F.col(vec_col), i + 1) >= 0, F.lit(1 << (n_bits - 1 - i))
    ).otherwise(F.lit(0))
    cluster = bit(0)
    for i in range(1, n_bits):
        cluster = cluster + bit(i)
    return df.withColumn(out_col, cluster.cast("bigint"))


def adaptive_sign_bits(
    n: int,
    target_cluster_size: int = 32,
    min_bits: int = 4,
    max_bits: int = 16,
) -> int:
    """Sign-quantizer width that keeps cluster count proportional to
    the corpus (clusters ~ n / target_cluster_size), so SemDeDup's
    within-cluster pair work stays LINEAR in n instead of quadratic —
    a fixed cluster count is the quadratic-in-disguise trap at scale.
    Pure integer arithmetic (bits = length of the binary repr of
    ceil(n/target)-1), so a SQL oracle replays it exactly:
    LEAST(max, GREATEST(min, length(bin((n + t - 1) // t - 1))))."""
    c = max(1, (n + target_cluster_size - 1) // target_cluster_size)
    return min(max_bits, max(min_bits, len(bin(max(c - 1, 0))[2:])))


def semantic_dedup(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    cluster_col: str = "list_id",
    vec_col: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): embedding-space
    near-duplicates are pruned WITHIN clusters — a vector is dropped
    iff some LOWER-id vector in the same cluster has cosine similarity
    at or above ``threshold`` (keep-min-id representative, the
    deterministic replayable stand-in for the paper's
    farthest-from-centroid keeper; swap the rank key to change
    policy). The threshold is compared on floor-quantized scores
    (10^quantize) so differential oracles replay the decision exactly;
    a zero-norm vector's NULL cosine fails every threshold (kept, and
    never evicts others). Returns the input frame plus ``kept``
    boolean.

    Scale shape: THE SemDeDup cost model — candidate generation is a
    self-join on the cluster key, so pairs per task are bounded by
    cluster size, never corpus size; cluster COUNT must scale with the
    corpus (k ~ n / target_cluster_size, exactly how the paper runs
    k-means with large k) to keep the per-cluster quadratic term
    constant. Cross-cluster near-dups are invisible by design — the
    paper's documented approximation. The dominated-id set joins back
    via a plain equi-join on the id."""
    thr_u = int(round(threshold * 10**quantize))
    a = assigned.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
    )
    dominated = (
        a.join(b, "__cl")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__idb").alias(id_col),
            F.floor(
                cosine(F.col("__va"), F.col("__vb"))
                * F.lit(float(10**quantize))
            ).cast("bigint").alias("__cu"),
        )
        .filter(F.col("__cu") >= thr_u)
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(dominated, id_col, "left").select(
        *[F.col(c) for c in assigned.columns],
        F.col("__dropped").isNull().alias("kept"),
    )


def cluster_centroid_dirs(
    assigned: DataFrame,
    cluster_col: str = "list_id",
    vec_col: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """Per-cluster centroid DIRECTION as exact integers: component j =
    SUM over the cluster of floor(vec[j] * 10^quantize), a bigint. The
    mean's 1/count scalar cancels inside cosine, so ranking against
    this integer-sum direction is IDENTICAL to ranking against the
    true float centroid — while the sum itself is order-invariant
    (integer addition commutes; a float mean would differ between
    engines and between shuffle layouts). One (cluster, dim) →
    (cluster) reduction, all codegen.

    Scale shape: posexplode shuffles n*d rows of (cluster, pos,
    bigint) — linear in corpus size with map-side partial aggregation
    on (cluster, pos). At very high d a production deployment would
    swap in an applyInPandas integer-accumulator per cluster (same
    output contract); the explode form keeps this engine-replayable
    and JVM-side.

    Returns (cluster_col, centroid_dir array<double>) where each
    component is the exact bigint sum cast to double (exact up to
    2^53, far beyond any corpus this runs on: |sum| <= n * 10^q *
    max|x|)."""
    scale = float(10**quantize)
    ex = assigned.select(
        F.col(cluster_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "__pos", "__val"
        ),
    )
    sums = ex.groupBy(cluster_col, "__pos").agg(
        F.sum(F.floor(F.col("__val") * F.lit(scale)).cast("bigint")).alias(
            "__s"
        )
    )
    return sums.groupBy(cluster_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__s"))),
            lambda st: st["__s"].cast("double"),
        ).alias("centroid_dir")
    )


def cluster_centrality(
    assigned: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "list_id",
    vec_col: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """Adds ``centrality_u`` — floor(cosine(vec, cluster centroid
    direction) * 10^quantize) as BIGINT — to every row. NULL when
    either the vector or the centroid direction has zero norm (the
    cosine() try_divide contract). The floor-quantized integer is the
    cross-engine-stable rank key SemDeDup's keeper policy needs; the
    centroid direction comes from cluster_centroid_dirs (exact
    integer sums, count scalar cancelled by cosine)."""
    cents = cluster_centroid_dirs(
        assigned, cluster_col=cluster_col, vec_col=vec_col, quantize=quantize
    )
    return assigned.join(cents, cluster_col).select(
        *[F.col(c) for c in assigned.columns],
        F.floor(
            cosine(F.col(vec_col).cast("array<double>"), F.col("centroid_dir"))
            * F.lit(float(10**quantize))
        ).cast("bigint").alias("centrality_u"),
    )


def semantic_dedup_ranked(
    assigned: DataFrame,
    threshold: float,
    rank_col: str,
    id_col: str = "vec_id",
    cluster_col: str = "list_id",
    vec_col: str = "embedding",
    quantize: int = 6,
    ascending: bool = True,
) -> DataFrame:
    """SemDeDup with a PLUGGABLE keeper policy — the rank-key swap the
    semantic_dedup docstring promises. Within a cluster a vector is
    dropped iff some clustermate with a strictly better
    (rank_col, id) — lexicographic, rank first, id as the
    deterministic tiebreak — has floor-quantized cosine >= threshold
    to it. ``ascending=True`` means smaller rank values are
    keeper-preferred. A NULL rank is WORST (never evicts a ranked
    clustermate through rank, loses every tie), via a +/-2^62
    sentinel so struct comparison stays total. semantic_dedup(df, t)
    == semantic_dedup_ranked(df, t, rank_col=<id copy>).

    Scale shape: identical to semantic_dedup — the self-join is on
    the cluster key, pairs per task bounded by cluster size, and the
    adaptive cluster count keeps total pair work linear."""
    thr_u = int(round(threshold * 10**quantize))
    sentinel = F.lit((1 if ascending else -1) * (1 << 62)).cast("bigint")
    rk = F.coalesce(F.col(rank_col).cast("bigint"), sentinel)
    a = assigned.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("__ida"),
        rk.alias("__ra"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("__idb"),
        rk.alias("__rb"),
        F.col(vec_col).alias("__vb"),
    )
    if ascending:
        better = F.col("__ra") < F.col("__rb")
    else:
        better = F.col("__ra") > F.col("__rb")
    better = better | (
        (F.col("__ra") == F.col("__rb")) & (F.col("__ida") < F.col("__idb"))
    )
    dominated = (
        a.join(b, "__cl")
        .filter(better)
        .select(
            F.col("__idb").alias(id_col),
            F.floor(
                cosine(F.col("__va"), F.col("__vb"))
                * F.lit(float(10**quantize))
            ).cast("bigint").alias("__cu"),
        )
        .filter(F.col("__cu") >= thr_u)
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(dominated, id_col, "left").select(
        *[F.col(c) for c in assigned.columns],
        F.col("__dropped").isNull().alias("kept"),
    )


def semantic_dedup_centroid(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    cluster_col: str = "list_id",
    vec_col: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """SemDeDup with the PAPER'S keeper policy (Abbas et al. 2023
    keep the example with the LOWEST cosine similarity to the cluster
    centroid — the far-from-centroid representative preserves cluster
    diversity better than an arbitrary id): centrality from
    cluster_centrality (exact integer-sum centroid direction), then
    semantic_dedup_ranked ascending on centrality_u. Returns the
    input columns + centrality_u + kept."""
    ranked = cluster_centrality(
        assigned,
        id_col=id_col,
        cluster_col=cluster_col,
        vec_col=vec_col,
        quantize=quantize,
    )
    return semantic_dedup_ranked(
        ranked,
        threshold,
        rank_col="centrality_u",
        id_col=id_col,
        cluster_col=cluster_col,
        vec_col=vec_col,
        quantize=quantize,
        ascending=True,
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    n_bits: int = 4,
    m_subs: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build the IVF+PQ index ONCE, amortized across many
    :func:`ivf_pq_search` calls — the FAISS build/search split (r12:
    the one-shot :func:`ivf_pq_topk` prices a full index build into
    EVERY call since the r12 cache-release fix, which is honest for a
    single batch but wrong for the production loop of "index the
    corpus, then answer query batches all day").

    Returns a dict of the two checkpointed index frames plus the build
    params (search validates against them):
    - ``listed``: (id, vec, q8, list_id, __codes) — the int8-quantized
      corpus with coarse list assignment and PQ code array; the
      materialized inverted file, one corpus pass.
    - ``centroids``: the bounded (m, code, j) -> integer centroid
      table (<= m_subs * 2^d_sub * d_sub rows) ADC LUTs are built from.

    Both frames are owned by the calling thread (util.own): call
    ``util.release([idx["listed"], idx["centroids"]])`` (or
    ``util.release()`` at the query boundary) once every search over
    them is materialized — exactly the FAISS "free the index" step."""
    q8c = (
        quantize_int8(corpus, vec_col=vec_col)
        .filter(F.col("q8").isNotNull())
        .select(F.col(id_col), F.col(vec_col), F.col("q8"))
    )
    sign_code = lambda sv: F.aggregate(  # noqa: E731
        sv,
        F.struct(
            F.lit(0).cast("long").alias("code"),
            F.lit(1).cast("long").alias("w"),
        ),
        lambda a, x: F.struct(
            (
                a["code"]
                + F.when(x > 0, a["w"]).otherwise(F.lit(0).cast("long"))
            ).alias("code"),
            (a["w"] * 2).alias("w"),
        ),
        lambda a: a["code"],
    )
    codes_arr = F.transform(
        F.sequence(F.lit(0), F.lit(m_subs - 1)),
        lambda m: F.struct(
            m.cast("long").alias("m"),
            sign_code(F.slice(F.col("q8"), m * d_sub + 1, d_sub)).alias(
                "code"
            ),
        ),
    )
    # EAGER checkpoint of the listed frame (r15; was a lazy tracked
    # cache): the codebook build, the probe candidate join, the refine
    # rerank AND the exact-top-k audit all read it — uncached, each
    # downstream action replays the int8 quantization + the nested
    # sign-code folds (the deepest codegen in the repo), which
    # dominated the r10 sf0.1 reading (19.9 s). The LAZY cache still
    # materialized that subtree TWICE: the first search's broadcast
    # subqueries (query LUT via the codebook, probe table) and its
    # main candidate stage race into the unfilled cache concurrently,
    # each computing the deep codegen for itself. One eager
    # materialization at build time is the FAISS "train once" step —
    # the cost is one corpus pass either way, now paid exactly once.
    # Both frames are owned by the calling thread; the caller releases.
    from ..util import own

    listed = own(
        sign_quantize(q8c, vec_col=vec_col, n_bits=n_bits).withColumn(
            "__codes", codes_arr
        ).localCheckpoint(eager=True)
    )
    # codebook: per-(m, code, j) integer truncated means — ONE bounded
    # corpus pass (explode to dims, <= m_subs * 2^d_sub * d_sub output)
    # over the frozen listed blocks, itself frozen (every search's LUT
    # broadcast reads it)
    dims = listed.select(
        id_col,
        F.explode("__codes").alias("s"),
        F.col("q8"),
    ).select(
        id_col, "s.m", "s.code",
        F.posexplode(
            F.expr(f"slice(q8, s.m * {d_sub} + 1, {d_sub})")
        ).alias("j", "v"),
    ).withColumn("v", F.col("v").cast("long"))
    cent = own(
        dims.groupBy("m", "code", "j").agg(
            F.expr("sum(v) div count(1)").alias("c")
        ).localCheckpoint(eager=True)
    )
    return {
        "listed": listed,
        "centroids": cent,
        "n_bits": n_bits,
        "m_subs": m_subs,
        "d_sub": d_sub,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def ivf_pq_search(
    index: dict,
    queries: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
    probe_flips: list[int] | None = None,
    refine_mult: int = 8,
) -> DataFrame:
    """Answer one query batch against a :func:`build_ivf_pq_index`
    index — probes + ADC + refine + the exact-top-k audit column,
    identical output to :func:`ivf_pq_topk` (property-pinned), but
    the corpus-pass work is amortized in the index. Lazy and
    side-effect-free: no new caches are pinned (the per-query ADC LUT
    is bounded — queries x m_subs x codes-present — and built inside
    the single action), so callers can loop query batches against one
    index and release it once at the end."""
    listed = index["listed"]
    cent = index["centroids"]
    n_bits = index["n_bits"]
    d_sub = index["d_sub"]
    id_col = index["id_col"]
    vec_col = index["vec_col"]
    # query side: int8 sub-dims + probe lists (own + Hamming-1 flips);
    # same NULL drop as the corpus side
    q8q = (
        quantize_int8(queries, vec_col=vec_col)
        .filter(F.col("q8").isNotNull())
        .select(F.col(id_col).alias("query_id"), F.col(vec_col), F.col("q8"))
    )
    qlisted = sign_quantize(q8q, vec_col=vec_col, n_bits=n_bits)
    flips = probe_flips if probe_flips is not None else (
        [0] + [1 << b for b in range(n_bits)]
    )
    qprobes = qlisted.select(
        "query_id", "q8",
        F.explode(
            F.array(*[F.expr(f"list_id ^ {fl}") for fl in flips])
        ).alias("list_id"),
    )
    qdims = qlisted.select(
        "query_id",
        F.posexplode(
            F.transform(F.col("q8"), lambda x: x.cast("long"))
        ).alias("i", "qv"),
    ).select(
        "query_id",
        (F.col("i") / d_sub).cast("long").alias("m"),
        (F.col("i") % d_sub).cast("long").alias("j"),
        "qv",
    )
    # per-query ADC lookup table: bounded (queries x m x codes-present).
    # NOT cached (r12): it feeds exactly one broadcast below, so a
    # cache would be written once and read once — pure overhead since
    # the eager-checkpoint/one-action contract landed.
    lut = (
        qdims.join(F.broadcast(cent), ["m", "j"])
        .groupBy("query_id", "m", "code")
        .agg(F.sum(F.expr("(qv - c) * (qv - c)")).alias("l2"))
    )

    cand = listed.select(id_col, "list_id", "__codes").join(
        F.broadcast(qprobes.select("query_id", "list_id").distinct()),
        "list_id",
    )
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col("query_id"))
    adc = (
        cand.select(
            "query_id", id_col, F.explode("__codes").alias("s")
        )
        .select("query_id", id_col, "s.m", "s.code")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("l2").cast("long").alias("adc"))
    )
    # FAISS-style refine: exact int8 L2 rerank of the ADC top-(8k)
    # shortlist — recovers the PQ quantization loss at the cost of
    # reading 8k full vectors per query instead of the whole probe set
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col(id_col).asc()
    )
    shortlist = (
        adc.withColumn("__srnk", F.row_number().over(w_adc))
        .filter(F.col("__srnk") <= refine_mult * k)
        .drop("__srnk")
    )
    qvecs = q8q.select("query_id", F.col("q8").alias("__qq8"))
    refined = (
        F.broadcast(shortlist)  # <= refine_mult*k rows per query (the
        # window filter above), so broadcast safety tracks the knob —
        # the recall sweep runs refine_mult up to 200, still km-scale
        .join(listed.select(id_col, "q8"), id_col)  # cache hit
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            id_col,
            "adc",
            F.aggregate(
                F.zip_with(
                    "q8", "__qq8",
                    lambda a, b: (a.cast("long") - b) * (a.cast("long") - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("l2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col(id_col).asc()
    )
    hits = (
        refined.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )

    # exact int8 L2 top-k audit (brute force over the corpus) — a
    # gate-SF diagnostic carried in the output schema; production
    # search drops or samples it, exactly like any recall measurement
    qfull = q8q.select(
        "query_id", F.col("q8").alias("__qq8")
    )
    pairs = listed.select(id_col, "q8").crossJoin(F.broadcast(qfull))
    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col("query_id"))
    exact = pairs.select(
        "query_id", id_col,
        F.aggregate(
            F.zip_with(
                "q8", "__qq8",
                lambda a, b: (a.cast("long") - b) * (a.cast("long") - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("l2"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col(id_col).asc()
    )
    etop = (
        exact.withColumn("ernk", F.row_number().over(we))
        .filter(F.col("ernk") <= k)
        .select("query_id", id_col, F.lit(True).alias("in_exact_topk"))
    )
    return (
        hits.join(etop, ["query_id", id_col], "left")
        .select(
            "query_id",
            id_col,
            "adc",
            "l2",
            "rnk",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    m_subs: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    probe_flips: list[int] | None = None,
    refine_mult: int = 8,
) -> DataFrame:
    """L51 IVF+PQ two-stage ANN search — the FAISS IVFPQ shape, the
    production answer to "find neighbors in 100 TB of embeddings":
    a coarse inverted file bounds WHICH vectors are scanned, product-
    quantization codes bound WHAT is read per scanned vector (8 bytes,
    not 256), and scoring is asymmetric distance computation (ADC):
    the query is NOT quantized; per query a (subspace, code) -> partial
    L2 lookup table is built against the codebook and each candidate
    costs m_subs table lookups.

    Deterministic, engine-replayable construction (every stage exact
    integer after int8 quantization, so a SQL oracle replays rank-for-
    rank — no measured-recall contract needed):
    - coarse lists: axis-sign bits of the first ``n_bits`` raw dims
      (sign_quantize — the replayable stand-in; build_ivf's sampled
      k-means swaps in behind the same (id, vec, list) shape);
    - PQ codes: int8-quantized vectors split into m_subs x d_sub
      subspaces, each coded by its sign pattern (the embedding_pq_audit
      codebook stand-in; trained codebooks swap in as the same
      broadcast (m, code, centroid) table);
    - codebook: per-(m, code, j) integer truncated-mean centroids
      (one bounded shuffle, <= m_subs * 2^d_sub * d_sub rows);
    - probes: the query's own list plus its ``n_bits`` Hamming-1
      neighbors (multi-probe LSH's deterministic core); callers tune
      the scanned fraction via ``probe_flips`` (XOR masks; default
      [0, 1, 2, 4, 8] = own + Hamming-1 = 5/2^n_bits of the corpus) —
      the recall-vs-scanned-fraction sweep instrument
      (scripts/ann_recall_sweep.py, BASELINE.md) drives this knob;
    - ADC: candidate score = sum over subspaces of the query-LUT entry
      for the candidate's code; ties broken by id;
    - refine (the FAISS IVFPQ+refine step): the ADC top-(refine_mult*k,
      default 8k) shortlist is reranked by EXACT int8 L2 — bounded
      full-vector reads per query recover the PQ quantization loss.
      On random embeddings the shortlist is the SECOND recall limiter
      (sign-code ADC is weakly distance-correlated there), measured by
      the refine_mult leg of scripts/ann_recall_sweep.py.

    Output per (query, rank<=k): (query_id, vec_id, adc, l2, rnk,
    in_exact_topk) — the last column audits each hit against the
    EXACT int8 L2 top-k over the whole corpus, so the row carries its
    own recall evidence. Honesty note for the synthetic corpus: these
    embeddings are random/untrained, so coarse lists are distance-
    UNCORRELATED and recall is ceilinged near the scanned fraction
    ((n_bits+1)/2^n_bits ≈ 0.31) — the audit bit measures exactly
    that; on trained embeddings the same index concentrates neighbors
    into probed lists and the ceiling lifts.

    Scale shape: codebook and per-query LUT are bounded broadcasts;
    the probe equi-join scans ~(n_bits+1)/2^n_bits of the corpus with
    the query side broadcast; ADC is an 8-row explode per candidate
    joined to the broadcast LUT, map-side; per-query top-k is a
    window over candidates (queries are few by contract — a large
    query set would swap in the global rank). The exact-topk audit
    column is a gate-SF diagnostic: at production scale it is sampled
    or dropped, exactly like any recall measurement."""
    # r12: one-shot composition of build_ivf_pq_index + ivf_pq_search
    # (output property-pinned identical to the pre-split monolith).
    # NULL embeddings are unsearchable — the build and the query side
    # both drop them up front, so the coarse lists, codebook,
    # candidates, AND the exact-top-k audit all see the same universe
    # (a NULL l2 in the audit would otherwise rank FIRST under Spark's
    # ASC NULLS FIRST and silently deflate in_exact_topk); the
    # oracle's `WHERE embedding IS NOT NULL` mirrors this exactly.
    from ..util import own, release

    index = build_ivf_pq_index(
        corpus,
        n_bits=n_bits,
        m_subs=m_subs,
        d_sub=d_sub,
        id_col=id_col,
        vec_col=vec_col,
    )
    out = ivf_pq_search(
        index,
        queries,
        k=k,
        exclude_self=exclude_self,
        probe_flips=probe_flips,
        refine_mult=refine_mult,
    )
    # Scoped release (ADVICE r11): this call pinned two corpus-sized
    # index frames; a correctness driver runs 50 registered queries in
    # ONE JVM and never releases, so leaving them pinned accumulates
    # an index per window run. The output is <= k rows per query —
    # eagerly localCheckpoint it (one bounded job, the blocks ARE the
    # result, owned by the caller's thread) and release exactly the
    # frames this call built; callers that want to amortize the build
    # across query batches use build_ivf_pq_index + ivf_pq_search
    # directly and own the release.
    out = own(out.localCheckpoint(eager=True))
    release([index["listed"], index["centroids"]])
    return out
