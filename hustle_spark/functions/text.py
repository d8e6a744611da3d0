"""Text analysis for training-data pipelines (north-star EXT;
SURVEY.md section 2.10 L4): token stats, quality scoring, language-ID
heuristic, document fingerprinting.

Everything is built-in-function compositions (codegen, no UDFs) so the
operators run at scan speed — at 100 TB these are the per-document map
phase of a curation pipeline and must not bottleneck on Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(text) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(text, WS)


def sliding_grams(toks, n: int) -> Column:
    """Space-joined n-gram windows over a token-array column, built as
    n-1 element-wise concat passes over shifted copies — one array
    allocation per PASS, not per gram (the slice-per-gram transform is
    this repo's documented interpreted-HOF anti-pattern; the shifted
    formulation measured 2x faster through the MinHash signature stage
    and 3.5x on winnowing's sliding min, round 4). zip_with pads the
    shorter side with nulls and concat_ws silently drops them — the
    final slice cuts back to the size-n+1 true windows. Arrays shorter
    than ``n`` yield ONE gram: the whole array joined (the boundary
    convention every consumer and its DuckDB oracle share)."""
    ntok = F.size(toks)
    m = toks
    for s in range(1, n):
        m = F.zip_with(
            m,
            F.slice(toks, s + 1, F.greatest(ntok - s, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(ntok >= n, F.slice(m, 1, ntok - n + 1)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def token_count(text) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_ish_token_count(text) -> Column:
    """Token count under a BPE-ish regex (word pieces + digits + punct
    as separate tokens) — a cheap, deterministic proxy for LLM tokenizer
    counts when the real tokenizer is unavailable cluster-side."""
    pieces = F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])"), 1)
    return F.size(pieces)


def type_token_ratio(text) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    return distinct_token_count(text) / token_count(text)


def quality_score(text, n_chars=None) -> Column:
    """Deterministic quality heuristic in [0, ~3]: rewards length (log
    bucket), lexical diversity, and reasonable mean token length.
    The exact formula is arbitrary but fixed — pipelines threshold it."""
    tc = token_count(text)
    ttr = type_token_ratio(text)
    nc = F.length(text) if n_chars is None else n_chars
    mean_tok_len = nc / tc
    len_term = F.least(tc, F.lit(256)) / F.lit(256.0)
    mid_len = 1.0 - F.least(F.abs(mean_tok_len - F.lit(5.0)), F.lit(5.0)) / F.lit(5.0)
    return len_term + ttr + mid_len


# tiny per-language marker lists for the n-gram/stopword heuristic;
# real pipelines plug in fastText or CLD3 profiles here (not available
# in-container), but the *operator shape* — score per language via
# marker hits, argmax — is the production shape.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "value", "table"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "es": ["el", "los", "las", "una", "por", "que"],
    "de": ["der", "die", "das", "und", "ein", "nicht"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}


def lang_scores(text) -> Column:
    """map<lang, hits>: marker-token hit counts per language."""
    toks = tokens(F.lower(text))
    entries = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.array_intersect(F.array_distinct(toks), marker_arr))
        entries.append(F.struct(F.lit(lang).alias("lang"), hits.alias("hits")))
    return F.array(*entries)


def lang_id(text) -> Column:
    """Best-guess language code, or 'und' when no marker hits."""
    arr = lang_scores(text)
    best = F.aggregate(
        arr,
        F.struct(F.lit("und").alias("lang"), F.lit(0).alias("hits")),
        lambda acc, x: F.when(
            (x["hits"] > acc["hits"])
            | ((x["hits"] == acc["hits"]) & (x["lang"] < acc["lang"]) & (acc["hits"] > 0)),
            x,
        ).otherwise(acc),
    )
    return best["lang"]


def char_trigrams(text) -> Column:
    """All character trigrams of lower(text) as array<string> — the
    unit of the Cavnar–Trenkle profile classifier. One transform over
    a char-index sequence (codegen, no explode until the caller asks);
    texts shorter than 3 chars (and NULL) yield an empty array."""
    t = F.lower(text)
    return F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: t.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def lang_profiles_trigram(
    train: DataFrame,
    text: str = "text",
    lang: str = "lang",
    top_k: int = 64,
) -> DataFrame:
    """Ranked character-trigram profile per language — the public
    Cavnar–Trenkle method ("N-Gram-Based Text Categorization", 1994):
    count trigrams per language over a labeled training set, keep the
    top_k by frequency (ties broken lexicographically so the profile
    is deterministic), and weight each kept trigram by its rank
    (top_k + 1 - rank, the linear out-of-place surrogate). Returns
    (lang, tri, weight). Real pipelines swap in fastText/CLD3 model
    scores here (not available in-container); the profile-table shape
    — a tiny broadcastable (lang, feature, weight) frame — is the
    production shape either way.

    Scale shape: the trigram explode is one row per char position but
    aggregates map-side into (lang, tri) partials — the only shuffle
    is the (lang, tri) count, bounded by n_langs x distinct-trigrams;
    the ranked profile is top_k x n_langs rows, broadcast by the
    classifier."""
    from pyspark.sql import Window as W

    tri = train.select(
        F.col(lang), F.explode(char_trigrams(F.col(text))).alias("tri")
    )
    counts = tri.groupBy(lang, "tri").agg(F.count(F.lit(1)).alias("__c"))
    w = W.partitionBy(lang).orderBy(F.col("__c").desc(), F.col("tri"))
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_k)
        .select(
            lang,
            "tri",
            (F.lit(top_k + 1) - F.col("__rk")).cast("bigint").alias("weight"),
        )
    )


def lang_id_trigram(
    docs: DataFrame,
    profiles: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    out_col: str = "guess",
) -> DataFrame:
    """Classify documents against trigram profiles: score(doc, lang) =
    sum of profile weights over the document's trigram OCCURRENCES,
    argmax lang (score ties -> lexicographically smallest lang), and
    'und' when no profile trigram occurs at all. Input ``profiles`` is
    (lang, tri, weight) from lang_profiles_trigram (or any swapped-in
    model exported to that shape). Returns the docs frame's id plus
    ``out_col``.

    Scale shape: explode is map-only; the profile join is an explicit
    BROADCAST (top_k x n_langs rows — plan-guaranteed small); scores
    aggregate map-side into (doc, lang) partials, so the one wide
    shuffle is keyed by document; the per-doc argmax window reuses
    that partitioning; docs that scored nothing come back via a left
    join on the id (co-partitioned with the aggregate)."""
    from pyspark.sql import Window as W

    lang = [c for c in profiles.columns if c not in ("tri", "weight")][0]
    dtri = docs.select(
        id_col, F.explode(char_trigrams(F.col(text))).alias("tri")
    )
    scored = (
        dtri.join(F.broadcast(profiles), "tri")
        .groupBy(id_col, lang)
        .agg(F.sum("weight").alias("__score"))
    )
    w = W.partitionBy(id_col).orderBy(F.col("__score").desc(), F.col(lang))
    best = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col(lang).alias("__guess"))
    )
    return docs.join(best, id_col, "left").select(
        *[F.col(c) for c in docs.columns],
        F.coalesce(F.col("__guess"), F.lit("und")).alias(out_col),
    )


def dump_lang_profiles(profiles: DataFrame, path=None) -> str:
    """Serialize a (lang, tri, weight) profile table — the
    :func:`lang_profiles_trigram` output, or any trained model
    exported to that shape — into the TSV interchange format
    :func:`load_lang_profiles` reads back (``lang\\ttri\\tweight``,
    one row per kept feature, ``#`` comment header). Exists so the
    fastText/CLD3 seam is BIDIRECTIONAL like the merges.txt one: a
    corpus-fit profile exports in the same format a trained model
    imports from, making the round-trip property-testable. Profiles
    are top_k x n_langs rows by contract (KB-scale), so the collect
    here is a bounded model export, not a data scan."""
    rows = profiles.select("lang", "tri", "weight").collect()
    out = ["# lang\ttri\tweight"]
    for r in sorted(rows, key=lambda r: (r["lang"], -r["weight"], r["tri"])):
        tri = r["tri"]
        if tri is None or "\t" in tri or "\n" in tri or "\r" in tri:
            raise ValueError(
                f"trigram {tri!r} is NULL or contains a tab/newline — "
                "not representable in the TSV profile format"
            )
        lang = r["lang"]
        # ADVICE r13: the lang field is line-structural too — a tab
        # shifts every following field, a newline forges a row, a
        # leading '#' makes the row vanish as a comment on load
        if (
            lang is None or not lang or lang.startswith("#")
            or any(ch in lang for ch in "\t\n\r")
        ):
            raise ValueError(
                f"lang {lang!r} is NULL/empty, starts with '#', or "
                "contains a tab/newline — not representable in the "
                "TSV profile format"
            )
        out.append(f"{lang}\t{tri}\t{int(r['weight'])}")
    text = "\n".join(out) + "\n"
    if path is not None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
    return text


def load_lang_profiles(spark, path) -> DataFrame:
    """Trained-profile loader for :func:`lang_id_trigram` (VERDICT r12
    directive #6 — the fastText/CLD3 seam made executable, the
    load_classifier_weights precedent): read a ``(lang, tri, weight)``
    export — TSV (``#`` comments allowed) or parquet by extension —
    into the frame the classifier broadcast-joins. Validates eagerly
    (profiles are top_k x n_langs rows — a model-sized collect, not a
    data scan): weights must parse as positive integers and (lang,
    tri) must be unique — a duplicate feature means the export is
    ambiguous and must fail at load, not double-score silently.

    Property pinned in tests/test_text_curation.py: a corpus-fit
    profile round-tripped through this format classifies the gate
    corpus IDENTICALLY to the inline frame (loaded ≡ inline, the
    merges.txt precedent)."""
    p = str(path)
    if p.endswith(".parquet"):
        w = spark.read.parquet(p).select(
            F.col("lang").cast("string").alias("lang"),
            F.col("tri").cast("string").alias("tri"),
            F.col("weight").cast("bigint").alias("weight"),
        )
        rows = w.collect()
    else:
        # Manual TSV parse (ADVICE r13, the load_bpe_merges /
        # load_vad_decision_table precedent): trigrams are arbitrary
        # 3-char substrings of lower(text), so '"'- or '\'-bearing
        # features are legitimate — spark.read.csv's default
        # quote/escape processing silently mangled them. The file is
        # a KB-scale model export, so a driver-side parse is the
        # honest shape anyway.
        with open(p, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        rows = []
        for ln, raw_line in enumerate(lines, 1):
            line = raw_line
            if ln == 1:
                line = line.lstrip("\ufeff")  # UTF-8 BOM tolerated
            if not line.strip():
                continue  # blank / trailing newline
            if line.startswith("#"):
                continue  # comment (dump rejects '#'-leading langs)
            parts = line.split("\t")
            if len(parts) != 3:
                raise ValueError(
                    f"profile TSV line {ln}: expected exactly "
                    f"'lang<TAB>tri<TAB>weight', got {raw_line!r} — a "
                    "malformed row must fail at load, not silently "
                    "vanish from the profile"
                )
            try:
                wt = int(parts[2])
            except ValueError:
                raise ValueError(
                    f"unparseable profile row ({parts[0]!r}, "
                    f"{parts[1]!r}, {parts[2]!r}) — a non-integer "
                    "weight must fail at load, not silently vanish "
                    "from the profile"
                )
            rows.append((parts[0], parts[1], wt))
        w = spark.createDataFrame(
            rows, "lang string, tri string, weight bigint"
        )
    seen = set()
    for r in rows:
        lang, tri, wt_raw = r[0], r[1], r[2]
        # NULL weight routed through the descriptive error, not a bare
        # int(None) TypeError (ADVICE r13 — the parquet branch can
        # carry NULL/unparseable weights cast to NULL bigint)
        if lang is None or tri is None or wt_raw is None:
            raise ValueError(
                f"profile row ({lang!r}, {tri!r}, {wt_raw!r}) has a "
                "NULL field — refusing to classify with a malformed "
                "profile"
            )
        wt = int(wt_raw)
        if wt <= 0:
            raise ValueError(
                f"profile row ({lang!r}, {tri!r}, {wt}) has a "
                "non-positive weight — refusing to classify with a "
                "malformed profile"
            )
        if (lang, tri) in seen:
            raise ValueError(
                f"duplicate profile feature ({lang!r}, {tri!r}) — "
                "ambiguous weights must fail at load"
            )
        seen.add((lang, tri))
    return w


def fingerprint(text, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text, truncated. Content-defined,
    stable across engines (used for exact-dup detection and as a
    shard-stable doc key)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), WS, " ")
    return F.substring(F.md5(normalized), 1, length)


def rolling_hash_fingerprint(text, window: int = 8, hash: str = "xxhash64") -> Column:
    """Winnowing-style fingerprint: min hash over word n-gram windows —
    robust to local edits (near-dup friendly), still pure codegen.

    ``hash="xxhash64"`` (default) is the fast scale path (8-byte long).
    ``hash="md5"`` takes the min over hex md5 strings instead — slower,
    but md5 is implemented identically in DuckDB, which makes the
    operator cross-engine oracle-checkable (used by the registry's
    doc_rolling_fingerprint differential query)."""
    toks = tokens(F.lower(text))
    if hash == "md5":
        h = lambda c: F.md5(c)  # noqa: E731
    elif hash == "xxhash64":
        h = lambda c: F.xxhash64(c)  # noqa: E731
    else:
        raise ValueError(f"unknown hash {hash!r}; use 'xxhash64' or 'md5'")
    return F.array_min(F.transform(sliding_grams(toks, window), h))


def text_stats(df: DataFrame, text: str = "text", group_by: str | None = None) -> DataFrame:
    """Corpus token statistics, optionally per group."""
    base = df.select(
        *( [F.col(group_by)] if group_by else [] ),
        token_count(F.col(text)).alias("__tc"),
        distinct_token_count(F.col(text)).alias("__dtc"),
        F.length(F.col(text)).alias("__nc"),
    )
    keys = [group_by] if group_by else []
    return base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tc").alias("total_tokens"),
        F.sum("__dtc").alias("total_distinct_tokens"),
        (F.sum("__tc").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        (F.sum("__nc").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


def token_fertility_stats(
    df: DataFrame, text: str = "text", group_by: str = "lang"
) -> DataFrame:
    """Tokenizer fertility / compression diagnostics per group — the
    standard pre-training readout for "how expensive is this language
    under this tokenizer" (bytes per token; public provenance: the
    fertility metric of the mBERT/XLM-R tokenizer-fairness literature
    and every tokenizer report since): UTF-8 bytes, whitespace-token
    and BPE-ish-token totals, plus two exact integer micro-unit
    ratios — ``bytes_per_bpe_u`` (1e6·bytes div bpe_tokens, the
    compression rate) and ``bpe_per_ws_u`` (1e6·bpe div ws_tokens,
    subword fan-out per word). Map-only scan + one grouped agg
    (map-side combined); ratios are computed AFTER the agg on the
    group totals, so every emitted value is a bit-exact integer in
    any engine. NULL text contributes 0 bytes and, per the repo's
    split('')→[''] convention, one empty token to both counters —
    identical in the DuckDB replay."""
    base = df.select(
        F.col(group_by),
        F.octet_length(F.coalesce(F.col(text), F.lit(""))).alias("__nb"),
        token_count(F.coalesce(F.col(text), F.lit(""))).alias("__ws"),
        bpe_ish_token_count(F.coalesce(F.col(text), F.lit(""))).alias(
            "__bpe"
        ),
    )
    return (
        base.groupBy(group_by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nb").cast("bigint").alias("total_bytes"),
            F.sum("__ws").cast("bigint").alias("total_ws_tokens"),
            F.sum("__bpe").cast("bigint").alias("total_bpe_tokens"),
        )
        .withColumn(
            "bytes_per_bpe_u",
            # zero-divisor guard: a group of only empty/NULL docs has 0
            # BPE tokens; emit 0 instead of an ANSI DIVIDE_BY_ZERO
            F.expr(
                "CASE WHEN total_bpe_tokens = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (CAST(1000000 AS BIGINT) * total_bytes)"
                " div total_bpe_tokens END"
            ),
        )
        .withColumn(
            "bpe_per_ws_u",
            F.expr(
                "CASE WHEN total_ws_tokens = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (CAST(1000000 AS BIGINT) * total_bpe_tokens)"
                " div total_ws_tokens END"
            ),
        )
    )


def contaminated_doc_ids(
    docs: DataFrame,
    eval_docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark-decontamination core: ids of ``docs`` sharing any
    word n-gram with ``eval_docs`` (the eval/benchmark set).

    Scale shape: the corpus side is map-only — explode each document's
    DISTINCT n-grams (bounded per doc), broadcast-hash-join against the
    eval gram set (eval sets are small relative to the corpus by
    definition, and the join key is the gram string). The corpus is
    never shuffled; only MATCHED (candidate) rows reach the final
    per-doc distinct. For probe sets too big to broadcast, swap the
    broadcast for a shuffle join on the gram — same plan shape.
    """
    from pyspark.sql.functions import broadcast

    def grams(df):
        g = F.array_distinct(sliding_grams(tokens(F.lower(F.col(text))), n))
        return df.select(F.col(id_col), F.explode(g).alias("__gram"))

    eval_grams = grams(eval_docs).select("__gram").distinct()
    return (
        grams(docs)
        .join(broadcast(eval_grams), "__gram")
        .select(id_col)
        .distinct()
    )


# PII patterns usable verbatim in both Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no \b (kept dialect-minimal on purpose).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{3}-\d{4}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
}


def pii_counts(text) -> dict[str, Column]:
    """Per-kind PII match counts (codegen regexp_count)."""
    return {
        kind: F.regexp_count(text, F.lit(pat)) for kind, pat in PII_PATTERNS.items()
    }


def pii_redact(text) -> Column:
    """Redact every PII pattern with a [KIND] placeholder — map-only,
    the per-document scrub phase of a curation pipeline. Order matters:
    the email pattern runs first so usernames with digits never get
    half-eaten by the number patterns; phone before ssn because their
    digit shapes are disjoint but a redacted marker must not be
    re-matched."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{kind.upper()}]")
    return out


def chunk_documents(
    df: DataFrame,
    text: str = "text",
    chunk: int = 128,
    stride: int = 96,
    fingerprint_len: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the map phase that turns raw
    documents into fixed-size training/RAG chunks. Each chunk covers
    tokens ``[s*stride, s*stride + chunk)``; with stride < chunk the
    windows overlap by ``chunk - stride`` tokens. A document yields
    ``1 + ceil((tok - chunk) / stride)`` chunks (always ≥ 1, so empty
    or short docs still emit one chunk and nothing is silently lost).

    Output: input columns (minus ``text``) + ``chunk_idx``,
    ``chunk_tokens``, ``chunk_fp`` (md5-prefix content fingerprint —
    the key downstream chunk-level dedup joins on).

    Scale shape: pure map-only codegen (split → sequence → explode →
    slice) — the corpus is never shuffled; fan-out is bounded by
    ~tok/stride per document. Chunk text itself is NOT materialized in
    the output (only its fingerprint and length) so the exploded rows
    stay narrow; callers that need the text add the slice themselves.
    """
    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    reserved = {"chunk_idx", "chunk_tokens", "chunk_fp", "__toks"}
    clash = sorted(reserved & {c for c in df.columns if c != text})
    if clash:
        # pass-through columns would silently duplicate/shadow the
        # output columns below (ADVICE r2): refuse up front
        raise ValueError(
            f"chunk_documents reserves column names {sorted(reserved)}; "
            f"rename input columns {clash} first"
        )
    # NULL text must not silently drop the document (explode(NULL)
    # emits zero rows): treat it as empty, which yields the same single
    # empty chunk an empty string does
    toks = tokens(F.coalesce(F.col(text), F.lit("")))
    n = F.size(toks)
    extra = F.greatest(n - F.lit(chunk), F.lit(0))
    n_chunks = F.lit(1) + (extra + F.lit(stride - 1)).cast("long") / F.lit(stride)
    n_chunks = F.floor(n_chunks).cast("int")
    keep = [c for c in df.columns if c != text]
    exploded = df.select(
        *keep,
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_idx"),
    )
    chunk_toks = F.slice(
        F.col("__toks"), F.col("chunk_idx") * F.lit(stride) + F.lit(1), F.lit(chunk)
    )
    return exploded.select(
        *keep,
        "chunk_idx",
        F.size(chunk_toks).alias("chunk_tokens"),
        F.substring(F.md5(F.concat_ws(" ", chunk_toks)), 1, fingerprint_len).alias(
            "chunk_fp"
        ),
    )


def split_assign(id_col, salt: str = "split", test_hex: str = "1a", val_hex: str = "34") -> Column:
    """Deterministic train/val/test assignment: the first two hex chars
    of md5(id || ':' || salt) are uniform over '00'..'ff', so string
    thresholds give fixed fractions (default ~10.2% test, ~10.2% val,
    rest train) that are stable across runs, engines, partitionings,
    and cluster sizes — the property a reproducible corpus split needs
    (seeded sample() is partitioning-dependent; this is content-
    addressed). Map-only, no shuffle."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    p = F.substring(h, 1, 2)
    return (
        F.when(p < test_hex, "test").when(p < val_hex, "val").otherwise("train")
    )


def unigram_fppm_vocab(
    df: DataFrame, text: str = "text", min_count: int = 2
) -> DataFrame:
    """Corpus unigram frequency model: (token, cnt, fppm) where fppm =
    cnt * 1e6 DIV total_tokens — INTEGER division over longs, so the
    model is bit-identical across engines, partitionings, and retries
    (float log-probs would differ in last-ulp between JVM and any
    oracle; see the repo's deterministic-floats design rule). Tokens
    under ``min_count`` are dropped from the model (they carry no
    signal and at web scale the singleton tail dominates vocabulary
    size); ``total`` still counts every token.

    Scale: one explode + one groupBy (map-side combined) emitting a
    vocabulary-sized table; the 1-row total is a scalar broadcast
    (same pattern as q11's fraction-of-total). Long arithmetic bounds:
    cnt * 1e6 must stay under 2^63 — safe while the most frequent
    token is below ~9.2e12 occurrences (a ~100 TB English corpus has
    ~2e13 tokens, top token ~5% = 1e12); beyond that, scale the ppm
    numerator down.
    """
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text)), r"\s+")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # total re-aggregates the BOUNDED counts table (pre-filter, so it
    # still counts every token) — a second toks.agg would re-explode
    # the whole corpus for a number the vocabulary already holds
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.filter(F.col("cnt") >= min_count)
        .crossJoin(F.broadcast(total))
        .select("token", "cnt", F.expr("cnt * 1000000 DIV __total").alias("fppm"))
    )


def unigram_quality_scores(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Per-document frequency-based quality score (the CCNet-style
    LM-perplexity proxy, exactly replayable): mean_fppm = sum of each
    token's corpus fppm (out-of-vocabulary tokens contribute 0) DIV the
    doc's token count. Natural text built from common tokens scores
    high; gibberish, boilerplate-free random strings, and
    wrong-language documents score near zero — the standard
    quality-filter signal, here in pure integer arithmetic so the
    DuckDB oracle reproduces it bit-for-bit.

    Scale: tokens explode map-side, the vocabulary joins as a
    broadcast (vocab is output-bounded, not corpus-bounded), and the
    per-doc aggregate combines partially before its one shuffle —
    ~1 row per doc moves. Pass a precomputed ``vocab`` (from
    unigram_fppm_vocab, possibly built on a SAMPLE at production
    scale) to reuse the model across batches; default builds it from
    ``df`` itself.
    """
    if vocab is None:
        vocab = unigram_fppm_vocab(df, text, min_count)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text)), r"\s+")).alias("token"),
    )
    joined = toks.join(
        F.broadcast(vocab.select("token", "fppm")), "token", "left"
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("SUM(COALESCE(fppm, 0)) DIV COUNT(*)").alias("mean_fppm"),
    )


def drop_boilerplate_paragraphs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """C4/CCNet-style boilerplate removal at PARAGRAPH granularity: any
    paragraph whose exact (trimmed) content appears in more than
    ``max_df`` DISTINCT documents is dropped from every document; the
    survivors are reassembled in their original order. Returns
    (id, text, n_paras, n_dropped) — cookie banners, nav bars, and
    footers vanish corpus-wide while the prose they decorate survives.

    Scale shape: paragraphs explode map-side and the frequency count
    shuffles ONLY (digest, id) pairs (~48 B/row, countDistinct over
    docs so within-doc repetition doesn't inflate df). The hot-digest
    set (df > max_df — the heavy hitters, bounded by corpus/max_df) is
    the ONLY thing joined back, as a broadcast anti-join, so paragraph
    TEXT crosses one shuffle total: the per-doc reassembly groupBy.
    Reassembly order is exact: sort_array over (pos, para) structs —
    never bare collect_list, whose order is partitioning-dependent.

    Trimmed-empty paragraphs never count toward boilerplate and are
    dropped from the reassembled text (C4 convention).
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text), sep)).alias("__pos", "__para"),
    ).filter(F.trim(F.col("__para")) != "")
    digest = F.md5(F.trim(F.col("__para")))
    hot = (
        paras.select(digest.alias("__d"), F.col(id_col))
        .groupBy("__d")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__d")
    )
    from ..util import own

    # marked feeds BOTH the stats aggregate and the reassembly — cache
    # it (the containment_pairs/minhash convention) or each action
    # replays the paragraph explode + broadcast join over the corpus
    marked = own(
        paras.withColumn("__d", digest).join(
            F.broadcast(hot.withColumn("__hot", F.lit(True))), "__d", "left"
        ).cache()
    )
    kept = marked.filter(F.col("__hot").isNull())
    out = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("__hot"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        )
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__pos", "__para"))),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text)
        )
    )
    # left join: a doc whose every paragraph was boilerplate (or whose
    # text was all-empty) reassembles to ''
    base = df.select(F.col(id_col)).distinct()
    return (
        base.join(rebuilt, id_col, "left")
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text), F.lit("")).alias(text),
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        )
    )


def padding_waste_by_bucket(
    df: DataFrame,
    text: str = "text",
    n_buckets: int = 8,
) -> DataFrame:
    """Length-bucketed batching efficiency: assign every document to
    one of ``n_buckets`` token-length buckets and report, per bucket,
    how many pad tokens a fixed-shape batch would waste if the batch
    were padded to the bucket's max length — the standard pre-training
    dataloader analysis (bucketing by length is THE fix for padding
    waste; this measures how much each bucket still wastes).

    Returns (bucket, n_docs, min_tokens, max_tokens, sum_tokens,
    pad_waste, waste_permille) with pad_waste = max_tokens * n_docs -
    sum_tokens, all integer arithmetic.

    Scale shape — deliberately NOT a global NTILE (that is a
    single-partition sort, the classic 100 TB scale-killer): the exact
    CDF is computed on the token-LENGTH HISTOGRAM, whose row count is
    bounded by the max document length (thousands, not billions), so
    its single-partition window is constant-cost; bucket-of-length is
    then a broadcast join back to the corpus (map-only) and the final
    per-bucket aggregate is one bounded shuffle. Equal-length docs
    always share a bucket (what a batching dataloader wants). Bucket
    id = docs-strictly-shorter * n DIV total + 1, capped at n — pure
    integer DIV, so a DuckDB oracle replays it bit-for-bit.
    """
    from pyspark.sql import Window

    from ..util import own

    tc = token_count(F.col(text))
    # NULL-text docs have no token length: excluded from the report
    # (a NULL histogram row would sort first and inflate every real
    # length's cumulative count while the docs themselves vanish at
    # the assignment join — silently wrong buckets)
    # The skinny (token_count) frame feeds TWO consumers — the length
    # histogram and the assignment join — so cache it: without the
    # cache each consumer re-scans the full documents table (a second
    # full text scan at 100 TB for a report query).
    lengths = own(
        df.select(tc.alias("__tc")).filter(F.col("__tc").isNotNull()).cache()
    )
    freq = lengths.groupBy("__tc").agg(F.count(F.lit(1)).alias("__c"))
    # histogram-sized frames: single-partition windows are constant-cost
    w_before = Window.orderBy("__tc").rowsBetween(Window.unboundedPreceding, -1)
    w_total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets = freq.select(
        "__tc",
        F.coalesce(F.sum("__c").over(w_before), F.lit(0)).alias("__cb"),
        F.sum("__c").over(w_total).alias("__total"),
    ).select(
        "__tc",
        F.least(
            F.lit(n_buckets).cast("long"),
            F.expr(f"__cb * {n_buckets} DIV __total") + 1,
        ).alias("bucket"),
    )
    assigned = lengths.join(F.broadcast(buckets), "__tc")
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__tc").alias("min_tokens"),
            F.max("__tc").alias("max_tokens"),
            F.sum("__tc").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            # token_count is int32; the driver's value hash is
            # dtype-sensitive and DuckDB len() yields BIGINT — emit
            # bigint on both sides (the round-4 red row)
            F.col("min_tokens").cast("bigint").alias("min_tokens"),
            F.col("max_tokens").cast("bigint").alias("max_tokens"),
            "sum_tokens",
            (F.col("max_tokens") * F.col("n_docs") - F.col("sum_tokens"))
            .cast("bigint").alias("pad_waste"),
            F.expr(
                "(max_tokens * n_docs - sum_tokens) * 1000 "
                "DIV (max_tokens * n_docs)"
            ).cast("bigint").alias("waste_permille"),
        )
    )


def bpe_apply_merge(toks, a: str, b: str, joined: str) -> Column:
    """Greedy left-to-right non-overlapping application of ONE BPE
    merge (a, b) -> joined over a token-array column, as a codegen
    fold: walk the tokens, and whenever the last emitted token is
    ``a`` and the next is ``b``, replace the pair with ``joined``.
    After a merge the last emitted token is ``joined`` (never equal to
    ``a`` — it is strictly longer), so overlapping candidates like
    "a a a" with merge (a,a) collapse to ["a_a", "a"] exactly as
    reference BPE does. try_element_at (NOT element_at, which throws
    under ANSI semantics) yields NULL on the empty accumulator and the
    comparison fails — no explicit size guard needed."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == a) & (t == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_learn_merges(
    df: DataFrame,
    text: str = "text",
    n_merges: int = 3,
    sep: str = "_",
):
    """Iterative BPE merge learning at corpus scale — the tokenizer-
    induction loop (Sennrich et al. 2016 applied to whitespace words):
    each round counts all adjacent token pairs, picks the most
    frequent (ties by the 'a b' pair string — a total order both
    engines share), and greedily merges it corpus-wide. Returns
    (merges, final_tokens_df) where merges is a list of
    (round, a, b, pair_count, total_tokens_after).

    Scale shape per round: one explode → map-side-combined pair count
    (the only corpus shuffle) feeding ONE fused driver collect, then a
    map-only fold applies the merge. Production BPE trains on a corpus
    SAMPLE; the loop here is the honest distributed shape for the
    counting phase, which is where corpus scale lives. Intermediate
    token frames are cached and owned by the calling thread; each round
    releases its predecessor, and the caller releases the final one.
    The input is spread to the session's parallelism
    BEFORE tokenization (r14; only the text column rides the
    equalizing shuffle — ADVICE r14): every round's merge fold and
    pair count replay over the cached token frame's partitioning, so a
    single-split source would otherwise pin the whole loop — measured
    ~1 s/round on one core at sf0.1 — to one task; the one-time
    repartition is amortized across all n_merges passes.

    ONE ACTION PER ROUND (r15, guide section 1.2 — the old loop ran
    two: a LIMIT-1 top-pair collect plus a sum-of-sizes scan of the
    merged frame): the pair explode's zip_with pads the shorter slice
    with NULL, emitting exactly ONE null-b row per non-empty document,
    so within a single counting pass over frame r
        total_tokens(r) = (# non-null pairs) + (# null-pad rows)
    holds exactly, per document (size = (size-1) + 1; empty docs
    contribute to neither side). Keeping the pad rows as a NULL gram
    group therefore lets round r's aggregation return the PREVIOUS
    round's total_tokens_after alongside its own top pair — one job
    per round plus a single sum-of-sizes bookend for the final round.
    The min(struct(-c, g)) aggregate replays the old
    ORDER BY c DESC, g ASC LIMIT 1 total order exactly."""
    from ..util import own, release, spread_input

    cur = own(spread_input(df.select(F.col(text)), df.sparkSession).select(
        tokens(F.col(text)).alias("__toks")
    ).cache())
    merges = []
    pending = None  # (round, a, b, pair_count) awaiting total_after
    prev_frame = None  # superseded cache, released once cur materializes
    for rnd in range(1, n_merges + 1):
        gram = F.when(
            F.col("__p.b").isNotNull(),
            F.concat_ws(" ", F.col("__p.a"), F.col("__p.b")),
        )  # NULL for the one zip_with pad row per non-empty doc
        pairs = (
            cur.select(
                F.explode(
                    F.zip_with(
                        F.col("__toks"),
                        F.slice(
                            F.col("__toks"), 2,
                            F.greatest(F.size("__toks") - 1, F.lit(0)),
                        ),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("__p")
            )
            .select(gram.alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        row = pairs.agg(
            F.min(
                F.when(
                    F.col("g").isNotNull(),
                    F.struct((-F.col("c")).alias("nc"), F.col("g").alias("g")),
                )
            ).alias("top"),
            F.sum(F.when(F.col("g").isNotNull(), F.col("c"))).alias("np"),
            F.max(F.when(F.col("g").isNull(), F.col("c"))).alias("nd"),
        ).collect()[0]
        if prev_frame is not None:
            release([prev_frame])  # cur's cache materialized just now
            prev_frame = None
        if pending is not None:
            merges.append(
                pending + (int(row.np or 0) + int(row.nd or 0),)
            )
            pending = None
        if row.top is None:
            break
        a, b = row.top.g.split(" ", 1)
        joined = a + sep + b
        nxt = own(
            cur.select(bpe_apply_merge(F.col("__toks"), a, b, joined).alias("__toks")).cache()
        )
        pending = (rnd, a, b, int(-row.top.nc))
        prev_frame = cur
        cur = nxt
    if pending is not None:
        # final round's total: one sum-of-sizes bookend (also the
        # action that materializes the final frame's cache before the
        # superseded predecessor is released)
        total_after = cur.select(
            F.sum(F.size("__toks")).cast("bigint").alias("n")
        ).collect()[0].n
        merges.append(pending + (int(total_after or 0),))
    if prev_frame is not None:
        release([prev_frame])
    return merges, cur


def bigram_cppm_vocab(
    df: DataFrame, text: str = "text", min_count: int = 2
) -> DataFrame:
    """Corpus bigram conditional-probability model: (gram, cppm) where
    gram = 'a b' and cppm = cnt(a b) * 1e6 DIV prefix_cnt(a) — the
    integer-DIV estimate of P(b | a) in ppm. prefix_cnt(a) sums ALL
    bigrams starting with a (so conditionals per prefix sum to ~1e6),
    computed by re-aggregating the bigram counts — no second corpus
    scan. Bigrams under ``min_count`` are dropped from the model.

    Scale: one explode → map-side-combined bigram count (vocabulary²-
    bounded, in practice vocabulary-sized); the prefix re-agg and the
    final join run on that bounded table."""
    toks = F.split(F.lower(F.col(text)), WS)
    grams = df.select(
        F.explode(sliding_grams(toks, 2)).alias("gram")
    ).filter(F.instr(F.col("gram"), " ") > 0)  # drop short-doc whole-text fallbacks
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    prefix = (
        counts.select(
            F.substring_index("gram", " ", 1).alias("__a"), "cnt"
        )
        .groupBy("__a")
        .agg(F.sum("cnt").alias("__pc"))
    )
    return (
        counts.filter(F.col("cnt") >= min_count)
        .withColumn("__a", F.substring_index("gram", " ", 1))
        .join(F.broadcast(prefix), "__a")
        .select("gram", F.expr("cnt * 1000000 DIV __pc").alias("cppm"))
    )


def bigram_quality_scores(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", min_count: int = 2
) -> DataFrame:
    """Bigram-LM quality scoring — the ORDER-sensitive upgrade of
    unigram_quality_scores: a document's score is the mean corpus
    conditional bigram probability (ppm, integer DIV) over its
    adjacent token pairs. Shuffled-word gibberish keeps its unigram
    score but collapses here, because the corpus has never seen those
    transitions — the fluency signal a real LM-perplexity filter
    provides, in exactly-replayable integer arithmetic.

    Returns (id_col, n_bigrams, mean_cppm). Docs with fewer than two
    tokens score 0 over 0 bigrams. Scale: the model is
    vocabulary-sized and BROADCAST into the per-doc join; the one
    corpus-sized shuffle is the final per-doc re-aggregation
    (~1 row/doc after map-side combine)."""
    toks = F.split(F.lower(F.col(text)), WS)
    pairs = df.select(
        F.col(id_col),
        F.explode(sliding_grams(toks, 2)).alias("gram"),
    ).filter(F.instr(F.col("gram"), " ") > 0)
    vocab = bigram_cppm_vocab(df, text, min_count)
    return (
        pairs.join(F.broadcast(vocab), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("SUM(COALESCE(cppm, 0)) DIV COUNT(*)")
            .cast("bigint").alias("mean_cppm"),
        )
        .unionByName(
            df.filter(F.size(F.split(F.lower(F.col(text)), WS)) < 2).select(
                F.col(id_col),
                F.lit(0).cast("bigint").alias("n_bigrams"),
                F.lit(0).cast("bigint").alias("mean_cppm"),
            )
        )
    )


def load_bpe_merges(source) -> list:
    """merges.txt-format loader for :func:`bpe_encode` (VERDICT r11
    directive #5 — the seam made executable): parse the standard BPE
    export format every public tokenizer ships (optional FIRST-line
    ``#version:`` header — the only comment the format defines, since
    ``#`` is a legitimate merge token in code corpora; one ``a b``
    pair per line; priority = line order; blank lines skipped) into the
    ``[(a, b), ...]`` list bpe_encode takes. Accepts a path or any
    iterable of lines. Driver-side by design: a merge list is
    KB-scale and becomes plan literals either way (the broadcast
    analogue bpe_encode documents); the loader's only job is format
    fidelity, and it FAILS LOUDLY on malformed lines instead of
    silently mis-tokenizing a corpus.

    Property pinned in tests/test_text_curation.py: a learned merge
    list round-tripped through this format encodes the gate corpus
    IDENTICALLY to the inline list (loaded ≡ inline, the
    parse_psl/swap-seam precedent)."""
    if isinstance(source, (str, bytes)) or hasattr(source, "__fspath__"):
        with open(source, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
    else:
        lines = [str(x).rstrip("\n") for x in source]
    merges = []
    seen_content = False
    for ln, raw in enumerate(lines, 1):
        line = raw.strip()
        if ln == 1:
            line = line.lstrip("\ufeff")  # UTF-8 BOM tolerated
        if not line:
            continue  # blank / trailing newline
        if not seen_content and line.startswith("#version"):
            seen_content = True
            continue  # the ONLY header the format defines is a
            # '#version: ...' on the FIRST NON-BLANK line (ADVICE
            # r12: common tokenizer tooling tolerates a leading
            # blank line / BOM before it, so key on first content
            # rather than raw line number); any other '#' line is a
            # real merge — code-corpus vocabularies carry '#' tokens,
            # and skipping them silently mis-tokenizes everything
            # after (review finding r12: the old any-line '#' skip
            # dropped ('#', '#') roundtripped through dump)
        seen_content = True
        parts = line.split(" ")
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ValueError(
                f"merges.txt line {ln}: expected exactly 'a b', got "
                f"{raw!r} — a malformed merge silently mis-tokenizes "
                "everything after it, so this is fatal"
            )
        merges.append((parts[0], parts[1]))
    return merges


def dump_bpe_merges(merges, path=None) -> str:
    """Inverse of :func:`load_bpe_merges`: serialize a learned merge
    list (``[(a, b), ...]`` or bpe_learn_merges' 5-tuples — extra
    fields ignored) into merges.txt format, optionally writing it to
    ``path``. Exists so a corpus-learned tokenizer can be exported in
    the same public format a trained one would be imported from —
    making the seam bidirectional and the roundtrip testable."""
    out = ["#version: 0.2"]
    for m in merges:
        a, b = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        if " " in a or " " in b or not a or not b:
            raise ValueError(
                f"merge pair ({a!r}, {b!r}) contains a space or is "
                "empty — not representable in merges.txt"
            )
        out.append(f"{a} {b}")
    text = "\n".join(out) + "\n"
    if path is not None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
    return text


def load_classifier_weights(
    spark, path, n_buckets: int = 4096
) -> DataFrame:
    """Trained-weights loader for
    :func:`quality_classifier_scores_weighted` (VERDICT r11 directive
    #5): read a ``(bucket, weight)`` export — TSV (two tab-separated
    integer columns, ``#`` comments allowed) or parquet by extension —
    into the ``bucket int, weight bigint`` frame the weighted seam
    broadcast-joins. Validates eagerly (the table is 4096 rows — a
    1-row-class collect, not a data scan): buckets must be unique and
    inside [0, n_buckets) — a duplicate or out-of-range bucket means
    the export and the hasher disagree on the feature space, which
    must fail at load, not skew margins silently."""
    p = str(path)
    if p.endswith(".parquet"):
        w = spark.read.parquet(p).select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("weight").cast("bigint").alias("weight"),
        )
    else:
        raw = spark.read.csv(
            p, sep="\t", comment="#", schema="bucket string, weight string"
        )
        # strict parse (review finding r12): a row whose bucket or
        # weight fails the integer cast — a stray header line, float
        # formatting, a mangled column — must FAIL the load, not be
        # silently dropped by a null filter (a missing bucket skews
        # every margin it would have scored)
        w = raw.select(
            F.expr("try_cast(bucket AS int)").alias("bucket"),
            F.expr("try_cast(weight AS bigint)").alias("weight"),
            F.col("bucket").alias("__rawb"),
            F.col("weight").alias("__raww"),
        )
        malformed = w.filter(
            F.col("bucket").isNull() | F.col("weight").isNull()
        ).limit(3).collect()
        if malformed:
            raise ValueError(
                "unparseable weight row(s) (first few: "
                + ", ".join(
                    f"({r['__rawb']!r}, {r['__raww']!r})" for r in malformed
                )
                + ") — a header line or non-integer field must fail "
                "at load, not silently vanish from the weight table"
            )
        w = w.select("bucket", "weight")
    bad = w.filter(
        (F.col("bucket") < 0) | (F.col("bucket") >= n_buckets)
        | F.col("weight").isNull()
    ).count()
    if bad:
        raise ValueError(
            f"{bad} weight row(s) out of range [0, {n_buckets}) or "
            "NULL — the export disagrees with the hasher's feature "
            "space; refusing to score with it"
        )
    n, n_distinct = w.count(), w.select("bucket").distinct().count()
    if n != n_distinct:
        raise ValueError(
            f"{n - n_distinct} duplicate bucket id(s) in the weight "
            "export — ambiguous weights must fail at load"
        )
    return w


def hf_vocab_from_merges(merges, sep: str = "_", specials=("<unk>",)) -> dict:
    """Deterministic GPT-2-style vocabulary derived from a merge
    list — the vocab.json half of the standard two-file tokenizer
    export (vocab.json + merges.txt, the format every public BPE
    tokenizer ships): special tokens first, then the BASE symbols in
    first-appearance order scanning the merges left-to-right (a
    symbol that is itself an earlier merge's product is NOT base),
    then one product token per merge in merge-priority order —
    exactly the id assignment a greedy BPE trainer produces (byte
    alphabet first, merged symbols appended as learned). ``sep``
    matches :func:`bpe_encode`'s joined-token spelling (GPT-2's
    byte-level concat convention is ``sep=""``)."""
    vocab: dict = {}
    for s in specials:
        vocab[s] = len(vocab)
    products = set()
    pending = []
    for a, b in ((m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
                 for m in merges):
        for sym in (a, b):
            if sym not in vocab and sym not in products:
                vocab[sym] = len(vocab)
        pending.append(f"{a}{sep}{b}")
        products.add(f"{a}{sep}{b}")
    for prod in pending:
        if prod not in vocab:
            vocab[prod] = len(vocab)
    return vocab


def dump_hf_tokenizer(
    vocab: dict, merges, vocab_path, merges_path, sep: str = "_"
) -> tuple:
    """Serialize a (vocab, merges) tokenizer pair into the standard
    two-file interchange format :func:`load_hf_tokenizer` reads back:
    ``vocab.json`` (one JSON object, token -> integer id) and
    ``merges.txt`` (via :func:`dump_bpe_merges`). Validates the pair
    is self-consistent BEFORE writing — ids must be exactly
    0..len-1 with no duplicates (the contiguous id space every
    id-indexed embedding table assumes), and every merge product
    must hold a vocab id (a merge that emits an un-id-able token
    breaks any consumer) — so a malformed export can never be
    produced, only refused."""
    import json as _json

    ids = sorted(vocab.values())
    if ids != list(range(len(vocab))):
        raise ValueError(
            "vocab ids are not exactly 0..len-1 (duplicates or gaps) "
            "— an id-indexed consumer would mis-look-up every token "
            "after the first hole; refusing to export"
        )
    for m in merges:
        a, b = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        prod = f"{a}{sep}{b}"
        if prod not in vocab:
            raise ValueError(
                f"merge product {prod!r} has no vocab id — the pair "
                "is inconsistent; refusing to export"
            )
    vtext = _json.dumps(
        dict(sorted(vocab.items(), key=lambda kv: kv[1])),
        ensure_ascii=False, indent=0,
    )
    with open(vocab_path, "w", encoding="utf-8") as fh:
        fh.write(vtext + "\n")
    mtext = dump_bpe_merges(merges, merges_path)
    return vtext, mtext


def load_hf_tokenizer(vocab_source, merges_source, sep: str = "_") -> tuple:
    """Two-file tokenizer loader — the vocab.json + merges.txt SEAM
    (the standard export format of every public BPE tokenizer) made
    executable like the merges-only loader before it: parse
    vocab.json (strict JSON object, string tokens -> integer ids)
    and merges.txt (:func:`load_bpe_merges`), then cross-validate
    the pair the way a real tokenizer must — every merge operand AND
    its product need a vocab id (ids are what the encoded corpus
    ships downstream; a missing one silently drops tokens), ids must
    be unique non-negative integers, tokens non-empty. Driver-side
    by design: both files are KB-scale model config that becomes
    plan literals (the merges.txt precedent). Returns
    ``(vocab: dict, merges: list)``.

    Property pinned in tests/test_text_curation.py: a derived pair
    round-tripped through the two files encodes + id-maps the gate
    corpus IDENTICALLY to the inline pair (loaded ≡ inline)."""
    import json as _json

    if isinstance(vocab_source, (str, bytes)) or hasattr(
        vocab_source, "__fspath__"
    ):
        with open(vocab_source, encoding="utf-8") as fh:
            raw = fh.read()
    else:
        raw = str(vocab_source)
    try:
        vocab = _json.loads(raw)
    except ValueError as e:
        raise ValueError(
            f"vocab.json is not valid JSON ({e}) — a truncated or "
            "mangled vocab must fail at load, not mis-id a corpus"
        )
    if not isinstance(vocab, dict) or not vocab:
        raise ValueError(
            "vocab.json must be one non-empty JSON object "
            "(token -> id); refusing anything else"
        )
    seen_ids = set()
    for tok, vid in vocab.items():
        if not isinstance(tok, str) or not tok:
            raise ValueError(
                f"vocab token {tok!r} is empty or non-string — "
                "refusing a malformed vocab"
            )
        if isinstance(vid, bool) or not isinstance(vid, int) or vid < 0:
            raise ValueError(
                f"vocab id {vid!r} for token {tok!r} is not a "
                "non-negative integer — refusing a malformed vocab"
            )
        if vid in seen_ids:
            raise ValueError(
                f"duplicate vocab id {vid} (token {tok!r}) — an "
                "ambiguous id space must fail at load"
            )
        seen_ids.add(vid)
    merges = load_bpe_merges(merges_source)
    for a, b in merges:
        prod = f"{a}{sep}{b}"
        for sym, what in ((a, "left operand"), (b, "right operand"),
                          (prod, "product")):
            if sym not in vocab:
                raise ValueError(
                    f"merge ({a!r}, {b!r}): {what} {sym!r} has no "
                    "vocab id — the two files disagree; an encoder "
                    "using this pair would emit un-id-able tokens"
                )
    return vocab, merges


def bpe_encode(
    df: DataFrame,
    merges,
    text: str = "text",
    sep: str = "_",
    out_tokens: str = "bpe_tokens",
) -> DataFrame:
    """Encode the corpus with a LEARNED BPE merge list — the apply
    half of the tokenizer loop (bpe_learn_merges is the train half;
    production swaps in a tokenizer's exported merges.txt, which is
    exactly this (a, b) priority list). Each merge is applied
    corpus-wide as one exhaustive greedy left-to-right pass in
    priority order, which equals reference priority-queue encoding
    for greedily-learned lists: a later merge's joined token is
    strictly newer than any earlier pair's operands, and merging a
    pair never makes its two NEIGHBORS adjacent, so later merges
    cannot create matches for earlier ones. Returns the input plus
    ``out_tokens`` (array<string>) and ``n_bpe_tokens``.

    Scale shape: entirely map-only — one codegen fold per merge with
    NO shuffle anywhere; the merge list lives in the plan as
    literals (the merges.txt broadcast analogue). Staged one
    withColumn per merge so janino compiles lambda references
    instead of an N-deep nested-fold expression (the codegen-bloat
    trap). The per-merge fold's append-accumulator is quadratic in
    DOCUMENT length (bounded, not corpus-sized) — the inherent cost
    of a stateful greedy walk."""
    # NULL text folds to '' (the module's NULL-doc convention)
    out = df.withColumn(
        "__t", tokens(F.coalesce(F.col(text), F.lit("")))
    )
    for a, b in merges:
        out = out.withColumn(
            "__t", bpe_apply_merge(F.col("__t"), a, b, f"{a}{sep}{b}")
        )
    return out.select(
        *[F.col(c) for c in df.columns],
        F.col("__t").alias(out_tokens),
        F.size("__t").cast("bigint").alias("n_bpe_tokens"),
    )


def lm_perplexity_scores(
    df: DataFrame,
    ref_where,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al., "CCNet:
    Extracting high quality monolingual datasets from web crawl
    data", LREC 2020): fit an add-one-smoothed bigram LM on a clean
    REFERENCE slice (``ref_where``, CCNet's Wikipedia stand-in),
    score every document's mean negative log-likelihood under it,
    and bucket the corpus into head / middle / tail thirds by that
    perplexity proxy — the held-out-model design that separates this
    from bigram_quality_scores (which scores a corpus against
    itself).

    Per adjacent token pair (w1, w2):
      nll_e6 = floor(-log10((c(w1,w2) + 1) / (pc(w1) + V)) * 1e6)
    with c/pc counts from the reference slice (pc = occurrences of w1
    as a bigram prefix), V = reference distinct-token count, and
    missing counts 0 — add-one smoothing keeps unseen transitions
    finite while the floor-scaled integers keep the score
    engine-replayable (log10 on binary doubles, ties measure-zero).

    Returns (id_col, n_bigrams, sum_nll_e6, mean_nll_e6, bucket):
    mean = sum DIV n (positive operands, so truncation == floor in
    every engine); bucket by GLOBAL rank r (0-based) over
    (mean_nll_e6, id) ascending — 'head' iff 3*(r+1) <= n_scored,
    'middle' iff 3*(r+1) <= 2*n_scored, else 'tail'; documents with
    fewer than two tokens are 'unscored' (no signal, excluded from
    the rank). The rank uses util.global_dense_rank — range-partition
    + offsets, never a single-partition window.

    Scale shape: the reference model is vocabulary-sized, cut by
    ``min_count`` (raise it to bound the broadcast on huge reference
    slices) and BROADCAST into the per-bigram join; the corpus-sized
    shuffles are the per-doc re-aggregation (map-side combined) and
    the one range sort of the 1-row-per-doc score frame."""
    from ..util import global_dense_rank, own

    toks = F.split(F.lower(F.coalesce(F.col(text), F.lit(""))), WS)
    ref = df.filter(ref_where)
    ref_pairs = ref.select(
        F.explode(sliding_grams(F.split(F.lower(F.col(text)), WS), 2)).alias(
            "gram"
        )
    ).filter(F.instr(F.col("gram"), " ") > 0)
    bc = ref_pairs.groupBy("gram").agg(F.count(F.lit(1)).alias("__c12"))
    # eager checkpoint (r14): the model is vocabulary-bounded and feeds
    # TWO broadcast subtrees (bc itself and the pc re-aggregation) —
    # uncheckpointed, each broadcast job replays the reference explode
    # + count from the corpus scan
    bc = own(bc.filter(F.col("__c12") >= min_count).localCheckpoint(eager=True))
    pc = bc.groupBy(
        F.split(F.col("gram"), " ")[0].alias("__w1")
    ).agg(F.sum("__c12").alias("__pc"))
    v_df = ref.select(
        F.explode(F.split(F.lower(F.col(text)), WS)).alias("__w")
    ).filter(F.col("__w") != "")
    # scalar V via a 1-row broadcast cross join (the registry idiom)
    v = v_df.agg(F.count_distinct("__w").alias("__V"))

    pairs = df.select(
        F.col(id_col), F.explode(sliding_grams(toks, 2)).alias("gram")
    ).filter(F.instr(F.col("gram"), " ") > 0)
    scored_pairs = (
        pairs.withColumn("__w1", F.split(F.col("gram"), " ")[0])
        .join(F.broadcast(bc), "gram", "left")
        .join(F.broadcast(pc), "__w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            F.col(id_col),
            F.floor(
                -F.log10(
                    (F.coalesce(F.col("__c12"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("__pc"), F.lit(0)) + F.col("__V"))
                )
                * F.lit(1000000.0)
            ).cast("bigint").alias("__nll_e6"),
        )
    )
    per_doc = own(scored_pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__nll_e6").alias("sum_nll_e6"),
    ).withColumn(
        "mean_nll_e6", F.expr("sum_nll_e6 DIV n_bigrams").cast("bigint")
    ).localCheckpoint(eager=True))
    # ^ eager checkpoint (r14): the 1-row-per-doc score frame feeds the
    # n_scored broadcast, the rank's range sort AND its offsets collect
    # — uncheckpointed, the whole pairs+model join replayed 3x
    n_scored = per_doc.agg(F.count(F.lit(1)).alias("__n"))
    ranked = global_dense_rank(per_doc, ["mean_nll_e6", id_col], "__r")
    bucketed = ranked.crossJoin(F.broadcast(n_scored)).select(
        id_col,
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("sum_nll_e6").cast("bigint").alias("sum_nll_e6"),
        "mean_nll_e6",
        F.when(3 * (F.col("__r") + 1) <= F.col("__n"), F.lit("head"))
        .when(3 * (F.col("__r") + 1) <= 2 * F.col("__n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    # complement partition of the scored set: any doc with >= 2 raw
    # tokens produces >= 1 space-bearing gram (sliding_grams windows
    # are space-joined), so per_doc and this branch never overlap
    unscored = (
        df.select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") < 2)
        .select(
            F.col(id_col),
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(0).cast("bigint").alias("sum_nll_e6"),
            F.lit(None).cast("bigint").alias("mean_nll_e6"),
            F.lit("unscored").alias("bucket"),
        )
    )
    return bucketed.unionByName(unscored)


def moore_lewis_scores(
    df: DataFrame,
    indomain_where,
    general_where,
    text: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Cross-entropy-difference data selection (public provenance:
    Moore & Lewis, "Intelligent Selection of Language Model Training
    Data", ACL 2010 — the classic targeted-selection method DSIR
    generalizes): fit TWO add-one-smoothed bigram LMs — an IN-DOMAIN
    model on ``indomain_where`` and a GENERAL model on
    ``general_where`` — score every document by the difference of its
    mean negative log-likelihoods, ``delta_e6 = mean_nll_in -
    mean_nll_gen`` (floor-scaled integer micro-units per side, the
    lm_perplexity_scores arithmetic verbatim so both engines replay it
    bit-for-bit), and flag the ``top_n`` most in-domain-like documents
    (SMALLEST delta — cheaper under the in-domain model than the
    general one) via scalable global rank. Returns (id, n_bigrams,
    sum_nll_in_e6, sum_nll_gen_e6, delta_e6, selected); sub-2-token
    docs carry NULL delta and selected=false.

    Scale shape: ONE bigram explode over the corpus feeds both
    models' scoring (each model is a vocabulary-sized broadcast — two
    broadcast joins on the same exploded frame, not two corpus
    passes); the wide shuffles are the per-doc re-aggregation
    (map-side combined) and one range sort of the 1-row-per-doc score
    frame. Real pipelines swap the bigram stand-ins for neural-LM
    log-prob columns — the delta/rank/select shape is identical."""
    from ..util import global_dense_rank

    toks = F.split(F.lower(F.coalesce(F.col(text), F.lit(""))), WS)

    # FUSED model fit (r14): both LMs come from ONE pass over the
    # union of the reference slices with per-row membership flags —
    # conditional counts (count_if / count_distinct over a when())
    # give each model exactly its own slice's statistics (a gram
    # absent from one slice carries a 0 there, which the scorer's
    # coalesce(.., 0) treated as 0 already), so six broadcast
    # subtrees each re-scanning a reference slice collapse into two.
    flagged = df.select(
        F.col(text),
        indomain_where.alias("__fin"),
        general_where.alias("__fgen"),
    ).filter(F.col("__fin") | F.col("__fgen"))
    rp = flagged.select(
        "__fin",
        "__fgen",
        F.explode(
            sliding_grams(F.split(F.lower(F.col(text)), WS), 2)
        ).alias("gram"),
    ).filter(F.instr(F.col("gram"), " ") > 0)
    bc_both = rp.groupBy("gram").agg(
        F.count_if(F.col("__fin")).alias("__ci"),
        F.count_if(F.col("__fgen")).alias("__cg"),
    )
    pc_both = bc_both.groupBy(
        F.split(F.col("gram"), " ")[0].alias("__w1")
    ).agg(F.sum("__ci").alias("__pi"), F.sum("__cg").alias("__pg"))
    v_both = (
        flagged.select(
            "__fin",
            "__fgen",
            F.explode(F.split(F.lower(F.col(text)), WS)).alias("w"),
        )
        .filter(F.col("w") != "")
        .agg(
            F.count_distinct(
                F.when(F.col("__fin"), F.col("w"))
            ).alias("__Vi"),
            F.count_distinct(
                F.when(F.col("__fgen"), F.col("w"))
            ).alias("__Vg"),
        )
    )

    pairs = df.select(
        F.col(id_col), F.explode(sliding_grams(toks, 2)).alias("gram")
    ).filter(F.instr(F.col("gram"), " ") > 0)

    def nll(c12, pc, v):
        return F.floor(
            -F.log10(
                (F.coalesce(c12, F.lit(0)) + F.lit(1.0))
                / (F.coalesce(pc, F.lit(0)) + v)
            )
            * F.lit(1000000.0)
        ).cast("bigint")

    scored_pairs = (
        pairs.withColumn("__w1", F.split(F.col("gram"), " ")[0])
        .join(F.broadcast(bc_both), "gram", "left")
        .join(F.broadcast(pc_both), "__w1", "left")
        .crossJoin(F.broadcast(v_both))
        .select(
            F.col(id_col),
            nll(F.col("__ci"), F.col("__pi"), F.col("__Vi")).alias("__ni"),
            nll(F.col("__cg"), F.col("__pg"), F.col("__Vg")).alias("__ng"),
        )
    )
    per_doc = (
        scored_pairs.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("__ni").cast("bigint").alias("sum_nll_in_e6"),
            F.sum("__ng").cast("bigint").alias("sum_nll_gen_e6"),
        )
        .withColumn(
            "delta_e6",
            F.expr(
                "(sum_nll_in_e6 DIV n_bigrams)"
                " - (sum_nll_gen_e6 DIV n_bigrams)"
            ).cast("bigint"),
        )
    )
    ranked = global_dense_rank(per_doc, ["delta_e6", id_col], "__r")
    scored = ranked.select(
        id_col, "n_bigrams", "sum_nll_in_e6", "sum_nll_gen_e6", "delta_e6",
        (F.col("__r") < top_n).alias("selected"),
    )
    unscored = (
        df.select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") < 2)
        .select(
            F.col(id_col),
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(0).cast("bigint").alias("sum_nll_in_e6"),
            F.lit(0).cast("bigint").alias("sum_nll_gen_e6"),
            F.lit(None).cast("bigint").alias("delta_e6"),
            F.lit(False).alias("selected"),
        )
    )
    return scored.unionByName(unscored)


# fixed artifact list for the mojibake probe: the UTF-8 bytes of the
# commonest Latin-1/Windows-1252 suspects as mis-decoded by a second
# UTF-8 pass (e.g. '\u00e9' -> '\u00c3\u00a9', right single quote ->
# '\u00e2\u20ac\u2122') — a data-file swap point for a fuller table
# (ftfy's sequence list is the public reference). The list is
# PREFIX-FREE (no artifact is a prefix of another) so the
# replace-count never double-counts; counting is substring
# occurrences, shared verbatim with the oracle.
MOJIBAKE_ARTIFACTS = (
    "\u00c3\u00a9",          # e-acute
    "\u00c3\u00a8",          # e-grave
    "\u00c3\u00a4",          # a-umlaut
    "\u00c3\u00b6",          # o-umlaut
    "\u00c3\u00bc",          # u-umlaut
    "\u00c3\u00b1",          # n-tilde
    "\u00c3\u00b3",          # o-acute
    "\u00c3\u00a7",          # c-cedilla
    "\u00e2\u20ac\u2122",   # right single quote
    "\u00e2\u20ac\u0153",   # left double quote
    "\u00e2\u20ac\u201c",   # en dash
    "\u00e2\u20ac\u201d",   # em dash
    "\u00c2\u00b7",          # middle dot
    "\u00c2\u00b0",          # degree sign
    "\u00c2\u00bb",          # right guillemet
)


def unicode_hygiene_stats(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    keep: tuple = (),
) -> DataFrame:
    """Encoding-hygiene screening — the curation stage that catches
    mojibake (double-decoded UTF-8), lost bytes (U+FFFD replacement
    chars), and binary-contaminated text (C0 control characters)
    before they poison a tokenizer's vocabulary:

      n_chars        — length (NULL text folds to '')
      n_replacement  — U+FFFD occurrences
      n_control      — C0 controls EXCEPT tab/newline/carriage-return
      n_mojibake     — total occurrences of the MOJIBAKE_ARTIFACTS
                       substrings (length-difference under replace;
                       the prefix-free list keeps counts disjoint)
      is_clean       — no replacement, no mojibake, and controls
                       under 1% of chars

    Entirely codegen (replace/length arithmetic plus one character
    class), map-only, zero shuffle; every rule replays verbatim in a
    SQL oracle."""
    t = F.coalesce(F.col(text), F.lit(""))
    n_repl = F.length(t) - F.length(
        F.replace(t, F.lit("\ufffd"), F.lit(""))
    )
    ctrl = F.length(t) - F.length(
        F.regexp_replace(t, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    )
    moji = F.lit(0).cast("bigint")
    for pat in MOJIBAKE_ARTIFACTS:
        moji = moji + (
            (F.length(t) - F.length(F.replace(t, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("bigint")
    return df.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("n_chars"),
        n_repl.cast("bigint").alias("n_replacement"),
        ctrl.cast("bigint").alias("n_control"),
        moji.alias("n_mojibake"),
        (
            (n_repl == 0)
            & (moji == 0)
            & (ctrl * 100 < F.greatest(F.length(t), F.lit(1)))
        ).alias("is_clean"),
        *[F.col(c) for c in keep],
    )


def blocklist_filter(
    df,
    terms,
    text: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
) -> DataFrame:
    """Term-blocklist screening (the NSFW/spam wordlist stage): count
    WHOLE-WORD, case-insensitive occurrences of any of ``terms`` and
    flag documents exceeding ``max_hits``. The N patterns compile
    into ONE alternation regex evaluated in codegen — the broadcast
    analogue of an Aho-Corasick scan (regex engines run the
    alternation as one automaton pass; for wordlists beyond regex
    size limits, chunk into several counts and sum).

    Word boundary = ``\\b`` on the LOWERCASED text with
    regex-escaped terms, semantics shared by Java regex and RE2 so a
    SQL oracle counts identically. Returns the input plus
    (n_blocklist_hits, blocked). NULL text folds to '' (no hits).

    Scale shape: map-only codegen, zero shuffle, pattern in the plan
    as a literal."""
    import re as _re

    if not terms:
        raise ValueError("blocklist_filter needs at least one term")
    pat = r"\b(?:" + "|".join(_re.escape(w.lower()) for w in terms) + r")\b"
    t = F.lower(F.coalesce(F.col(text), F.lit("")))
    hits = F.regexp_count(t, F.lit(pat)).cast("bigint")
    return df.select(
        *[F.col(c) for c in df.columns],
        hits.alias("n_blocklist_hits"),
        (hits > max_hits).alias("blocked"),
    )


# Corpus-adapted stand-in for Gopher's 8-word English stop-word list
# ("the, be, to, of, and, that, have, with"): only "the" exists in the
# synthetic vocabulary, so the rule would be constant-false with the
# real list. Same idiom as blocklist_filter's stand-in terms — the
# list is drawn from the corpus vocabulary so the rule is ENGAGED
# (473/500 docs pass, 27 fail at sf0.001); swap in the real list for
# natural-language corpora.
GOPHER_STOPWORDS_STANDIN = ("the", "a", "value", "data", "row")


def gopher_quality_stats(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    keep: tuple = (),
) -> DataFrame:
    """L37 Gopher document-quality rules (Rae et al. 2021, Table A1 —
    the MassiveText filter stage): per-document word count, mean word
    length, symbol-to-word ratio, alphabetic-word fraction, and
    stop-word presence, plus the combined keep/drop verdict:

      50 <= n_words <= 100000
      3 <= mean word length <= 10
      symbol-to-word ratio <= 0.1        (symbols: '#' and ellipsis)
      >= 80% of words contain an alphabetic character
      >= 2 distinct stop-words present   (GOPHER_STOPWORDS_STANDIN)

    The clean synthetic corpus has no symbols or digit tokens, so the
    symbol/alpha rules are engaged on a DETERMINISTICALLY DIRTIED
    twin of each document (the text_unicode_hygiene idiom): append
    (doc_id % 7) '42' tokens, (doc_id % 5) '#' tokens, and an
    ellipsis token when doc_id % 11 == 0. Both engines derive the
    same dirty text from (doc_id, text), so the oracle replays every
    rule verbatim. Line-shape rules (bullet/ellipsis line fractions)
    live with the other line-derived stats in
    gopher_repetition_stats.

    Determinism: ratios never leave integer math — emitted fractions
    are floor-scaled micros (x * 1000000 DIV n) and every rule
    compares cross-multiplied integers (e.g. mean word length in
    [3, 10] is 3*n_words <= word_chars <= 10*n_words).

    Scale shape: map-only codegen + higher-order functions over the
    token array, zero shuffle; the per-doc HOF cost is O(tokens)."""
    t = F.coalesce(F.col(text), F.lit(""))
    dirty = F.concat(
        t,
        F.repeat(F.lit(" 42"), (F.col(id_col) % 7).cast("int")),
        F.repeat(F.lit(" #"), (F.col(id_col) % 5).cast("int")),
        F.when(F.col(id_col) % 11 == 0, F.lit(" …")).otherwise(F.lit("")),
    )
    toks = tokens(dirty)
    nw = F.size(toks).cast("bigint")
    wchars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    nalpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("bigint")
    nsym = (
        F.length(dirty)
        - F.length(F.replace(F.replace(dirty, F.lit("#"), F.lit("")),
                             F.lit("…"), F.lit("")))
    ).cast("bigint")
    nstop = F.lit(0).cast("bigint")
    for w in GOPHER_STOPWORDS_STANDIN:
        nstop = nstop + F.when(
            dirty.rlike(r"\b" + w + r"\b"), F.lit(1)
        ).otherwise(F.lit(0))
    passes = (
        nw.between(50, 100000)
        & (wchars >= 3 * nw)
        & (wchars <= 10 * nw)
        & (10 * nsym <= nw)
        & (5 * nalpha >= 4 * nw)
        & (nstop >= 2)
    )
    return df.select(
        F.col(id_col),
        nw.alias("n_words"),
        wchars.alias("__wchars"),
        nsym.alias("__nsym"),
        nalpha.alias("__nalpha"),
        nstop.alias("n_stop_distinct"),
        passes.alias("passes"),
        *[F.col(c) for c in keep],
    ).select(
        id_col,
        "n_words",
        F.expr("__wchars * 1000000 DIV n_words").alias("mean_wlen_micro"),
        F.expr("__nsym * 1000000 DIV n_words").alias("symbol_ratio_micro"),
        F.expr("__nalpha * 1000000 DIV n_words").alias("frac_alpha_micro"),
        "n_stop_distinct",
        "passes",
        *keep,
    )


def gopher_repetition_stats(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    keep: tuple = (),
) -> DataFrame:
    """L37b Gopher repetition rules (Rae et al. 2021 — the
    MassiveText "repetitious documents" filter): per-document
    duplicate-line fraction, duplicate-line CHARACTER fraction,
    top-3-gram character coverage, and duplicated-5-gram character
    fraction, plus the combined repetitive verdict at the paper's
    thresholds (0.30 / 0.20 / 0.18 / 0.15).

    The corpus is newline-free, so "lines" are DERIVED
    deterministically (the generative-corpus idiom): chunks of
    ``3 + doc_id % 3`` tokens, and every doc_id % 5 == 0 document is
    treated as ``r = 2`` repeated content blocks — a scraped page
    whose main block appears twice. Occurrence counts scale by ``r``
    (block boundaries reset per block, so counts are exactly
    r x base), which both ENGAGES the dup rules by construction
    (every line of an r=2 doc is a duplicate) and keeps the whole
    computation a closed-form function of (doc_id, text) that a SQL
    oracle replays verbatim.

    Character-coverage semantics are the documented occurrence-sum
    variant: chars covered by duplicated n-grams = sum over
    duplicated grams of occurrences x gram length (overlap counted
    per occurrence), not the paper's deduplicated character spans —
    and the top-3-gram coverage counts only REPEATED grams
    (occurrences >= 2; a gram seen once covers 0), so a short
    all-distinct document is never flagged by gram coverage alone.

    Determinism: all fractions are floor-scaled micros over integer
    counts; the verdict compares cross-multiplied integers.

    Scale shape: map-only nested higher-order functions over the
    token array (the repetition_top_bigram shape) — the corpus is
    never shuffled. Per-doc cost is O(u * n) over distinct
    lines/grams, right for page-sized docs; book-length docs switch
    to the explode + groupBy(doc_id, gram) shape."""
    t = F.coalesce(F.col(text), F.lit(""))
    base = df.select(
        F.col(id_col),
        F.split(t, WS).alias("toks"),
        F.length(t).cast("bigint").alias("txt_chars"),
        (F.lit(3) + F.col(id_col) % 3).cast("int").alias("ll"),
        F.when(F.col(id_col) % 5 == 0, F.lit(2))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("r"),
        *[F.col(c) for c in keep],
    )
    arrs = base.select(
        id_col,
        "txt_chars",
        "r",
        *keep,
        F.expr(
            "transform(sequence(1, (size(toks) + ll - 1) div ll),"
            " i -> array_join(slice(toks, (i - 1) * ll + 1, ll), ' '))"
        ).alias("lines"),
        sliding_grams(F.col("toks"), 3).alias("g3"),
        sliding_grams(F.col("toks"), 5).alias("g5"),
    )
    cnt = (
        "transform(array_distinct({a}), d -> struct("
        "r * bigint(size(filter({a}, x -> x = d))) AS rc,"
        " bigint(length(d)) AS ln))"
    )
    stats = arrs.select(
        id_col,
        "r",
        *keep,
        (F.expr("bigint(size(lines))") * F.col("r")).alias("n_lines"),
        (F.expr("aggregate(lines, 0L, (acc, l) -> acc + length(l))") * F.col("r")).alias(
            "__line_chars"
        ),
        (F.col("txt_chars") * F.col("r")).alias("__tot_chars"),
        F.expr(
            "aggregate(" + cnt.format(a="lines") + ", 0L,"
            " (acc, s) -> acc + IF(s.rc >= 2, s.rc, 0L))"
        ).alias("__dup_occ"),
        F.expr(
            "aggregate(" + cnt.format(a="lines") + ", 0L,"
            " (acc, s) -> acc + IF(s.rc >= 2, s.rc * s.ln, 0L))"
        ).alias("__dup_chars"),
        F.expr(
            "aggregate(" + cnt.format(a="g3") + ", 0L,"
            " (acc, s) -> greatest(acc, IF(s.rc >= 2, s.rc * s.ln, 0L)))"
        ).alias("__top3_cov"),
        F.expr(
            "aggregate(" + cnt.format(a="g5") + ", 0L,"
            " (acc, s) -> acc + IF(s.rc >= 2, s.rc * s.ln, 0L))"
        ).alias("__dup5_chars"),
    )
    return stats.select(
        id_col,
        F.col("r").alias("n_blocks"),
        "n_lines",
        F.expr("__dup_occ * 1000000 DIV greatest(n_lines, 1)").alias(
            "dup_line_frac_micro"
        ),
        F.expr("__dup_chars * 1000000 DIV greatest(__line_chars, 1)").alias(
            "dup_line_char_frac_micro"
        ),
        F.expr("__top3_cov * 1000000 DIV greatest(__tot_chars, 1)").alias(
            "top3_char_cov_micro"
        ),
        F.expr("__dup5_chars * 1000000 DIV greatest(__tot_chars, 1)").alias(
            "dup5_char_frac_micro"
        ),
        (
            (10 * F.col("__dup_occ") > 3 * F.col("n_lines"))
            | (5 * F.col("__dup_chars") > F.col("__line_chars"))
            | (100 * F.col("__top3_cov") > 18 * F.col("__tot_chars"))
            | (100 * F.col("__dup5_chars") > 15 * F.col("__tot_chars"))
        ).alias("is_repetitive"),
        *keep,
    )


def quality_classifier_scores(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    keep: tuple = (),
    margin_threshold: int = 0,
) -> DataFrame:
    """L39 model-based quality classification — the fastText-shaped
    linear classifier every recent curation pipeline runs
    (FineWeb-Edu's educational-value scorer, DCLM's
    good-reference-text filter; Joulin et al. 2016 architecture):
    bag of unigram + bigram features, feature HASHING into
    ``n_buckets`` buckets, a linear layer over the bucket weights,
    and a sign threshold.

      n_feats      — unigram + bigram feature occurrences
      n_pos_feats  — occurrences whose bucket weight is positive
      margin       — sum of bucket weights (the pre-sigmoid logit)
      quality_ok   — margin > 0

    The hash is the first 3 hex nibbles of md5(feature) (the repo's
    md5-twin idiom — DuckDB computes identical digests, so the
    WHOLE fit-free model replays in SQL), and the weight table is a
    closed-form stand-in: w(b) = (b * 2654435761) % 1001 - 500, a
    Knuth multiplicative scramble centered on zero. A real exported
    fastText/regression model swaps in as a broadcast (bucket,
    weight) table joined on the same hash — the documented swap
    point; the hashing, pooling, and thresholding machinery is the
    production shape either way. Integer weights keep every margin
    exact, so no float boundary exists between engines.

    Scale shape: map-only — two transform passes per doc (md5 once
    per feature, then 6 substring reads), one aggregate fold; the
    corpus is never shuffled and no model state exceeds the plan's
    literals. Cost is O(features) per doc."""
    t = F.coalesce(F.col(text), F.lit(""))
    nib = (
        "(CASE WHEN substring(m, {i}, 1) <= '9'"
        " THEN ascii(substring(m, {i}, 1)) - 48"
        " ELSE ascii(substring(m, {i}, 1)) - 87 END)"
    )
    bucket = (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16"
        f" + {nib.format(i=3)}) % {n_buckets})"
    )
    w_expr = f"bigint(({bucket} * 2654435761) % 1001 - 500)"
    base = df.select(
        F.col(id_col),
        F.split(t, WS).alias("toks"),
        *[F.col(c) for c in keep],
    )
    feats = base.select(
        id_col,
        F.concat(
            F.col("toks"), sliding_grams(F.col("toks"), 2)
        ).alias("feats"),
        *keep,
    )
    scored = feats.select(
        id_col,
        F.expr("bigint(size(feats))").alias("n_feats"),
        F.expr(
            "transform(transform(feats, f -> md5(f)),"
            f" m -> {w_expr})"
        ).alias("__ws"),
        *keep,
    )
    return scored.select(
        id_col,
        "n_feats",
        F.expr(
            "aggregate(__ws, 0L, (acc, x) -> acc + IF(x > 0, 1L, 0L))"
        ).alias("n_pos_feats"),
        F.expr("aggregate(__ws, 0L, (acc, x) -> acc + x)").alias("margin"),
        *keep,
    ).select(
        id_col,
        "n_feats",
        "n_pos_feats",
        "margin",
        (F.col("margin") > margin_threshold).alias("quality_ok"),
        *keep,
    )


def quality_classifier_scores_weighted(
    df: DataFrame,
    weights: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    margin_threshold: int = 0,
) -> DataFrame:
    """The EXECUTABLE weight-swap seam ``quality_classifier_scores``
    documents (r10, the parse_psl/swap_psl precedent): identical
    tokenize → unigram+bigram → md5-nibble feature hashing, but the
    linear layer's weights come from a ``weights`` DataFrame
    ``(bucket int, weight bigint)`` — the shape a real exported
    fastText / logistic-regression model ships in — broadcast-joined
    on the bucket. Same ``(id, n_feats, n_pos_feats, margin,
    quality_ok)`` output contract; buckets absent from the table
    weigh 0 (a real export is total over ``n_buckets``, the coalesce
    is belt-and-braces). Fed the closed-form stand-in's own table,
    this is bit-identical to the inline path
    (tests/test_text_curation.py pins it), so swapping trained
    weights changes SCORES only — never the machinery.

    Scale shape: the explode moves (id, bucket int) pairs, the weight
    table is a broadcast (4096 rows ~ 64 KB), and the per-doc
    aggregate map-side combines — one shuffle of scalar pairs where
    the inline path has zero; that is the honest price of
    table-driven weights (the alternative, a 4096-literal array in
    the plan, is the janino-bloat trap)."""
    t = F.coalesce(F.col(text), F.lit(""))
    nib = (
        "(CASE WHEN substring(m, {i}, 1) <= '9'"
        " THEN ascii(substring(m, {i}, 1)) - 48"
        " ELSE ascii(substring(m, {i}, 1)) - 87 END)"
    )
    bucket = (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16"
        f" + {nib.format(i=3)}) % {n_buckets})"
    )
    feats = df.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.split(t, WS), sliding_grams(F.split(t, WS), 2)
            )
        ).alias("f"),
    ).select(
        id_col, F.md5("f").alias("m")
    ).select(
        id_col, F.expr(bucket).cast("int").alias("bucket")
    )
    w = weights.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("weight").cast("bigint").alias("__w"),
    )
    scored = (
        feats.join(F.broadcast(w), "bucket", "left")
        .withColumn("__w", F.coalesce("__w", F.lit(0)))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum(F.when(F.col("__w") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos_feats"),
            F.sum("__w").cast("bigint").alias("margin"),
        )
    )
    return scored.select(
        id_col,
        "n_feats",
        "n_pos_feats",
        "margin",
        (F.col("margin") > margin_threshold).alias("quality_ok"),
    )


def curation_verdict(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    hygiene_col: str | None = None,
    blocklist_terms: tuple = ("table", "merge", "scan"),
    max_hits: int = 2,
    margin_threshold: int = 0,
) -> DataFrame:
    """L40 composed curation pipeline — the single-pass document
    gate every large corpus build runs before any corpus-wide
    stage (the RefinedWeb / FineWeb / MassiveText composition):

      bit 0  unicode hygiene fails  (unicode_hygiene_stats)
      bit 1  Gopher quality fails   (gopher_quality_stats)
      bit 2  Gopher repetition      (gopher_repetition_stats)
      bit 3  classifier rejects     (quality_classifier_scores)
      bit 4  blocklist hit          (blocklist_filter)

    emitting each stage verdict, the fail_mask, and keep
    (fail_mask == 0). ``hygiene_col`` screens a different column
    than the rule stages read — e.g. the pre-normalization raw bytes
    while quality reads the cleaned text (defaults to ``text``).

    Scale shape — the reason this is ONE operator and not five
    joins: every stage is a map-only column composition, so the
    whole gate is a single scan with ZERO shuffles and no joins;
    per-doc cost is the sum of the stage HOF costs. Corpus-wide
    stages (line dedup, MinHash, ExactSubstr) run AFTER this gate on
    the keep survivors, which is what makes the gate's selectivity a
    shuffle-byte multiplier at 100 TB."""
    hcol = hygiene_col or text
    cols = [id_col, text] + (
        [hcol] if hcol != text else []
    )
    d = df.select(*cols)
    h = unicode_hygiene_stats(d, text=hcol, id_col=id_col, keep=(text,))
    q = gopher_quality_stats(
        h, text=text, id_col=id_col, keep=(text, "is_clean")
    )
    r = gopher_repetition_stats(
        q, text=text, id_col=id_col, keep=(text, "is_clean", "passes")
    )
    c = quality_classifier_scores(
        r,
        text=text,
        id_col=id_col,
        keep=(text, "is_clean", "passes", "is_repetitive"),
        margin_threshold=margin_threshold,
    )
    b = blocklist_filter(
        c, list(blocklist_terms), text=text, id_col=id_col, max_hits=max_hits
    )
    mask = (
        F.when(~F.col("is_clean"), 1).otherwise(0)
        + F.when(~F.col("passes"), 2).otherwise(0)
        + F.when(F.col("is_repetitive"), 4).otherwise(0)
        + F.when(~F.col("quality_ok"), 8).otherwise(0)
        + F.when(F.col("blocked"), 16).otherwise(0)
    ).cast("bigint")
    return b.select(
        id_col,
        "is_clean",
        "passes",
        "is_repetitive",
        "quality_ok",
        "blocked",
        mask.alias("fail_mask"),
    ).withColumn("keep", F.col("fail_mask") == 0)


def lexical_diversity(text) -> dict[str, Column]:
    """Simpson-index lexical diversity in EXACT integer arithmetic —
    the log-free cousin of unigram entropy (compressibility-style
    repetitiveness signals need zlib or logs; Simpson's 1 - sum(p^2)
    is a pure rational, so both engines replay it bit-for-bit):

        simpson_scaled = 1_000_000 - (1_000_000 * sum(c_t^2)) DIV n^2

    where c_t are per-token counts and n the token total. 0 for a
    one-token or fully-repetitive doc, -> 1e6 for all-distinct.
    Computed MAP-ONLY: tokens are sorted per doc and a single codegen
    fold counts run lengths (sum of squares + distinct count in one
    pass) — no explode, no shuffle, O(n log n)/doc. Returns columns
    {n_tokens, n_distinct, simpson_scaled}."""
    toks = F.sort_array(tokens(F.lower(F.coalesce(text, F.lit("")))))
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("nsq"),
        F.lit(0).cast("long").alias("ndist"),
    )
    folded = F.aggregate(
        toks,
        acc0,
        lambda a, t: F.when(
            a["prev"].eqNullSafe(t),
            F.struct(
                t.alias("prev"), (a["run"] + 1).alias("run"),
                a["nsq"].alias("nsq"), a["ndist"].alias("ndist"),
            ),
        ).otherwise(
            F.struct(
                t.alias("prev"), F.lit(1).cast("long").alias("run"),
                (a["nsq"] + a["run"] * a["run"]).alias("nsq"),
                (a["ndist"] + 1).alias("ndist"),
            )
        ),
        lambda a: F.struct(
            a["prev"].alias("prev"), a["run"].alias("run"),
            (a["nsq"] + a["run"] * a["run"]).alias("nsq"),
            a["ndist"].alias("ndist"),
        ),
    )
    n = F.size(toks).cast("long")
    # BIGINT literal up front (the idf-overflow lesson); exact floor
    # division via (a - a % b) / b — the subtraction makes the double
    # division an exact integer, immune to truncation-boundary ULPs
    a = F.lit(1_000_000).cast("long") * folded["nsq"]
    b = n * n
    q = ((a - a % b) / b).cast("long")
    return {
        "n_tokens": n,
        "n_distinct": folded["ndist"],
        "simpson_scaled": F.lit(1_000_000).cast("long") - q,
    }


def code_line_stats(text) -> dict[str, Column]:
    """Code-fraction detection for corpus routing (the Stack/StarCoder
    split decision: code-looking documents go to the code pipeline,
    not the prose one). Line-level signals chosen to be expressible
    as plain substring tests in ANY engine (no regex-dialect parity
    risk): 4-space or tab indent, ;/{/} terminators, 'def ',
    ' = ', 'return'. Returns {n_lines, n_code_lines, code_permille,
    is_code} with is_code = code_permille >= 300. A trained
    classifier (e.g. the fastText-shaped quality model) swaps in
    behind the same contract; these shallow signals are the
    guesslang-style zero-dependency ladder."""
    lines = F.split(F.coalesce(text, F.lit("")), "\n")

    def signal(line):
        return (
            line.startswith("    ")
            | line.startswith("\t")
            | line.endswith(";")
            | line.endswith("{")
            | line.endswith("}")
            | line.contains("def ")
            | line.contains(" = ")
            | line.contains("return")
        )

    total = F.size(lines).cast("long")
    code = F.size(F.filter(lines, signal)).cast("long")
    permille = (F.lit(1000).cast("long") * code - (F.lit(1000).cast("long") * code) % total) / total
    permille = permille.cast("long")
    return {
        "n_lines": total,
        "n_code_lines": code,
        "code_permille": permille,
        "is_code": permille >= 300,
    }


def dsir_importance(
    df: DataFrame,
    is_target,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    scale: int = 1_000_000,
    k: int = 100,
) -> DataFrame:
    """L50 DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): estimate per-document
    importance weights of the RAW pool under a hashed bag-of-ngrams
    model of a small TARGET sample, then keep the top ``k`` — the
    importance-resampling stage behind domain-targeted pretraining
    mixes (the paper resamples with Gumbel noise; the deterministic
    engine ranks by the weight itself, and hash-derived pseudo-Gumbel
    keys swap in behind the same (score, rank, selected) contract —
    the stratified-sampling md5 idiom).

    Model (exactly the paper's shape, fit-free): unigram + bigram
    features hashed into ``n_buckets`` buckets via the first 3 md5
    nibbles (the quality-classifier hash, replayable in any engine);
    per-bucket gram-instance counts t_b over target docs and r_b over
    raw docs with +1 smoothing give

        w_b = floor(scale * ln( ((t_b+1) * (R+B))
                              / ((r_b+1) * (T+B)) ))

    (T/R = total target/raw gram instances, B = n_buckets — the
    log-ratio of smoothed bucket probabilities, floor-scaled to an
    integer ONCE per bucket); a raw doc's score is the exact integer
    SUM of its grams' w_b. Cross-engine contract: everything except
    one ln() per bucket is integer-exact, and the ln input is a ratio
    of exactly-representable products — the bm25_float precedent; the
    floor lands on the same integer in both engines for this corpus
    (verified at the gate SFs).

    Returns raw-pool rows (id, n_feats, score, rnk, selected): rnk is
    the 0-based global rank by (score desc, id asc) via the
    range-partitioned global dense rank (ranks are unique — no
    single-partition window), selected = rnk < k.

    Scale shape: hashing is map-only; profiles are a 1024-key
    map-side-combined aggregate; the weight table is a broadcast
    join; the doc score is ONE doc-keyed shuffle; selection is the
    range-partitioned rank. Nothing grows with the corpus except the
    two linear scans."""
    from ..util import global_dense_rank, own

    t = F.coalesce(F.col(text), F.lit(""))
    nib = (
        "(CASE WHEN substring(m, {i}, 1) <= '9'"
        " THEN ascii(substring(m, {i}, 1)) - 48"
        " ELSE ascii(substring(m, {i}, 1)) - 87 END)"
    )
    bucket = (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16"
        f" + {nib.format(i=3)}) % {int(n_buckets)})"
    )
    base = df.select(
        F.col(id_col),
        is_target.alias("__tgt"),
        F.split(t, WS).alias("toks"),
    )
    ex = (
        base.select(
            id_col,
            "__tgt",
            F.explode(
                F.concat(F.col("toks"), sliding_grams(F.col("toks"), 2))
            ).alias("f"),
        )
        # stage the digest so the three nibble reads share ONE md5
        # (the classifier does the same inside its transform)
        .select(id_col, "__tgt", F.md5("f").alias("m"))
        .select(id_col, "__tgt", F.expr(bucket).cast("int").alias("bkt"))
    )
    prof = ex.groupBy("bkt").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).cast("bigint").alias(
            "t_b"
        ),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).cast("bigint").alias(
            "r_b"
        ),
    )
    # eager checkpoint (r14): the profile is n_buckets-bounded (1024
    # rows) and feeds TWO consumers — the totals scalar and the weight
    # table — each of which otherwise replays the full corpus
    # explode+md5 to rebuild it (3 corpus passes in the plan; 2 after)
    prof = own(prof.localCheckpoint(eager=True))
    tot = prof.agg(
        F.sum("t_b").cast("bigint").alias("tt"),
        F.sum("r_b").cast("bigint").alias("rr"),
    )
    w = (
        prof.crossJoin(F.broadcast(tot))  # 1-row scalar broadcast
        .select(
            "bkt",
            F.expr(
                f"CAST(floor({int(scale)} * ln("
                f" (CAST(t_b + 1 AS DOUBLE) * CAST(rr + {int(n_buckets)} AS DOUBLE))"
                f" / (CAST(r_b + 1 AS DOUBLE) * CAST(tt + {int(n_buckets)} AS DOUBLE))"
                ")) AS BIGINT)"
            ).alias("w"),
        )
    )
    scored = (
        ex.filter(~F.col("__tgt"))
        .join(F.broadcast(w), "bkt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("w").cast("bigint").alias("score"),
        )
    )
    ranked = global_dense_rank(
        scored.withColumn("__ns", -F.col("score")), ["__ns", id_col], "rnk"
    )
    return ranked.select(
        id_col,
        "n_feats",
        "score",
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.col("rnk") < k).alias("selected"),
    )


def _dsir_bucket_expr(n_buckets: int) -> str:
    """The hashed-ngram bucket expression shared by dsir_importance
    and the fit/score seam halves below — first 3 md5 nibbles mod
    n_buckets, over a staged digest column ``m`` (kept as one string
    so the three functions can never hash differently)."""
    nib = (
        "(CASE WHEN substring(m, {i}, 1) <= '9'"
        " THEN ascii(substring(m, {i}, 1)) - 48"
        " ELSE ascii(substring(m, {i}, 1)) - 87 END)"
    )
    return (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16"
        f" + {nib.format(i=3)}) % {int(n_buckets)})"
    )


def dsir_fit_weights(
    df: DataFrame,
    is_target,
    text: str = "text",
    n_buckets: int = 1024,
    scale: int = 1_000_000,
) -> DataFrame:
    """The FIT half of DSIR as a standalone export (VERDICT r12's
    executable-seam program continued — the trained-weights shape):
    estimate the per-bucket log-ratio importance table exactly as
    :func:`dsir_importance` does internally and return it as
    ``(bucket int, weight bigint)`` — the frame
    :func:`load_classifier_weights` reads back from TSV/parquet, so
    the SAME loader serves both hashed-bucket seams. A production
    pipeline fits this once on a target sample (or imports weights
    estimated offline by the DSIR reference implementation) and
    scores many pools with :func:`dsir_score_with_weights`.

    Property pinned in tests/test_text_curation.py: fit -> dump ->
    load -> score reproduces :func:`dsir_importance`'s output
    bit-for-bit (loaded ≡ inline, the merges.txt precedent)."""
    from ..util import own

    t = F.coalesce(F.col(text), F.lit(""))
    base = df.select(
        is_target.alias("__tgt"), F.split(t, WS).alias("toks")
    )
    ex = (
        base.select(
            "__tgt",
            F.explode(
                F.concat(F.col("toks"), sliding_grams(F.col("toks"), 2))
            ).alias("f"),
        )
        .select("__tgt", F.md5("f").alias("m"))
        .select(
            "__tgt",
            F.expr(_dsir_bucket_expr(n_buckets)).cast("int").alias("bkt"),
        )
    )
    prof = ex.groupBy("bkt").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).cast("bigint").alias(
            "t_b"
        ),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).cast("bigint").alias(
            "r_b"
        ),
    )
    # eager checkpoint (r14): same two-consumer bounded profile as
    # dsir_importance — totals scalar + weight select each replayed
    # the corpus explode+md5 without it
    prof = own(prof.localCheckpoint(eager=True))
    tot = prof.agg(
        F.sum("t_b").cast("bigint").alias("tt"),
        F.sum("r_b").cast("bigint").alias("rr"),
    )
    return (
        prof.crossJoin(F.broadcast(tot))
        .select(
            F.col("bkt").alias("bucket"),
            F.expr(
                f"CAST(floor({int(scale)} * ln("
                f" (CAST(t_b + 1 AS DOUBLE) * CAST(rr + {int(n_buckets)} AS DOUBLE))"
                f" / (CAST(r_b + 1 AS DOUBLE) * CAST(tt + {int(n_buckets)} AS DOUBLE))"
                ")) AS BIGINT)"
            ).alias("weight"),
        )
    )


def dsir_score_with_weights(
    df: DataFrame,
    weights: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    k: int = 100,
) -> DataFrame:
    """The SCORE half of DSIR against an externally-supplied bucket
    weight table — the trained-weights seam made executable: hash the
    pool's unigram+bigram features into buckets (the exact
    :func:`dsir_importance` expression via ``_dsir_bucket_expr``),
    broadcast-join the ``(bucket, weight)`` table (from
    :func:`dsir_fit_weights`, :func:`load_classifier_weights`, or any
    offline estimator exported to that shape), and emit the same
    (id, n_feats, score, rnk, selected) contract. Buckets absent
    from the table contribute weight 0 (an offline estimator may
    export only non-zero-weight buckets) via a LEFT join — a document
    whose features ALL miss the table still appears, with score 0 and
    its full pool-side n_feats, like every sibling selector
    (dsir_importance, moore_lewis_scores, soft_weights_from_pairs)
    emits a total frame (ADVICE r13: an inner join silently dropped
    such docs from downstream top-k joins).

    Scale shape: ONE map-only hash scan over the pool, one broadcast
    join, one doc-keyed aggregate, the range-partitioned rank —
    nothing grows with the corpus except the scan."""
    from ..util import global_dense_rank

    t = F.coalesce(F.col(text), F.lit(""))
    ex = (
        df.select(F.col(id_col), F.split(t, WS).alias("toks"))
        .select(
            id_col,
            F.explode(
                F.concat(F.col("toks"), sliding_grams(F.col("toks"), 2))
            ).alias("f"),
        )
        .select(id_col, F.md5("f").alias("m"))
        .select(
            id_col,
            F.expr(_dsir_bucket_expr(n_buckets)).cast("int").alias("bkt"),
        )
    )
    w = weights.select(
        F.col("bucket").cast("int").alias("bkt"),
        F.col("weight").cast("bigint").alias("w"),
    )
    scored = (
        ex.join(F.broadcast(w), "bkt", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum(F.coalesce(F.col("w"), F.lit(0)))
            .cast("bigint")
            .alias("score"),
        )
    )
    ranked = global_dense_rank(
        scored.withColumn("__ns", -F.col("score")), ["__ns", id_col], "rnk"
    )
    return ranked.select(
        id_col,
        "n_feats",
        "score",
        F.col("rnk").cast("bigint").alias("rnk"),
        (F.col("rnk") < k).alias("selected"),
    )


# Derived at import from MOJIBAKE_ARTIFACTS: each artifact is the
# UTF-8 byte sequence of its true character mis-decoded as
# Windows-1252, so re-encoding cp1252 and re-decoding UTF-8 recovers
# the original (the ftfy core trick) — one stdlib round-trip, no
# tables to maintain, and detector + repairer can never drift apart.
#
# CHAIN ORDER (round-10 fix, ADVICE r9 #1): a repair output that is a
# character of a LATER artifact lets one repair manufacture a new
# occurrence of the next — the left-double-quote fix U+201C is the
# third char of the en-dash artifact 'â€“', so 'â€' + 'â€œ' repaired
# in artifact-list order chained TWO replaces while the oracle counts
# ONE occurrence in the original text. The chain is therefore ordered
# so that is impossible: 3-char artifacts first (so unicode_repair's
# stage split preserves exactly this order, and the oracle's plain
# list-order replay is the identical chain), and within the list a
# greedy topological pick — never emit a pair whose fix character
# still appears inside an unplaced artifact. The assertion below is
# the mechanical proof; it fails at import if a future artifact
# addition re-introduces a cascade.
def _cascade_safe_repairs() -> tuple[tuple[str, str], ...]:
    pairs = [
        (a, a.encode("cp1252").decode("utf-8")) for a in MOJIBAKE_ARTIFACTS
    ]
    ordered: list[tuple[str, str]] = []
    # 3-char stage first, then 2-char — unicode_repair executes the
    # two length classes as separate replace stages in this order
    for ln in (3, 2):
        remaining = [p for p in pairs if len(p[0]) == ln]
        while remaining:
            for cand in remaining:
                if not any(
                    cand[1] in other[0]
                    for other in remaining
                    if other is not cand
                ):
                    ordered.append(cand)
                    remaining.remove(cand)
                    break
            else:  # pragma: no cover - unreachable on the current list
                raise AssertionError(
                    f"mojibake repair cascade cycle: {remaining}"
                )
    return tuple(ordered)


MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = _cascade_safe_repairs()
# the single-pass count-by-length-delta trick in unicode_repair
# requires: artifacts are 2 or 3 chars, every repair is ONE char
assert all(
    len(a) in (2, 3) and len(f) == 1 for a, f in MOJIBAKE_REPAIRS
), "unicode_repair's delta-count arithmetic needs 2/3->1 char repairs"
# cascade freedom, proven mechanically: no fix char occurs in any
# LATER artifact, so every replace in the chain only ever matches
# occurrences present in the ORIGINAL text — the length-delta counts
# equal count-on-original, which is what the oracle replays
assert not any(
    f1 in a2
    for i, (_a1, f1) in enumerate(MOJIBAKE_REPAIRS)
    for a2, _f2 in MOJIBAKE_REPAIRS[i + 1 :]
), "mojibake repair chain has a cascade: reorder MOJIBAKE_REPAIRS"
# stage order: all 3-char artifacts precede all 2-char ones, so the
# stage-split execution in unicode_repair IS the list order the
# oracle's _sql_repair_chain replays
assert [len(a) for a, _ in MOJIBAKE_REPAIRS] == sorted(
    (len(a) for a, _ in MOJIBAKE_REPAIRS), reverse=True
), "MOJIBAKE_REPAIRS must be stage-ordered (3-char before 2-char)"


def unicode_repair(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    keep: tuple = (),
    repairs: tuple[tuple[str, str], ...] | None = None,
) -> DataFrame:
    """L36b encoding REPAIR — the fix half of the hygiene stage
    (CCNet runs exactly this pair: detect mojibake, then repair what
    is mechanically recoverable instead of discarding the document;
    ftfy is the reference tool, and ``MOJIBAKE_REPAIRS`` is its core
    cp1252-round-trip rule derived from the SAME artifact list the
    detector scans, so the two can never drift):

      n_mojibake_fixed       — artifact occurrences rewritten to
                               their true characters (prefix-free
                               list: counts disjoint, order-free)
      n_replacement_stripped — U+FFFD chars removed (nothing to
                               recover — the byte is gone)
      n_control_stripped     — C0 controls removed (except \\t \\n \\r)
      text                   — the repaired text

    Entirely codegen (a replace chain + two regexp_replace), map-only,
    zero shuffle, zero UDF. ``repairs`` is the EXECUTABLE swap seam
    (r10, the parse_psl/swap_psl precedent): pass a fuller
    (artifact, fixed) table — e.g. one derived from ftfy's complete
    cp1252 round-trip map — and the same chain machinery runs it; the
    table must satisfy the SAME contracts the default does (2/3->1
    char repairs, 3-char stage first, no fix char inside a later
    artifact), asserted per call so a bad table fails loudly at plan
    build instead of miscounting. Full-file ftfy proper (mixed
    encodings, HTML entities) still swaps in behind the same
    (id, counts, text) contract for the long tail a closed rule set
    cannot express."""
    reps = MOJIBAKE_REPAIRS if repairs is None else tuple(repairs)
    if repairs is not None:
        assert all(
            len(a) in (2, 3) and len(f) == 1 for a, f in reps
        ), "unicode_repair: repairs must be 2/3->1 char"
        assert not any(
            f1 in a2
            for i, (_a1, f1) in enumerate(reps)
            for a2, _f2 in reps[i + 1 :]
        ), "unicode_repair: supplied repair table has a cascade"
        assert [len(a) for a, _ in reps] == sorted(
            (len(a) for a, _ in reps), reverse=True
        ), "unicode_repair: repairs must be stage-ordered (3 before 2)"
    t = F.coalesce(F.col(text), F.lit(""))
    # ONE replace pass per artifact, with the fix COUNT recovered from
    # length deltas instead of a second count-only pass (review r9:
    # the count-then-repair form compiled 30 replaces per row): every
    # repaired character is 1 char, so a 3-char artifact shrinks the
    # string by 2 and a 2-char one by 1 — repairing the two length
    # classes in separate stages makes each stage's delta a pure count.
    # No artifact overlaps another and MOJIBAKE_REPAIRS is cascade-safe
    # by construction (import-time assertion: no fix char occurs in a
    # later artifact — the U+201C-into-'â€“' chain ADVICE r9 #1 found
    # is ordered out), so no replace ever matches text an earlier
    # replace created and the count equals occurrences in the ORIGINAL
    # text — exactly what the oracle's __MOJI__ replay computes. The
    # stage split below preserves list order (3-char entries lead the
    # list), so this chain is char-for-char the oracle's.
    rep3 = t
    for artifact, fixed in reps:
        if len(artifact) == 3:
            rep3 = F.replace(rep3, F.lit(artifact), F.lit(fixed))
    n_moji3 = ((F.length(t) - F.length(rep3)) / F.lit(2)).cast("bigint")
    repaired = rep3
    for artifact, fixed in reps:
        if len(artifact) == 2:
            repaired = F.replace(repaired, F.lit(artifact), F.lit(fixed))
    n_moji2 = (F.length(rep3) - F.length(repaired)).cast("bigint")
    moji = (n_moji3 + n_moji2).cast("bigint")
    n_repl = F.length(repaired) - F.length(
        F.replace(repaired, F.lit("�"), F.lit(""))
    )
    no_repl = F.replace(repaired, F.lit("�"), F.lit(""))
    cleaned = F.regexp_replace(no_repl, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    n_ctrl = F.length(no_repl) - F.length(cleaned)
    return df.select(
        F.col(id_col),
        moji.alias("n_mojibake_fixed"),
        n_repl.cast("bigint").alias("n_replacement_stripped"),
        n_ctrl.cast("bigint").alias("n_control_stripped"),
        cleaned.alias(text),
        *[F.col(c) for c in keep],
    )
