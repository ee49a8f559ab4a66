"""Text-analysis + exact/n-gram dedup operators over ``documents``
(SURVEY.md §2.9 L1/L4; north-star training-data pipeline ops).

All hot paths are native Catalyst expressions — ``split``/``explode``
/ higher-order array functions — inside whole-stage codegen. No
Python UDFs. At 100 TB the shingle self-join (near-dup) is the only
super-linear step; it is bounded by shingle-frequency capping (see
``ngram_jaccard_pairs``) exactly like production MinHash pipelines
bound band-bucket sizes.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2
from ..sources.tables import load_table, spread

STOPWORDS = ("the", "a")


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — exact dedup: keep the lowest doc_id per distinct text.

    groupBy on the text hash (not the raw text) keeps shuffle rows
    narrow; at scale this is the standard sha2-groupBy exact pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def dup_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 companion — per-duplicate-group stats keyed by content hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
    )


def word_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """L4 — corpus-wide top-k word frequencies (tokenize→explode→agg).

    explode happens after projection to one string column; the count
    groupBy shuffles only distinct words (vocab-bounded).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.asc("word")).limit(k)


def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — token counting: per-language token totals/averages."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_words())
    return (
        docs.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            round2(F.avg("n_tokens")).alias("avg_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — per-document quality scoring: length, mean word length,
    stopword ratio, composite score. All array HOFs, zero UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    words = _words()
    n_tokens = F.size(words)
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), x -> x IN ({stop_arr})))")
    avg_word_len = (F.length("text") - (n_tokens - 1)) / n_tokens  # spaces removed
    stop_ratio = n_stop.cast("double") / n_tokens
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + (1 - stop_ratio) * 0.3
        + F.least(avg_word_len / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        round2(avg_word_len, 4).alias("avg_word_len"),
        round2(stop_ratio, 4).alias("stopword_ratio"),
        round2(score, 4).alias("quality_score"),
    )


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — Gopher-style repetition quality signals, aggregated per
    language: mean top-word fraction (most frequent word's share of
    tokens), mean duplicate-bigram fraction (1 − distinct/total
    bigrams), and how many documents a repetition gate would drop.

    Every per-document metric is a row-side array HOF over the split
    token array — top-word count is ``array_max`` over per-distinct-
    word ``filter`` counts (O(distinct × len) inside the row, fine for
    document-scale arrays), bigram stats come from
    ``sequence → slice → array_distinct``. No shuffle touches
    documents: the only exchange in the plan is the final
    per-language aggregate, so the operator scales as a narrow map
    pass — the explode→groupBy formulation would shuffle every
    (doc, word) pair instead.
    """
    from ..sources.tables import spread

    # spread(): the array HOFs are the CPU hot spot and the harness
    # corpus scans as one partition (see _with_shingle_array).
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(F.size(_words()) >= 2)
    )
    ws = _words()
    top_w = F.expr(
        "array_max(transform(array_distinct(split(text, ' ')), "
        "w -> size(filter(split(text, ' '), x -> x = w))))"
    )
    bg = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 2)))"
    )
    frac_top_word = top_w.cast("double") / F.size(ws)
    frac_dup_bigram = F.lit(1.0) - F.size(F.array_distinct(bg)).cast("double") / F.size(bg)
    flagged = (frac_top_word > 0.2) | (frac_dup_bigram > 0.3)
    per_doc = docs.select(
        "lang",
        frac_top_word.alias("ftw"),
        frac_dup_bigram.alias("fdb"),
        flagged.cast("int").alias("flagged"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        round2(F.avg("ftw"), 4).alias("avg_top_word_frac"),
        round2(F.avg("fdb"), 4).alias("avg_dup_bigram_frac"),
        F.sum("flagged").alias("n_flagged"),
    )


# Deliberately simple patterns that parse identically under Java
# regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — PII detection + redaction audit, per language: match
    counts per pattern class (email / phone / IPv4), documents
    containing any PII, and how many characters redaction removes
    (every match replaced by the fixed ``<PII>`` token).

    Pure native regexp expressions (``regexp_count`` /
    ``regexp_replace``) — a narrow map pass with the per-language
    aggregate as the only shuffle, the same shape a production
    scrubbing stage has before writing cleaned shards. The harness
    corpus contains no PII (all counts 0 — the oracle confirms the
    detector doesn't false-positive); detection and redaction
    behavior is pinned on planted documents in
    tests/test_text_analysis.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    # F.lit(pattern), NOT an expr() SQL literal: Spark SQL string
    # literals eat backslash escapes, silently turning '\.' into '.'
    # (any char) and making the IPv4 pattern match phone numbers.
    counts = {
        k: F.regexp_count(F.col("text"), F.lit(p)) for k, p in PII_PATTERNS.items()
    }
    redacted = F.col("text")
    for p in PII_PATTERNS.values():
        redacted = F.regexp_replace(redacted, p, "<PII>")
    any_pii = sum(counts.values()) > 0
    per_doc = docs.select(
        "lang",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        any_pii.cast("int").alias("has_pii"),
        (F.length("text") - F.length(redacted)).alias("chars_removed"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("n_email"),
        F.sum("n_phone").cast("bigint").alias("n_phone"),
        F.sum("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.sum("has_pii").cast("bigint").alias("n_docs_with_pii"),
        F.sum("chars_removed").cast("bigint").alias("chars_removed"),
    )


def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — character-frequency language-ID heuristic.

    A unigram-frequency feature (relative 'e' frequency — the classic
    English indicator) computed natively; agreement is profiled per
    labeled lang. A real n-gram model is the same shape: per-char/
    n-gram relative frequencies → argmax against per-language tables.
    """
    docs = load_table(spark, sf_dir, "documents")
    e_freq = (
        (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
        / F.length("text")
    )
    return (
        docs.select("lang", e_freq.alias("e_freq"))
        .groupBy("lang")
        .agg(round2(F.avg("e_freq"), 4).alias("avg_e_freq"), F.count("*").alias("n_docs"))
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — content fingerprinting: md5 (cross-engine) + xxhash64
    (the cheap 64-bit rolling-style hash used by the dedup family)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.substring(F.md5("text"), 1, 8).alias("fp_bucket"),
    )


# BPE-ish pre-tokenizer: letter runs, single digits, single
# punctuation marks — the split granularity byte-pair encoders start
# from. RE2/Java-compatible (no lookarounds) so the DuckDB oracle runs
# the identical pattern.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — per-document token counting two ways: whitespace tokens
    and BPE-ish regex tokens, plus chars-per-token (the compression
    proxy LLM pipelines budget by). Pure codegen'd regex expressions;
    one narrow stage, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0)).cast("bigint")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_regex_tokens"),
        round2(F.length("text").cast("double") / n_bpe, 4).alias("chars_per_token"),
    )


def winnowing_fingerprints(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """L4 — rolling-window fingerprint (winnowing-style): hash every
    word n-gram window of the document, keep the minimum hash as the
    fingerprint. Unlike whole-document md5 (``fingerprints``), the
    winnow survives edits outside the minimizing window — the standard
    near-dup-robust fingerprint. Shuffles (doc_id, window-hash) pairs
    once; at 100 TB the same plan holds with window hashes partially
    min-combined map-side."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, n=n)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("winnow_fp"),
        F.count("*").alias("n_windows"),
    )


def _with_shingle_array(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh_arr) — per-row array of DISTINCT word n-gram
    shingles.

    Two deliberate plan choices:
    - ``text`` is split into a ``ws`` column FIRST, so the split runs
      once per row; inlining ``split`` inside the transform lambda
      re-tokenizes per shingle (O(words²) per doc — measured 4×
      slower).
    - ``array_distinct`` dedupes inside the row, so consumers never
      need a global ``.distinct()`` shuffle — per-doc dedup is narrow
      at any scale.
    """
    # spread() first: the split/transform/array_distinct chain is the
    # CPU hot spot, and the harness corpus scans as ONE partition
    # (single row group) — without this every shingle computes on one
    # core. No-op at scale (scan splits >= cores).
    from ..sources.tables import spread

    base = spread(docs.select("doc_id", "text"))
    ws = base.select("doc_id", _words().alias("ws")).filter(F.size("ws") >= n)
    arr = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(ws) - {m}), "
            "i -> concat_ws(' ', slice(ws, i, {n})))".format(m=n - 1, n=n)
        )
    )
    return ws.select("doc_id", arr.alias("sh_arr"))


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    Shuffle-free: dedup happens row-side via ``array_distinct``.
    ``explode_outer`` + null guard, not ``explode`` — see
    ``ngram_jaccard_pairs`` for why (inferred-predicate pushdown
    serializes the shingle transform onto the pre-shuffle core)."""
    return (
        _with_shingle_array(docs, n)
        .select("doc_id", F.explode_outer("sh_arr").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


DEFAULT_MAX_DF = 1000  # drop shingles/bands present in more docs than this


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """L2 (exact variant) — near-duplicate pairs by n-gram Jaccard.

    shingle → group docs BY shingle → emit i<j pairs per group →
    per-pair intersection count → Jaccard via |A|+|B|-|∩|.

    One full shuffle of the shingle stream, total. A self-equi-join
    formulation (the previous shape here) shuffles that same stream
    TWICE (once per join side), computes the CPU-heavy shingle
    transform once per branch that references it, and needs a separate
    doc-frequency pre-pass to cap hot shingles. Grouping instead
    subsumes all three: ``collect_list`` gathers each shingle's
    (doc_id, |doc|) postings in the one shuffle, the group SIZE is the
    doc frequency (so the ``max_df`` cap is a free post-collect
    filter), and sorted i<j pair expansion runs JVM-side inside the
    same stage. Measured 2.7 s → 1.9 s at sf0.1 vs the join + df-count
    + broadcast-anti shape; the shingle transform drops from three
    evaluations to one — at 100 TB that is two fewer full-corpus scans.

    The ``max_df`` cap is ON BY DEFAULT: a shingle occurring in more
    than ``max_df`` docs is dropped before pair expansion (boilerplate
    n-grams carry no dedup signal), bounding worst-case fan-out per
    shingle at max_df²/2 pairs exactly like LSH band bucketing — one
    boilerplate shingle shared by 1 M docs would otherwise emit
    ~5·10¹¹ pair rows. Semantics: candidate pruning only — |A| and |B|
    stay the full distinct-shingle counts, so surviving pairs score
    their true Jaccard; pairs whose ONLY overlap is boilerplate are
    (intentionally) not emitted. The DuckDB oracle applies the
    identical df filter, so the check is exact at any scale, not just
    when the cap is a no-op (harness max shingle df is 25 at sf0.1).

    Scale note on the collect buffer: a pathological mega-df shingle
    materializes its postings list in one aggregation buffer before
    the size filter drops it (1 M docs ≈ 16 MB; ObjectHashAggregate
    falls back to sort-based spill beyond that). That bounded spill is
    cheaper than the alternative it replaces — a df-count pre-pass
    that re-scans the corpus and re-runs the shingle transform.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)
    # |doc| (the distinct-shingle count) is functionally dependent on
    # doc_id, so it rides along each exploded row — 8 bytes per
    # shuffle row — and falls out of pair expansion for free. The
    # alternative (join sizes back onto the pairs) re-scans the raw
    # text and re-computes the shingle transform once per side.
    # explode_outer, NOT explode: plain explode lets Catalyst infer a
    # non-empty-array predicate and push it below the spread()
    # exchange — the scan then evaluates the whole shingle transform
    # per row (twice) on the single pre-shuffle partition, serializing
    # the hot stage on one core (measured 1.7 s vs 0.25 s at sf0.1).
    # explode_outer implies no such predicate; the null guard runs
    # post-explode where it is free.
    sh = with_arr.select(
        "doc_id", F.size("sh_arr").alias("sz"), F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    # Optimization r12 (guide §2.3 shuffle fewer bytes): |A∩B| <=
    # min(|A|,|B|), so J(A,B) <= min/max — a size prefilter. The pair
    # is EMITTED on round2(J, 4) >= t, though, and J = 0.799975 rounds
    # to 0.8: pruning on min/max < t would lose it. So the prune bound
    # is one rounding step lower, min/max < t − 10⁻⁴, which is lossless
    # for the rounded predicate (a full step, not the half step, leaves
    # margin for the double product J·10⁴ that round2 rounds). Applied
    # INSIDE the pair-generation lambda, so a pruned pair is never
    # built, exploded, or shuffled to the pair-grain aggregation (at
    # sf0.1 the exact-t bound cut 1.27M candidate rows to 469k). Exact
    # rational arithmetic in bigints (kq·min >= kp·max with kp/kq =
    # t − 10⁻⁴), the ppjoin_jaccard_pairs discipline: a float threshold
    # constant could prune a pair sitting exactly at the bound.
    frac = Fraction(threshold).limit_denominator(10**6)
    kp, kq = frac.numerator * 10**4 - frac.denominator, frac.denominator * 10**4
    # array_sort on struct<doc_id,sz> orders by doc_id (first field),
    # so i<j expansion below guarantees a_id < b_id with no extra
    # comparison; slice() start is 1-based → i+2 skips self and priors.
    pairs = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(filter(slice(ds, i + 2, size(ds)), y -> "
                    f"{kq}L * least(x.sz, y.sz) >= {kp}L * greatest(x.sz, y.sz)), "
                    "y -> struct(x.doc_id as a_id, x.sz as sz_a, "
                    "y.doc_id as b_id, y.sz as sz_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
    )
    inter = (
        pairs.groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", round2(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


N_PROFILE = 50  # trigrams kept per language profile


def lang_id_ngram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — real n-gram language identification: per-language
    character-trigram profiles (top-N by frequency), each document
    classified to the profile with the largest trigram overlap;
    output is the lang × predicted confusion matrix.

    Entirely native expressions: trigram extraction is a row-side
    transform, profiles are a vocabulary-bounded aggregate (tiny —
    broadcastable at any corpus size), scoring is one equi-join on the
    trigram key. The same structure scales to real fastText-style
    lang-ID: profiles become weights, overlap becomes a dot product.
    Deterministic tie-breaks (trigram asc, lang asc) keep it
    oracle-exact.
    """
    from ..sources.tables import spread

    # spread(): per-character trigram extraction is the CPU hot spot
    # and the harness corpus scans as one partition (see
    # _with_shingle_array) — no-op when scan splits >= cores.
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    )
    tri_arr = F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    # profile side: all occurrences (frequency-weighted)
    tri = docs.select("doc_id", "lang", F.explode(tri_arr).alias("tg"))
    counts = tri.groupBy("lang", "tg").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tg"))
    profiles = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= N_PROFILE)
        .select(F.col("lang").alias("plang"), "tg")
    )
    # scoring side: distinct trigrams per doc (row-side dedup)
    doc_tris = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tri_arr)).alias("tg")
    )
    overlaps = (
        doc_tris.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count("*").alias("overlap"))
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("plang"))
    predicted = (
        overlaps.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select("lang", F.col("plang").alias("predicted"))
    )
    return predicted.groupBy("lang", "predicted").agg(F.count("*").alias("n_docs"))


def chunk_documents(
    spark: SparkSession, sf_dir: str, size: int = 50, stride: int = 40
) -> DataFrame:
    """L4 — sliding-window chunking for training-data prep: each
    document becomes overlapping ``size``-token chunks at ``stride``
    offsets (the context-window packing precursor).

    Entirely row-side (split once into ``ws``, then
    sequence→transform→posexplode) — a narrow map at any corpus
    scale, no shuffle at all. Chunk text is fingerprinted (md5)
    rather than re-emitted, so output stays small.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    chunks = F.expr(
        "transform(sequence(0, size(ws) - 1, {stride}), "
        "s -> concat_ws(' ', slice(ws, s + 1, {size})))".format(
            stride=stride, size=size
        )
    )
    return (
        ws.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size(F.split("chunk", " ")).cast("bigint").alias("n_tokens"),
            F.md5("chunk").alias("chunk_fp"),
        )
    )


def hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — deterministic train/val/test assignment: bucket by the
    first 8 hex digits of md5(doc_id), 80/10/10.

    The idiomatic stable split for a growing corpus — membership
    depends only on the key (no randomSplit reshuffling between
    runs), reproducible on any engine that has md5. Narrow expression
    + one tiny aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket()
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            round2(F.avg("n_chars")).alias("avg_chars"),
        )
    )


def sequence_packing(
    spark: SparkSession, sf_dir: str, bin_tokens: int = 2048
) -> DataFrame:
    """L4 — greedy sequence packing: documents are packed in doc_id
    order into ~``bin_tokens``-token training bins via a running
    token-offset cumsum; output is per-bin occupancy.

    Packing is PER SOURCE (the natural shard key), not global: a
    single global ordering would serialize the window into one
    partition. Per-source windows scale with the shard count, and the
    cumsum is one shuffle on ``source``.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.select(
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("offs"),
    )
    return (
        packed.groupBy(
            "source",
            F.floor(F.col("offs") / F.lit(float(bin_tokens))).cast("bigint").alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
    )


SAMPLE_RATES = {"en": 30, "zh": 100, "es": 100, "de": 60, "fr": 60}  # percent


def md5_bucket(key_col: str = "doc_id", n: int = 100):
    """Deterministic [0, n) bucket from the first 8 hex digits of
    md5(key) — the shared gate for hash splits and stratified
    sampling; any edit here must keep the SQL twin
    (`CAST(CONCAT('0x', substr(md5(...), 1, 8)) AS BIGINT) % n`)
    in lockstep."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n
    )


def sample_rate_expr(lang_col: str = "lang"):
    """Per-language keep rate (percent) from SAMPLE_RATES, default 100."""
    return F.coalesce(
        *[F.when(F.col(lang_col) == lg, F.lit(r)) for lg, r in SAMPLE_RATES.items()],
        F.lit(100),
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — deterministic stratified downsampling: per-language keep
    rates applied via md5(doc_id) bucketing (training-mix rebalancing,
    e.g. downweighting the dominant language).

    Hash-gating beats ``sampleBy`` for corpus work: membership is a
    pure function of the key — stable across runs, engines, and
    repartitioning (``sampleBy`` draws depend on partition layout),
    and appending new data never resamples old rows. Narrow
    expression, no shuffle before the tiny per-lang audit aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket()
    rate = sample_rate_expr()
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def contamination_flags(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """L4 — benchmark decontamination: flag training documents that
    share any word n-gram with the held-out set (here: every 100th
    doc stands in for the benchmark corpus).

    The real shape of eval-set decontamination at scale: the held-out
    side's n-gram set is tiny relative to the corpus, so its distinct
    shingles BROADCAST and the check is a left-semi broadcast join —
    the training corpus is scanned once, never shuffled. Output is
    the per-language contamination audit (flagged docs / total).
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 100 != 0)
    heldout = docs.filter(F.col("doc_id") % 100 == 0)
    held_grams = (
        shingles(heldout, n=n).select("shingle").distinct()
    )
    flagged = shingles(train, n=n).join(
        F.broadcast(held_grams), "shingle", "left_semi"
    ).select("doc_id").distinct()
    return (
        train.join(flagged.withColumn("contaminated", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
    )


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — CCNet-style LM quality scoring without the LM: train a
    unigram model on the corpus itself (word -> count / total), score
    every document by its mean token log-probability, and bucket into
    high/mid/low quality tiers. The scale shape of perplexity-based
    quality filtering: the vocabulary is sub-linear in corpus size
    (Heaps' law), so the trained "model" BROADCASTS and scoring is a
    map-side join — the corpus is shuffled once (the vocab count),
    never for scoring.

    The corpus-total normalizer is attached with a single-partition
    window OVER THE VOCAB AGGREGATE (vocab-bounded rows, KB-to-MB at
    any corpus size), not over the token stream — the plan's only
    single-partition exchange moves the vocab table, nothing
    row-scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    vocab_t = vocab.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy())
    )
    scored = (
        tok.join(F.broadcast(vocab_t), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log(F.col("cnt") / F.col("total"))).alias("lp"),
        )
    )
    lp4 = F.round(F.col("lp"), 4)
    return scored.select(
        "doc_id",
        "n_tokens",
        lp4.alias("avg_logprob"),
        F.when(lp4 >= -6.0, "high")
        .when(lp4 >= -8.0, "mid")
        .otherwise("low")
        .alias("quality_bucket"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """L4 — TF-IDF keyword extraction: top-k terms per language by
    term-frequency-within-language x inverse-document-frequency.

    Both aggregates shuffle only (word)-keyed rows: tf groups the
    token stream by (lang, word), df groups DISTINCT (doc, word)
    pairs by word — vocab-bounded outputs either way. The df table
    broadcasts onto the tf table; the corpus-size scalar N rides in
    as a 1-row broadcast (same sanctioned shape as the histogram /
    theta-sketch scalars). Scores are exact-deterministic cross-
    engine: cnt and df are integers, so tf*ln(N/df) has no float-
    summation order dependence.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", "lang", F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = tok.groupBy("lang", "word").agg(F.count("*").alias("tf"))
    df_tab = (
        tok.select("doc_id", "word").distinct()
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tab), "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "lang",
            F.col("word").alias("term"),
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def winnow_overlap_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    min_shared: int = 2,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """L2 (fingerprint variant) — MOSS-style near-dup candidates: docs
    sharing >= ``min_shared`` SAMPLED shingle fingerprints. Sampling
    is 0-mod-p selection (keep a shingle iff its hash falls in 2/16 of
    the space), the winnowing-family trick that cuts the pair-join
    input ~8x while remaining deterministic and position-independent —
    the same document always keeps the same fingerprints, so true
    near-dups still collide on multiple survivors.

    Identical single-shuffle group-by-fingerprint shape as
    ``ngram_jaccard_pairs`` (postings gathered per fingerprint, i<j
    expansion JVM-side, ``max_df`` hot-fingerprint cap) — but the
    stream entering the shuffle is 8x thinner, which is the whole
    point at 100 TB: fingerprint-sampled dedup trades recall you can
    bound (P[miss | s shared shingles] = (7/8)^s) for an order of
    magnitude less shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)
    sh = (
        with_arr.select("doc_id", F.explode_outer("sh_arr").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .filter(F.substring(F.md5("shingle"), 1, 1).isin("0", "1"))
    )
    pairs = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) ->"
                    " transform(slice(ds, i + 2, size(ds) - i - 1),"
                    " b -> struct(a, b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def normalize_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — text-normalization audit: the canonicalization pass every
    training pipeline runs before dedup (lowercase, trim, collapse
    whitespace runs), emitted as per-doc before/after evidence with
    the md5 of the normalized form — so the cross-engine check proves
    the normalized BYTES match, not just the counts. Pure codegen'd
    narrow map; no shuffle at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
        (norm != F.col("text")).alias("changed"),
    )


def merged_span_length_expr(n: int, col: str = "starts") -> str:
    """SQL expression: total token positions covered by the union of
    [s, s+n) intervals for a SORTED int array column ``col`` — the sum
    of ``min(n, next_start - start)`` plus ``n`` for the last start.
    Shared by ``dup_span_coverage`` and its property test."""
    return (
        "aggregate(transform(sequence(1, size({c})), "
        "i -> IF(i = size({c}), {n}, "
        "least({n}, element_at({c}, i + 1) - element_at({c}, i)))), "
        "0L, (acc, x) -> acc + x)".format(n=n, c=col)
    )


def dup_span_coverage(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """L2/L4 — cross-document duplicated-span audit (the measurement
    half of exact substring dedup a la "Deduplicating Training Data
    Makes Language Models Better"): for every document, the fraction
    of its token positions covered by some word n-gram that also
    occurs in ANOTHER document.

    Shape: positional shingles (position matters, so no per-doc
    dedup) -> ONE shuffle grouping by shingle -> groups spanning >= 2
    docs explode their (doc_id, pos) postings back -> per-doc
    duplicated-start sets -> merged-interval coverage computed
    row-side from the sorted start array (sum of
    ``min(n, next_start - start)`` + n for the last), zero extra
    shuffle. The ``max_df`` boilerplate cap bounds any group's
    postings buffer exactly as in ``ngram_jaccard_pairs``; unlike the
    pair ops there is NO quadratic expansion anywhere - postings
    explode back linearly - so this audit costs two shuffles of the
    (thinner-than-token) shingle stream at any corpus size.

    Token counts ride the postings as a functionally-dependent column
    (doc_id -> n_tokens), so no join back to the raw text is needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    from ..sources.tables import spread

    base = spread(docs.select("doc_id", "text"))
    ws = base.select("doc_id", _words().alias("ws")).filter(F.size("ws") >= n)
    # positional (pos, shingle) pairs; pos is the 1-based token index
    # where the n-gram starts
    pos_sh = ws.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(ws) - {m}), "
                "i -> struct(i AS pos, concat_ws(' ', slice(ws, i, {n})) AS shingle))".format(
                    m=n - 1, n=n
                )
            )
        ).alias("ps"),
    ).filter(F.col("ps").isNotNull())
    cross_doc = (
        pos_sh.select("doc_id", "n_tokens", F.col("ps.pos").alias("pos"), F.col("ps.shingle").alias("shingle"))
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_tokens", "pos")).alias("postings"))
        .filter(
            (F.size(F.array_distinct(F.expr("transform(postings, p -> p.doc_id)"))) >= 2)
            & (F.size("postings") <= max_df)
        )
        .select(F.explode("postings").alias("p"))
        .select("p.doc_id", "p.n_tokens", "p.pos")
    )
    # per-doc sorted distinct duplicated starts -> merged-span length
    per_doc = cross_doc.groupBy("doc_id", "n_tokens").agg(
        F.array_sort(F.collect_set("pos")).alias("starts")
    )
    covered = F.expr(merged_span_length_expr(n))
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.size("starts").alias("n_dup_ngrams"),
        covered.alias("n_dup_tokens"),
        round2(covered.cast("double") / F.col("n_tokens"), 4).alias("dup_fraction"),
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 (incremental variant) — nightly-ingestion dedup: flag each
    document of an incoming batch (stand-in: doc_id % 10 == 0) whose
    exact content already exists in the standing corpus, and report
    per-language admit/reject counts.

    The standing corpus reduces to DISTINCT content hashes before the
    join — narrow 16-byte rows — and the join is keyed on that hash,
    so the incoming batch (small by definition) BROADCASTS against it.
    At 100 TB the hash set lives as a bucketed table keyed by hash and
    the nightly batch co-partitions into it without re-shuffling the
    corpus; this operator is the query-shape of that pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    existing_hashes = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    flagged = incoming.select(
        "doc_id", "lang", F.md5("text").alias("fp")
    ).join(
        existing_hashes.withColumn("is_dup", F.lit(True)), "fp", "left"
    ).select(
        "doc_id", "lang", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_incoming"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_rejected"),
        F.min(F.when(F.col("is_dup"), F.col("doc_id"))).alias("first_rejected_id"),
    )


def data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 — the per-language "data card": the one-table summary an LLM
    data team publishes with a corpus release. Doc/token volume, exact
    -duplicate rate, short-doc rate, and PII incidence, computed in a
    SINGLE two-exchange plan: one window pass keyed on the content
    hash (the exact-dedup partitioning), then one per-language
    aggregate. Every metric is a codegen'd expression riding the same
    scan — running the component queries separately would re-scan the
    corpus four times.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_copies = F.count("*").over(Window.partitionBy(F.md5("text")))
    n_tokens = F.size(_words())
    pii = sum(
        F.regexp_count(F.col("text"), F.lit(p)) for p in PII_PATTERNS.values()
    )
    per_doc = docs.select(
        "lang",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        n_copies.alias("n_copies"),
        pii.alias("n_pii"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        round2(F.avg("n_chars")).alias("avg_chars"),
        F.sum((F.col("n_copies") >= 2).cast("int")).cast("bigint").alias("n_exact_dup_docs"),
        F.sum((F.col("n_tokens") < 10).cast("int")).cast("bigint").alias("n_short_docs"),
        F.sum("n_pii").cast("bigint").alias("n_pii_matches"),
    )


def temperature_mix(
    spark: SparkSession, sf_dir: str, alpha: float = 0.3
) -> DataFrame:
    """L7 — temperature-scaled language mixing: the multilingual-LM
    sampling-weight computation (w_l ∝ share_l^α, α < 1 upweights
    low-resource languages), materialized as per-language keep rates
    and the md5-gated doc counts those rates admit.

    Every normalizer (corpus total, weight sum, max rate) is a window
    over the per-language aggregate — a HANDFUL of rows at any corpus
    size — so the plan shuffles the corpus exactly once (the lang
    count) and everything after is arithmetic on a broadcast-scale
    table joined back for the gated count. The gate uses
    ``floor(rate × 10000)`` against a 10k md5 bucket: floor (not
    round/cast) because Spark truncates double→bigint while DuckDB
    rounds — floor is exact in both engines, and the max-rate language
    hits bucket bound 10000 exactly (x/x ≡ 1.0 in IEEE), keeping 100%.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(w_all)
    with_share = counts.withColumn("share", share)
    weight = F.pow("share", F.lit(alpha)) / F.sum(
        F.pow("share", F.lit(alpha))
    ).over(w_all)
    with_w = with_share.withColumn("weight", weight)
    rate_raw = F.col("weight") / F.col("share")
    with_rate = with_w.withColumn(
        "keep_rate", rate_raw / F.max(rate_raw).over(w_all)
    )
    gate = F.floor(F.col("keep_rate") * 10000)
    sampled = (
        docs.join(F.broadcast(with_rate.select("lang", "keep_rate")), "lang")
        .filter(md5_bucket("doc_id", 10000) < gate)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        with_rate.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.round("share", 6).alias("share"),
            F.round("weight", 6).alias("weight"),
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


def inverted_index(spark: SparkSession, sf_dir: str, max_postings: int = 20) -> DataFrame:
    """L4 — inverted-index build: term → document frequency + the
    first ``max_postings`` doc_ids of the sorted posting list
    (serialized for engine-exact comparison).

    tokenize → distinct (doc_id, term) → one vocab-keyed shuffle.
    Posting lists aggregate per term exactly like a search-engine
    index build; the cap bounds the materialized list for stopword-
    grade terms (a production index would shard those postings —
    the df column keeps the true frequency either way).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_words()).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    postings = F.array_join(
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, max_postings), ","
    )
    return tok.groupBy("term").agg(
        F.count("*").alias("df"), postings.alias("postings")
    )


def bpe_merge_candidates(spark: SparkSession, sf_dir: str, k: int = 30) -> DataFrame:
    """L4 — one round of BPE vocabulary training: the top-k adjacent
    character pairs by corpus frequency, the merge candidates a
    byte-pair-encoding tokenizer trainer would fuse next.

    The classic BPE-trainer trick: pair counts are computed over the
    WORD-FREQUENCY dictionary, not the raw token stream — the corpus
    collapses to (word, count) first (vocab-bounded shuffle), then
    each distinct word explodes into its length-1 adjacent pairs
    weighted by the word's count. At 100 TB the pair-count stage
    touches only the vocabulary (millions of rows), never the
    trillions of raw tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    word_freq = (
        docs.select(F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = word_freq.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


# The shipped tokenizer: a fixed, ordered merge table (the artifact a
# BPE TRAINER like ``bpe_merge_candidates`` produces once; encoding
# then applies it everywhere — production tokenizers ship frozen merge
# lists precisely so results are reproducible). Rules cascade: later
# merges consume earlier merge outputs ("t"+"h" → "th", then
# "th"+"e" → "the").
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("an", "d"),
    ("e", "n"),
    ("o", "r"),
)


def _bpe_tokens_expr(src: str = "split(word, '')") -> str:
    """SQL expression applying BPE_MERGES in order to a char/token
    array — one ``aggregate`` fold per rule, each a greedy
    left-to-right adjacent-pair merge (the exact BPE apply semantics:
    consecutive chains merge leftmost-first; a plain string replace
    cannot do this without missing overlapping occurrences). Entirely
    JVM-side codegen — no UDF."""
    e = src
    for a, b in BPE_MERGES:
        e = (
            "aggregate({e}, cast(array() as array<string>), (acc, x) -> "
            "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}' "
            "AND x = '{b}' "
            "THEN concat(slice(acc, 1, size(acc) - 1), array('{ab}')) "
            "ELSE concat(acc, array(x)) END)"
        ).format(e=e, a=a, b=b, ab=a + b)
    return e


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(lang, word, cnt, toks): the BPE-trainer trick again — encode
    each DISTINCT letter-run word once (vocab-bounded, Heaps' law) and
    carry its corpus frequency, never encoding the raw token stream.
    At 100 TB the fold runs over millions of vocab rows, not trillions
    of tokens."""
    words = docs.select(
        "lang",
        F.explode(F.expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).alias("word"),
    )
    return (
        words.groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("toks", F.expr(_bpe_tokens_expr()))
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — apply the shipped BPE merge table to the corpus and report
    per-language tokenization stats: words, characters, resulting BPE
    tokens, and chars-per-token compression — the number that decides
    a tokenizer's effective context budget.

    Cost shape: one vocab shuffle (lang, word) + the per-vocab-row
    fold; the final aggregate is lang-bounded. The DuckDB twin replays
    the identical per-rule greedy fold via ``list_reduce``, so the
    encoding itself — not just the counts — is cross-engine exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = _bpe_vocab(docs)
    return v.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias("n_chars"),
        F.sum(F.col("cnt") * F.size("toks")).cast("bigint").alias("n_tokens"),
        round2(
            F.sum(F.col("cnt") * F.length("word"))
            / F.sum(F.col("cnt") * F.size("toks")),
            4,
        ).alias("chars_per_token"),
    )


def bpe_vocab_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """L4 — the corpus's top-k BPE tokens by weighted frequency after
    applying the shipped merge table: the effective vocabulary the
    encoder actually emits (merged units like 'the'/'and' should
    dominate if the merge table fits the corpus). Same vocab-bounded
    fold as ``bpe_encode_stats``; the top-k is a TakeOrderedAndProject
    merge of per-partition heads, deterministic via the (n, token)
    order."""
    docs = load_table(spark, sf_dir, "documents")
    v = _bpe_vocab(docs)
    return (
        v.select(F.explode("toks").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def char_entropy_stats(spark: SparkSession, sf_dir: str, low: float = 2.5) -> DataFrame:
    """L4 — character-entropy quality gate: per-language stats of the
    per-document Shannon entropy (nats) of the character distribution.
    Low-entropy documents are repetitive/gibberish (aaaa…, boilerplate)
    — this is the standard cheap pre-filter before model-based quality
    scoring.

    The per-document entropy is computed ROW-SIDE with higher-order
    array functions (distinct chars → p·ln p fold) — no explode, no
    per-character shuffle; the only exchange is the final per-language
    aggregate. Alphabet size bounds the inner loop (~10² per row).
    """
    docs = load_table(spark, sf_dir, "documents")
    ent = F.expr(
        """
        aggregate(
          transform(array_distinct(split(text, '')),
                    c -> cast(size(filter(split(text, ''), x -> x = c)) as double)
                         / size(split(text, ''))),
          cast(0.0 as double),
          (acc, p) -> acc - p * ln(p))
        """
    )
    per_doc = docs.select("lang", ent.alias("entropy"))
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        round2(F.avg("entropy")).alias("avg_entropy"),
        round2(F.min("entropy")).alias("min_entropy"),
        round2(F.max("entropy")).alias("max_entropy"),
        F.sum((F.col("entropy") < low).cast("int")).cast("bigint").alias("n_low_entropy"),
    )


def length_padding_audit(spark: SparkSession, sf_dir: str, bucket: int = 64) -> DataFrame:
    """L4 — dynamic-batching efficiency audit: bucket documents by
    token length rounded up to a multiple of ``bucket`` (the padded
    sequence length a length-grouped batcher would allocate) and
    report per-bucket document count, real tokens, and padding waste.

    Pure narrow map + one small agg keyed by bucket (~max_len/bucket
    distinct keys) — the audit a training pipeline runs to choose its
    batching buckets before burning GPU-hours on padding.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    bucket_len = (F.ceil(n_tok.cast("double") / bucket) * bucket).cast("bigint")
    per_doc = docs.select(
        n_tok.alias("n_tokens"), bucket_len.alias("bucket_len")
    )
    return per_doc.groupBy("bucket_len").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        (F.sum(F.col("bucket_len") - F.col("n_tokens"))).cast("bigint").alias("padding_tokens"),
        round2(
            F.sum(F.col("bucket_len") - F.col("n_tokens")).cast("double")
            / F.sum("bucket_len").cast("double")
            * 100
        ).alias("waste_pct"),
    )


def k_anonymity_audit(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """L4 (privacy family, with ``pii_scrub_stats``) — k-anonymity
    audit over the quasi-identifier tuple (lang, source, length
    bucket): how many identifier groups have fewer than ``k`` members,
    and how many documents sit in such re-identifiable groups.

    Two cascaded aggregations — quasi-identifier group sizes, then the
    per-language rollup. Both shuffle only group keys; the first is
    bounded by the quasi-identifier cross-product, the second by
    language count.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "lang", "source", (F.floor(F.col("n_chars") / 100) * 100).alias("len_bucket")
    ).agg(F.count("*").alias("gsize"))
    return groups.groupBy("lang").agg(
        F.count("*").alias("n_groups"),
        F.sum((F.col("gsize") < k).cast("int")).cast("bigint").alias("n_small_groups"),
        F.sum(F.when(F.col("gsize") < k, F.col("gsize")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_docs_at_risk"),
        round2(
            F.sum(F.when(F.col("gsize") < k, F.col("gsize")).otherwise(F.lit(0))).cast("double")
            / F.sum("gsize").cast("double")
            * 100
        ).alias("pct_at_risk"),
    )


def shard_assignment(spark: SparkSession, sf_dir: str, shard_tokens: int = 20000) -> DataFrame:
    """L7 — token-budget shard writer: assign documents to output
    shards of ~``shard_tokens`` tokens each, in a deterministic
    pseudo-random order (md5 of doc_id), and report per-shard fill.

    The document order inside each language partition is fixed by the
    hash key, the running token total is a partitioned window sum,
    and the shard id is the running total's budget quotient — so the
    shard layout is a pure function of the corpus, reproducible
    across runs and engines. Windows partition by language (parallel
    across partitions); a single global sequence at 100 TB would use
    the standard two-pass prefix-sum instead (per-partition totals →
    broadcast offsets), same arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    keyed = docs.select(
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        n_tok.cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    assigned = keyed.select(
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / shard_tokens)
        .cast("bigint")
        .alias("shard"),
    )
    return assigned.groupBy("lang", "shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )


def line_boilerplate_stats(spark: SparkSession, sf_dir: str, max_line_df: int = 3) -> DataFrame:
    """L2 (paragraph-level) — CCNet-style boilerplate line audit:
    split each document into lines (sentence stand-in: '. '
    boundaries), count each distinct line's document frequency, and
    report per-language how much of the corpus is boilerplate —
    lines repeated across more than ``max_line_df`` documents
    (navigation chrome, cookie banners, license headers).

    Two vocab-bounded shuffles: line-df (grouped on the line hash, not
    the raw line) and the per-language rollup. The hot boilerplate set
    is small by construction (high-df lines are few) — at 100 TB it
    broadcasts back against the exploded lines exactly like the
    ``max_df`` hot-shingle cap in ``ngram_jaccard_pairs``.
    """
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", "\\. ")).alias("line"),
    ).filter(F.length("line") >= 10)
    df_per_line = lines.groupBy(F.md5("line").alias("lh")).agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    flagged = lines.select("doc_id", "lang", F.md5("line").alias("lh")).join(
        df_per_line, "lh"
    )
    per_doc = flagged.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("line_df") > max_line_df).cast("int")).alias("n_boiler"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("total_lines"),
        F.sum("n_boiler").cast("bigint").alias("boiler_lines"),
        round2(
            F.sum("n_boiler").cast("double") / F.sum("n_lines").cast("double") * 100
        ).alias("boiler_pct"),
    )


def compression_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — compression-ratio quality proxy: per-language statistics
    of deflate(text)/len(text). Highly repetitive or templated text
    compresses far below ~0.4; near-random noise stays near 1.0 — the
    cheap model-free gibberish/boilerplate gate production pipelines
    run before any classifier.

    The codec is stdlib zlib at a FIXED level (6) inside an
    Arrow-batched ``mapInPandas`` — deterministic bytes-in/float-out,
    batch cost amortized, no row pickling (the sanctioned Python-seam
    shape, like the multimodal decode). Output is n_docs (exact) plus
    bound-assertion flags, so the DuckDB twin checks the exact column
    and asserts the invariant ones (sketch-family pattern).
    """
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    # Self-contained worker closure (nested defs pickle by value;
    # only stdlib/site-packages names may leak in).
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for batch in batches:
            raw = batch["text"].str.encode("utf-8")
            ratio = raw.map(lambda b: len(zlib.compress(b, 6)) / max(len(b), 1))
            yield pd.DataFrame(
                {"lang": batch["lang"], "ratio": ratio.astype("float64")}
            )

    scored = docs.mapInPandas(run, schema="lang string, ratio double")
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.every((F.col("ratio") > 0) & (F.col("ratio") <= 1.2)).alias("ratio_in_bounds"),
        (F.stddev("ratio") >= 0).alias("has_spread"),
    )


def bigram_logprob_scores(spark: SparkSession, sf_dir: str, k_smooth: float = 0.5) -> DataFrame:
    """L4 — bigram LM quality scoring (the KenLM-direction upgrade of
    ``unigram_logprob_scores``): train add-k-smoothed bigram
    conditionals on the corpus itself, score each document by its mean
    bigram log-probability P(w2|w1) = (c12 + k) / (c1 + k·V).

    Scale shape: bigrams extract ROW-SIDE (transform over the token
    array — no positional self-join), the model is one vocab²-bounded
    aggregate, context totals derive from the bigram counts (no second
    corpus pass), and V — the context-vocabulary size — attaches via a
    single-partition window OVER THE CONTEXT AGGREGATE (vocab-bounded
    rows), never the token stream. Scoring joins the bigram stream to
    the model on the bigram key: broadcast here, a key-partitioned
    shuffle at web scale where the bigram table outgrows broadcast.
    Trained on the scored corpus itself → no OOV path by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", _words().alias("ws")).filter(F.size("ws") >= 2)
    bg_arr = F.expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))"
    )
    big = ws.select("doc_id", F.explode(bg_arr).alias("bg"))

    bg_counts = big.groupBy("bg").agg(F.count("*").alias("c12")).withColumn(
        "w1", F.split("bg", " ")[0]
    )
    ctx = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ctx_v = ctx.withColumn("v", F.count("*").over(Window.partitionBy()))
    model = bg_counts.join(F.broadcast(ctx_v), "w1").select("bg", "c12", "c1", "v")

    lp = F.log(
        (F.col("c12") + F.lit(k_smooth))
        / (F.col("c1") + F.lit(k_smooth) * F.col("v"))
    )
    scored = (
        big.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.avg(lp).alias("lp"))
    )
    lp4 = round2(F.col("lp"), 4)
    return scored.select(
        "doc_id",
        "n_bigrams",
        lp4.alias("avg_logprob"),
        F.when(lp4 >= -3.38, "high")
        .when(lp4 >= -3.5, "mid")
        .otherwise("low")
        .alias("quality_bucket"),
    )


def group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 — group-aware train/val/test split over ``events``: the
    split key is the USER hash (not the row), so every event of a
    user lands in one split — the leakage guard for behavioral
    training data (a row-level split would put the same user's
    history on both sides of the evaluation boundary).

    The audit proves the property instead of assuming it: per split,
    user and event counts plus a cross-split user-overlap count that
    must be zero (computed as users with >1 distinct split). One
    shuffle on user_id; membership is a pure md5 function of the key,
    stable as the corpus grows (same contract as l4_hash_split_stats).
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    tagged = ev.select("user_id", "event_id", split.alias("split"))
    per_user = tagged.groupBy("user_id").agg(
        F.count_distinct("split").alias("n_splits"), F.first("split").alias("split")
    )
    leaked = per_user.agg(
        F.sum((F.col("n_splits") > 1).cast("int")).cast("bigint").alias("leaked")
    )
    per_split = tagged.groupBy("split").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    return per_split.crossJoin(F.broadcast(leaked)).select(
        "split", "n_users", "n_events", (F.col("leaked") == 0).alias("no_leakage")
    )


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 3,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    min_term_len: int = 4,
) -> DataFrame:
    """L4 — BM25 ranked retrieval (Robertson/Spärck Jones, public
    literature): top-``k`` documents per query term under the
    Okapi BM25 weighting, the scoring path a search engine runs over
    the inverted index that ``inverted_index`` builds.

    The query workload is derived deterministically from the corpus
    (the ``n_queries`` most frequent terms of length ≥
    ``min_term_len``), so the operator is self-contained and robust
    to fixture regeneration. Execution shape: one tokenize pass feeds
    BOTH the per-doc term frequencies (doc-bounded shuffle) and the
    document-frequency table (vocab-bounded); the query-term table is
    rows=``n_queries`` and broadcasts, so scoring reduces to one
    semi-join of the tf table against the query terms — at 100 TB
    this is postings-list traversal, never a corpus-wide join. The
    N/avgdl scalars ride in as a 1-row broadcast (the sanctioned
    scalar shape). Ranking uses the 6-dp-rounded score with doc_id
    tie-break so engine last-ulp float differences cannot reorder.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_words()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df_tab = (
        tok.select("doc_id", "term").distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    qterms = (
        df_tab.filter(F.length("term") >= min_term_len)
        .join(
            tf.groupBy("term").agg(F.sum("tf").alias("cf")),
            "term",
        )
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(n_queries)
        .select("term", "df")
    )
    scalars = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        F.broadcast(dl.agg(F.avg("dl").alias("avgdl")))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score = idf * F.col("tf") * F.lit(k1 + 1.0) / norm
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .withColumn("score", F.round(score, 6))
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "term",
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            "tf",
            "score",
        )
    )


def fixed_k_sample(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """L4 — exact-k-per-group deterministic sample: the eval-set
    primitive (exactly ``k`` docs per language, not a rate). Selection
    order is md5(doc_id) — a stable pseudo-random permutation, so the
    sample is reproducible across runs, engines, and repartitioning,
    and appending new docs can only displace rows that hash later
    (rate-based cousin: ``stratified_sample``).

    One per-group window over a narrow (lang, hash, doc_id)
    projection; at 100 TB exact-k selection per group is a top-k —
    rank only within the group's hash-ordered stream, never a global
    sort of the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def weighted_sample_no_replacement(
    spark: SparkSession, sf_dir: str, k: int = 100
) -> DataFrame:
    """L4 — deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each doc draws priority
    ln(u)/w with u ~ U(0,1); the k largest priorities are exactly a
    weighted sample without replacement. Weight = n_chars, so the
    sample is length-biased the way token-budget curation is.

    u is md5-derived (same keyed-permutation trick as
    ``fixed_k_sample``), so the sample is reproducible across runs,
    engines, and repartitioning — the DuckDB twin recomputes the
    identical priorities. Selection is a global top-k
    (TakeOrderedAndProject: per-partition heads then a single merge),
    NOT a full sort — the 100 TB plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    )
    u = (h + F.lit(1.0)) / F.lit(float(2**32) + 1.0)  # in (0,1)
    prio = F.log(u) / F.col("n_chars")  # maximize u^(1/w) <=> ln(u)/w
    return (
        docs.select("doc_id", "lang", "n_chars", prio.alias("prio"))
        .orderBy(F.desc("prio"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "lang", "n_chars")
    )


def ppjoin_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """L2 — EXACT Jaccard pairs via prefix filtering (PPJoin-style),
    the lossless 100 TB alternative to ``ngram_jaccard_pairs``'s
    ``max_df`` candidate cap.

    Prefix-filter lemma: order every doc's shingles by a global total
    order (document frequency ascending, then shingle — rarest
    first); if J(A,B) >= t then |A∩B| >= ceil(t·|A|) and
    ceil(t·|B|), so A and B must share a token within their first
    |d| - ceil(t·|d|) + 1 tokens. Candidate generation therefore
    joins only those short, RARE-token prefixes — fan-out per bucket
    is bounded by rare-token df, so the boilerplate-shingle explosion
    the max_df cap guards against cannot occur BY CONSTRUCTION, and
    no qualifying pair is lost. A size filter
    (min >= t·max, also implied by J >= t) and the PPJoin POSITIONAL
    filter (overlap <= 1 + min(|a|-ra, |b|-rb) for a shared prefix
    token at ranks ra/rb — Xiao et al. 2008, both lossless) prune
    candidates ~10x before verification; verification joins each
    side's full sorted shingle array back (hash joins on doc_id) and
    scores the true Jaccard row-side via array_intersect. A pair is
    emitted on its 4-place rounded J, so all three bounds prune at
    t − 10⁻⁴ rather than t.

    Cost shape: two shuffles of the token stream (df attach by
    shingle, prefix rank by doc), one prefix-bucket expansion, two
    doc-keyed joins over the candidate set. The DuckDB twin is the
    NAIVE all-shingle self-join — algorithm vs ground truth, exact
    match required.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)
    # EXACT rational threshold p/q: every lossless bound below must be
    # computed without float error. A pre-rounded float constant like
    # threshold/(1+threshold) rounds 0.8/1.8 UP to 0.4444444444444445,
    # so ceil() can exceed the true rational bound ceil(4(a+b)/9) and
    # PRUNE a pair sitting exactly at J = t (e.g. a 28-shingle doc
    # contained in a 35-shingle doc: overlap 28, exact alpha 28, float
    # alpha 29). Same hazard hits ceil(t·|d|) (prefix one token short
    # for |d| a multiple of 5 at t=0.8) and min >= t·max (prunes the
    # tight 4/5-sized pair). All three now use bigint arithmetic on
    # p/q, where integer-ceil(a/b) = (a + b - 1) DIV b.
    # The pair is EMITTED on round2(J, 4) >= t, so J = 0.799975 counts
    # as 0.8: every bound prunes at p/q = t − 10⁻⁴, one rounding step
    # below t (as in ngram_jaccard_pairs), which keeps all three
    # lossless for the rounded predicate.
    frac = Fraction(threshold).limit_denominator(10**6) - Fraction(1, 10**4)
    tp, tq = frac.numerator, frac.denominator
    # Optimization r12 (guide §1.2#1, VERDICT r11 ask #2): the shingle
    # transform used to be evaluated THREE times — the token stream
    # plus both verification array sides re-derived it from raw text.
    # The narrow (doc_id, sz, shingle) token stream is localCheckpoint-ed
    # once and everything derives from it: the prefix windows read it
    # directly, and the verification arrays are REBUILT from it by a
    # collect_list per doc (array_intersect only needs set equality,
    # not sh_arr's first-occurrence order — outputs verified
    # row-identical). A/B measured at BOTH driver core counts (the r11
    # parallel-slots defense held only at 32 idle cores): min-of-5
    # 2.48 -> 2.23 s at local[32] and 2.44 -> 2.07 s at local[8], with
    # one text scan in the plan instead of three.
    tok = with_arr.select(
        "doc_id", F.size("sh_arr").alias("sz"), F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull()).localCheckpoint()
    # global order key: df ASC, shingle ASC — one window per shingle
    # (df attach), one per doc (prefix rank)
    by_shingle = Window.partitionBy("shingle")
    by_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # prefix length |d| - ceil(t·|d|) + 1, exact: ceil(p·sz/q)
    ceil_t_sz = F.expr(f"({tp}L * sz + {tq}L - 1) DIV {tq}L")
    prefix = (
        tok.withColumn("df", F.count("*").over(by_shingle))
        .withColumn("rk", F.row_number().over(by_doc))
        .filter(F.col("rk") <= F.col("sz") - ceil_t_sz + 1)
        .select("doc_id", "sz", "rk", "shingle")
    )
    # PPJoin positional filter (lossless, Xiao et al. 2008): a shared
    # prefix token at 1-based ranks (ra, rb) bounds the overlap by
    # 1 + min(|a|-ra, |b|-rb); J >= t needs overlap >=
    # ceil(t/(1+t)·(|a|+|b|)) = ceil(p·(a+b)/(p+q)), so instances
    # below the bound can't qualify. A pair survives if ANY shared
    # instance passes — filtering BEFORE distinct cuts verification
    # fan-in ~10x.
    alpha = F.expr(f"({tp}L * (sz_a + sz_b) + {tp}L + {tq}L - 1) DIV ({tp}L + {tq}L)")
    ubound = 1 + F.least(
        F.col("sz_a") - F.col("rk_a"), F.col("sz_b") - F.col("rk_b")
    )
    cands = (
        prefix.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sz", "rk"))).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), y -> "
                    "struct(x.doc_id as a_id, x.sz as sz_a, x.rk as rk_a, "
                    "y.doc_id as b_id, y.sz as sz_b, y.rk as rk_b))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.sz_a", "p.rk_a", "p.b_id", "p.sz_b", "p.rk_b")
        # size filter min >= t·max, exact: q·min >= p·max in bigints
        .filter(F.expr(f"{tq}L * least(sz_a, sz_b) >= {tp}L * greatest(sz_a, sz_b)"))
        .filter(ubound >= alpha)
        .select("a_id", "sz_a", "b_id", "sz_b")
        .distinct()
    )
    # verification arrays from the checkpointed token stream (not a
    # re-derivation from text); shingles are distinct per doc by
    # construction, so collect_list rebuilds the set exactly
    arrs = tok.groupBy("doc_id").agg(F.collect_list("shingle").alias("arr"))
    a_arrs = arrs.select(F.col("doc_id").alias("a_id"), F.col("arr").alias("a_arr"))
    b_arrs = arrs.select(F.col("doc_id").alias("b_id"), F.col("arr").alias("b_arr"))
    inter = F.size(F.array_intersect("a_arr", "b_arr"))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cands.join(a_arrs, "a_id")
        .join(b_arrs, "b_id")
        # round2, not F.round: Spark HALF_UP on the shortest decimal
        # repr disagrees with DuckDB's binary half-away on exact ties
        # (57/800 = 0.07125 -> 0.0713 vs 0.0712)
        .select("a_id", "b_id", round2(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    n: int = 3,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """L2 — asymmetric CONTAINMENT near-dup pairs:
    C(A→B) = |A∩B| / |A| >= t, i.e. doc A's shingles are mostly inside
    doc B. Jaccard misses exactly this case when |B| >> |A| (a quoted
    paragraph inside a long page scores near-zero Jaccard but ~1.0
    containment), and sub-document duplication is the dominant
    contamination mode in web corpora.

    Same single-shuffle group-by-shingle pair expansion as
    ``ngram_jaccard_pairs`` (one shingle-stream shuffle, max_df cap on
    boilerplate, i<j expansion JVM-side); only the final score changes:
    each unordered pair scores BOTH directions and emits the max,
    tagged with which side is contained. The DuckDB twin applies the
    identical cap and formula.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)
    sh = with_arr.select(
        "doc_id", F.size("sh_arr").alias("sz"), F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    pairs = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), y -> "
                    "struct(x.doc_id as a_id, x.sz as sz_a, "
                    "y.doc_id as b_id, y.sz as sz_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.a_id", "p.b_id")
        .agg(
            F.count("*").alias("inter"),
            F.first("p.sz_a").alias("sz_a"),
            F.first("p.sz_b").alias("sz_b"),
        )
    )
    containment = round2(
        F.col("inter") / F.least("sz_a", "sz_b"), 4
    )  # max over both directions = inter / min(|A|,|B|); round2 for
    # cross-engine tie behavior (see ppjoin_jaccard_pairs)
    return (
        pairs.select(
            "a_id",
            "b_id",
            containment.alias("containment"),
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("contained_id"),
        )
        .filter(F.col("containment") >= threshold)
    )


def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — 2-D skyline (Pareto frontier) over the corpus: documents
    maximizing BOTH token count and lexical diversity (distinct-token
    ratio) — the dominance query behind "pick the docs no other doc
    beats on every axis" curation shortlists.

    p dominates q iff p ≥ q on both axes and > on at least one. The
    classic O(n log n) sweep, distributed: ONE sort by token count
    plus two window passes — max diversity over STRICTLY-more-token
    rows (RANGE frame on the negated count excludes ties), and max
    diversity within the SAME count (partition window) — a doc
    survives iff neither beats it. No self-join, no n² dominance
    test; the sort is the only wide step. (The single-partition
    window over the full corpus is the honest cost of a GLOBAL
    skyline; partition-wise frontiers + a frontier-of-frontiers merge
    is the 100 TB refinement — the frontier is tiny, so the merge
    step is driver-scale.)
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    # diversity as integer parts-per-million (floor) — pure integer
    # math, so both engines agree bit-for-bit (a rounded float ratio
    # like 77/128 sits exactly on a .5 boundary and engines disagree)
    base = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.floor(
            F.size(F.array_distinct(ws)).cast("bigint") * 1_000_000 / F.size(ws)
        ).cast("bigint").alias("diversity"),
    ).filter(F.col("n_tokens") > 0)
    # RANGE on -n_tokens: [unbounded, -1] == strictly more tokens
    strict = (
        Window.orderBy((-F.col("n_tokens")).cast("long"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same = Window.partitionBy("n_tokens")
    ranked = base.select(
        "doc_id",
        "n_tokens",
        "diversity",
        F.max("diversity").over(strict).alias("best_above"),
        F.max("diversity").over(same).alias("best_same"),
    )
    return (
        ranked.filter(
            (F.col("best_above").isNull() | (F.col("best_above") < F.col("diversity")))
            & (F.col("best_same") <= F.col("diversity"))
        )
        .select("doc_id", "n_tokens", "diversity")
    )


def ngram_novelty_scores(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """L4 — per-document NOVELTY: the share of a doc's distinct word
    n-grams that appear nowhere else in the corpus (df == 1), plus the
    corpus-level rollup per language. The inter-document complement of
    the intra-document repetition gates (`l4_repetition_scores`):
    low novelty + not-a-near-dup flags templated/boilerplate-heavy
    sources that pair-level dedup under-counts.

    Shape: one shingle-stream shuffle attaches df via a per-shingle
    window (count over partition), then a per-doc rollup — the same
    two-shuffle posture as the prefix-filter build, no joins. Emits
    integer ppm (floor) so the score is bit-exact across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)  # (doc_id, sh_arr) only
    sh = with_arr.select(
        "doc_id", F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    df_w = Window.partitionBy("shingle")
    flagged = sh.withColumn("df", F.count("*").over(df_w))
    # lang rejoins at DOC grain (one row per doc), not shingle grain
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
    ).join(docs.select("doc_id", "lang"), "doc_id")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("n_shingles"),
            F.sum("n_unique").cast("bigint").alias("n_unique"),
            F.floor(
                F.sum("n_unique") * 1_000_000 / F.sum("n_shingles")
            ).cast("bigint").alias("novelty_ppm"),
            F.sum(
                (F.col("n_unique") * 10 < F.col("n_shingles")).cast("long")
            ).alias("n_low_novelty_docs"),
        )
    )


def incremental_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """L2 — INCREMENTAL ingestion near-dup: score only NEW-batch docs
    (doc_id % 10 == 0, the deterministic batch stand-in) against the
    EXISTING corpus — the daily-ingest shape, where re-running the
    full corpus self-join every day is the classic cost blowup.

    Same single-shuffle group-by-shingle machinery as
    ``ngram_jaccard_pairs``, but pair expansion emits ONLY cross-tag
    (new × old) pairs: per shingle group the postings split row-side
    into new/old sublists and a nested transform crosses them —
    old×old pairs (the already-deduped corpus) and new×new pairs
    (handled by the intra-batch pass) are never materialized. With a
    daily batch b and corpus N, emitted candidates scale with
    b·df-bound, not N², and the same max_df cap bounds hot shingles.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_arr = _with_shingle_array(docs, n)
    sh = with_arr.select(
        "doc_id",
        F.size("sh_arr").alias("sz"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
        F.explode_outer("sh_arr").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    pairs = (
        sh.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "sz", "is_new")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(filter(ds, x -> x.is_new), nx -> "
                    "transform(filter(ds, y -> NOT y.is_new), oy -> "
                    "struct(nx.doc_id as new_id, nx.sz as sz_new, "
                    "oy.doc_id as old_id, oy.sz as sz_old))))"
                )
            ).alias("p")
        )
        .groupBy("p.new_id", "p.old_id")
        .agg(
            F.count("*").alias("inter"),
            F.first("p.sz_new").alias("sz_new"),
            F.first("p.sz_old").alias("sz_old"),
        )
    )
    jac = F.col("inter") / (F.col("sz_new") + F.col("sz_old") - F.col("inter"))
    return pairs.select(
        "new_id", "old_id", round2(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


ZIPF_FIT_TOP = 100


def zipf_ols_fit(spark: SparkSession, sf_dir: str, top_n: int = ZIPF_FIT_TOP) -> DataFrame:
    """L4 — Zipf's-law fit over the corpus word-frequency curve: OLS
    of ln(frequency) on ln(rank) for the top ``top_n`` words. The
    slope is the (negative) Zipf exponent — a standard corpus-health
    diagnostic: natural text sits near −1; templated/synthetic or
    boilerplate-heavy crawls bend the curve, so a drifting exponent
    between ingestion snapshots is a cheap red flag long before a
    model sees the data.

    Scale shape: the count groupBy shuffles distinct words only
    (vocab-bounded); ``limit(top_n)`` plans TakeOrderedAndProject
    (per-partition top-k + driver merge of top_n·partitions rows, no
    global sort); the rank window then orders only top_n rows. Ties
    at the cutoff break on the word itself so both engines select the
    identical fit set.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(top_n)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("word")))
        .alias("rank"),
        "n",
    )
    xy = ranked.select(F.log("rank").alias("x"), F.log("n").alias("y"))
    m = xy.agg(
        F.count("*").cast("bigint").alias("n_fit"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("sxx"),
        F.avg(F.col("x") * F.col("y")).alias("sxy"),
        F.avg(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("mx") * F.col("my")
    varx = F.col("sxx") - F.col("mx") * F.col("mx")
    vary = F.col("syy") - F.col("my") * F.col("my")
    slope = cov / varx
    return m.select(
        "n_fit",
        round2(slope, 4).alias("zipf_slope"),
        round2(F.col("my") - slope * F.col("mx"), 4).alias("intercept"),
        round2(cov * cov / (varx * vary), 4).alias("r2"),
    )


SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — dedup-threshold tuning curve: for each candidate Jaccard
    threshold, how many near-duplicate pairs fire and how many
    distinct documents they touch. This is the query a pipeline owner
    runs BEFORE choosing the dedup cutoff — the elbow in n_docs vs
    threshold is the operating point — and it reuses the exact pair
    engine once at the loosest threshold, so the sweep costs one pair
    join + a 5x metadata amplification, not five pair joins.

    The pair set is computed at min(SWEEP_THRESHOLDS) and replicated
    per threshold with explode (pairs x |grid| rows — pair-bounded,
    not corpus-bounded); both aggregates (pair count, distinct
    affected docs) group on the threshold key.
    """
    lo = min(SWEEP_THRESHOLDS)
    pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=lo).select(
        "a_id", "b_id", "jaccard"
    )
    amp = pairs.select(
        "a_id",
        "b_id",
        F.explode(
            F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
        ).alias("threshold"),
        "jaccard",
    ).filter(F.col("jaccard") >= F.col("threshold"))
    n_pairs = amp.groupBy("threshold").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    n_docs = (
        amp.select(
            "threshold", F.explode(F.array("a_id", "b_id")).alias("doc")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    return n_pairs.join(F.broadcast(n_docs), "threshold")


# --- TextRank keyword extraction ---------------------------------------

TEXTRANK_D = 0.85
TEXTRANK_ITER = 3
TEXTRANK_MIN_LEN = 3


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — TextRank keyword scores over the corpus co-occurrence
    graph (Mihalcea & Tarau 2004): nodes are words of length >=
    TEXTRANK_MIN_LEN, edges are adjacent-token co-occurrences
    (undirected, weight = corpus count), scored by TEXTRANK_ITER
    unrolled iterations of weighted PageRank with damping TEXTRANK_D.
    The graph-centrality complement to frequency-based
    ``word_topk``/TF-IDF: a word ranks high when it co-occurs with
    other high-ranking words, not merely when it is common.

    Scale shape: the ONLY fact-scale work is one pass extracting
    adjacent pairs via JVM array HOFs (zip_with over two slices — no
    posexplode self-join) followed by a grouped count; everything
    after runs on the vocabulary-bounded edge list (Heaps' law: vocab
    grows ~sqrt of corpus, and the word-length filter caps it
    further), so the iteration never touches the corpus again. The
    teleport constant 1/N comes from an unpartitioned window over the
    vocab-size node frame, not a fact-table scalar.

    Determinism: per-node in-sums span at most vocab-size terms;
    engine summation-order noise is ~1 ulp and the output is rounded
    at 1e-8 — boundary ties need the true value within ~1e-16 of a
    rounding edge. The DuckDB twin replays the identical unrolled
    iterations (generated CTE chain, constants interpolated).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("ws"))
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(
            (F.length("a") >= TEXTRANK_MIN_LEN)
            & (F.length("b") >= TEXTRANK_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
    )
    und = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # Materialize the vocabulary-bounded edge list once (optimization
    # r11, guide §5 caching): ``e`` feeds ew (per iteration), nodes
    # (per iteration) and deg, so the FACT-SCALE pair extraction above
    # was re-planned ~2·ITER+2 times into one giant job. The unrolled
    # iterations are strictly sequential, so the checkpoint loses no
    # task-slot parallelism; everything downstream is vocab-scale.
    e = (
        und.groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
        .localCheckpoint()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("ow")).alias("share"), "w"
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("n", F.count("*").over(Window.partitionBy()))
    )
    d = TEXTRANK_D
    pr = nodes.select("node", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(TEXTRANK_ITER):
        m = (
            ew.join(pr, ew.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("share") * F.col("pr")).alias("s"))
        )
        pr = nodes.join(m, nodes.node == m.dst, "left").select(
            "node",
            "n",
            (
                F.lit(1.0 - d) / F.col("n")
                + F.lit(d) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("pr"),
        )
    deg = e.groupBy("src").agg(
        F.count("*").alias("n_neighbors"),
        F.sum("w").cast("bigint").alias("adj_weight"),
    )
    return pr.join(deg, pr.node == deg.src).select(
        F.col("node").alias("word"),
        "n_neighbors",
        "adj_weight",
        round2("pr", 8).alias("score"),
    )


# --- PMI collocations ---------------------------------------------------

PMI_MIN_PAIR = 5


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — pointwise mutual information of adjacent word pairs:
    PMI(a,b) = ln( p(a,b) / (p(a)p(b)) ) with p(a,b) from the ordered
    bigram stream and p(.) from the unigram stream (both restricted to
    words of length >= TEXTRANK_MIN_LEN, the TextRank vocabulary).
    The classic collocation detector (Church & Hanks 1990): high PMI
    = the pair co-occurs far above chance — phrase candidates for
    tokenizer/vocab curation; near-zero/negative = independence.
    Pairs below PMI_MIN_PAIR occurrences are dropped (PMI of rare
    pairs is noise — the standard guard).

    Scale shape: the same single fact pass as ``textrank_keywords``
    (zip_with over two slices, no posexplode self-join) feeding a
    grouped bigram count; unigram counts join back broadcast
    (vocab-bounded); the two totals are a 1-row broadcast. Nothing
    after the first aggregation touches the corpus.

    Determinism: all counts are exact integers; PMI is one ln() of a
    rational from those integers, rounded at 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("ws"))
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(
            (F.length("a") >= TEXTRANK_MIN_LEN)
            & (F.length("b") >= TEXTRANK_MIN_LEN)
        )
    )
    bi = pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    uni = (
        toks.select(F.explode("ws").alias("t"))
        .filter(F.length("t") >= TEXTRANK_MIN_LEN)
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    tot = bi.agg(F.sum("c_ab").alias("t_bi")).crossJoin(
        uni.agg(F.sum("c").alias("t_uni"))
    )
    scored = (
        bi.filter(F.col("c_ab") >= PMI_MIN_PAIR)
        .join(
            F.broadcast(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a"))),
            "a",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b"))),
            "b",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi_raw",
            F.log(
                (F.col("c_ab") / F.col("t_bi"))
                / (
                    (F.col("c_a") / F.col("t_uni"))
                    * (F.col("c_b") / F.col("t_uni"))
                )
            ),
        )
    )
    return scored.select(
        F.col("a").alias("word_a"),
        F.col("b").alias("word_b"),
        "c_ab",
        "c_a",
        "c_b",
        round2("pmi_raw", 6).alias("pmi"),
    )


# --- hashing-trick featurization audit ----------------------------------

FEATHASH_DIM = 1024


def feature_hashing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — collision audit of hashing-trick featurization: every
    corpus token maps to one of FEATHASH_DIM buckets via the shared
    md5 gate (what a streaming featurizer would do instead of
    maintaining a vocabulary), and the output is the collision
    histogram — for each k, how many buckets hold exactly k DISTINCT
    tokens, with the token-occurrence mass they carry. The audit that
    sizes the hash dimension: if heavy buckets carry real mass, the
    dimension is too small for the vocabulary.

    Scale shape: one fact pass to token grain (vocab-bounded grouped
    count), the bucket map is a projection on that grain, and the
    histogram is two nested KB-scale aggregates. The vocabulary side
    is Heaps-law bounded; nothing downstream of the first aggregate
    sees corpus rows.

    Determinism: everything is exact integer counting on the shared
    md5 bucket — no floats anywhere until the final share ratio.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("occ"))
    )
    bucketed = toks.withColumn("bucket", md5_bucket("t", FEATHASH_DIM))
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count("*").alias("k_tokens"),
        F.sum("occ").alias("occ_mass"),
    )
    tot = Window.partitionBy()
    hist = per_bucket.groupBy("k_tokens").agg(
        F.count("*").alias("n_buckets"),
        F.sum("occ_mass").cast("bigint").alias("occurrence_mass"),
    )
    return hist.select(
        "k_tokens",
        "n_buckets",
        "occurrence_mass",
        round2(
            F.col("occurrence_mass")
            / F.sum("occurrence_mass").over(tot),
            6,
        ).alias("mass_share"),
    )


# --- retrieval quality metrics ------------------------------------------

REL_MIN_TF = 2  # binary relevance: term appears at least twice
REL_CAP = 3  # graded relevance: tf capped (log-ish gain saturation)


def retrieval_metrics(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """L4 — IR evaluation of the BM25 ranking: NDCG@k, MRR, and
    precision@k per query term, against a deterministic
    term-frequency relevance (graded rel = min(tf, REL_CAP), binary
    rel = tf >= REL_MIN_TF). The missing third leg of a search stack
    — index (``inverted_index``), ranking (``bm25_search``), and now
    the metric harness that tells you whether a ranking change helped.

    DCG@k = sum (2^rel - 1)/log2(rank+1) over the retrieved list;
    IDCG@k from the corpus-wide ideal ordering (rel desc) among ALL
    docs containing the term, so NDCG is properly normalized even
    when BM25 misses a high-tf doc.

    Scale shape: the ranked list is k-bounded per term; the ideal
    list is a per-term top-k window over that term's postings (the
    same partitioned-rank shape as the BM25 ranking itself); corpus
    relevance counts are one postings aggregate. Everything joins at
    (term, doc) grain, no corpus-wide sort.

    Determinism: rel/gain/rank are exact integers; DCG is a <=k-term
    sum of exact-integer functions, rounded at 1e-6.
    """
    ranked = bm25_search(spark, sf_dir, k=k)
    gain = (F.pow(F.lit(2.0), F.least(F.col("tf"), F.lit(REL_CAP))) - 1) / F.log2(
        F.col("rk") + 1
    )
    per_ranked = ranked.groupBy("term").agg(
        F.sum(gain).alias("dcg_raw"),
        F.max(
            F.when(F.col("tf") >= REL_MIN_TF, F.lit(1.0) / F.col("rk")).otherwise(
                0.0
            )
        ).alias("mrr_raw"),
        (
            F.sum((F.col("tf") >= REL_MIN_TF).cast("bigint")) / F.lit(float(k))
        ).alias("p_at_k_raw"),
    )
    # corpus-wide relevance per query term (postings of the same 3
    # query terms the BM25 operator selects)
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_words()).alias("term")
    ).filter(F.col("term") != "")
    tf_all = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    postings = tf_all.join(
        F.broadcast(ranked.select("term").distinct()), "term"
    )
    w_ideal = Window.partitionBy("term").orderBy(
        F.desc(F.least(F.col("tf"), F.lit(REL_CAP))), F.asc("doc_id")
    )
    ideal = (
        postings.withColumn("irk", F.row_number().over(w_ideal))
        .filter(F.col("irk") <= k)
        .groupBy("term")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.least(F.col("tf"), F.lit(REL_CAP))) - 1)
                / F.log2(F.col("irk") + 1)
            ).alias("idcg_raw")
        )
    )
    n_rel = postings.filter(F.col("tf") >= REL_MIN_TF).groupBy("term").agg(
        F.count("*").alias("n_relevant")
    )
    return (
        per_ranked.join(ideal, "term")
        .join(n_rel, "term")
        .select(
            "term",
            "n_relevant",
            round2("p_at_k_raw", 6).alias("p_at_k"),
            round2("mrr_raw", 6).alias("mrr"),
            round2("dcg_raw", 6).alias("dcg"),
            round2("idcg_raw", 6).alias("idcg"),
            round2(F.col("dcg_raw") / F.col("idcg_raw"), 6).alias("ndcg"),
        )
    )


# --- per-source quantile alignment --------------------------------------

QALIGN_QS = (10, 25, 50, 75, 90)  # percent points audited
QALIGN_BUCKET = 64.0  # n_chars prefix-sum bucket width


def quantile_align_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — distribution-alignment audit: for each corpus source and
    each percent point in QALIGN_QS, the EXACT k-th smallest doc
    length (k = ceil(q*n/100) — a true order statistic, no
    interpolation) next to the pooled corpus's exact order statistic
    at the same point, and their gap. The mixing-audit companion to
    ``temperature_mix``/``shard_assignment``: when one source's whole
    length profile sits far from the pool, packing efficiency and
    loss weighting drift — this is the table that shows it before
    training does.

    Scale shape: per-source order statistics use a window partitioned
    BY SOURCE (each source ranks independently in parallel); the
    pooled statistics use the two-phase bucketed prefix sum at the
    distinct-length grain (integer lengths — the grain is
    value-bounded), never a global row sort. The q-grid is a 5-row
    broadcast; the pool totals a 1-row broadcast.

    Determinism: lengths and ranks are exact integers end to end —
    the only float op is the ceil(q*n/100) cut, identical arithmetic
    on both engines.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in QALIGN_QS])).alias("pct")
    )
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w_src))
    cnts = docs.groupBy(F.col("source").alias("src_g")).agg(
        F.count("*").alias("n_docs")
    )
    tgt = cnts.crossJoin(F.broadcast(qs)).withColumn(
        "k", F.ceil(F.col("pct") * F.col("n_docs") / F.lit(100.0)).cast("bigint")
    )
    src_val = ranked.join(
        tgt, (ranked.source == tgt.src_g) & (ranked.rn == tgt.k)
    ).select("source", "pct", "n_docs", F.col("n_chars").alias("src_value"))
    per_value = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    pv = per_value.withColumn("bu", F.floor(F.col("n_chars") / QALIGN_BUCKET))
    w_local = Window.partitionBy("bu").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pv.select(
        "bu",
        "n_chars",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_local), F.lit(0)).alias("lc"),
    )
    w_prior = Window.orderBy("bu").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pv.groupBy("bu")
        .agg(F.sum("cnt").alias("bn"))
        .select(
            "bu", F.coalesce(F.sum("bn").over(w_prior), F.lit(0)).alias("oc")
        )
    )
    cum = local.join(F.broadcast(offsets), "bu").select(
        "n_chars", "cnt", (F.col("lc") + F.col("oc")).alias("cn_excl")
    )
    tot = per_value.agg(F.sum("cnt").cast("bigint").alias("n_all"))
    pool = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qs))
        .withColumn(
            "k",
            F.ceil(F.col("pct") * F.col("n_all") / F.lit(100.0)).cast("bigint"),
        )
        .filter(
            (F.col("cn_excl") < F.col("k"))
            & (F.col("cn_excl") + F.col("cnt") >= F.col("k"))
        )
        .select("pct", F.col("n_chars").alias("pooled_value"))
    )
    return src_val.join(pool, "pct").select(
        "source",
        F.col("pct").cast("bigint").alias("pct"),
        "n_docs",
        "src_value",
        "pooled_value",
        (F.col("src_value") - F.col("pooled_value")).alias("shift"),
    )


# --- importance-sampling weights toward a target slice -------------------

DSIR_TARGET_LANG = "en"
DSIR_BUCKET = 0.05  # log-ratio histogram bucket width


def dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — DSIR-style importance weights (Xie et al. 2023, public
    literature): per-document average unigram log-likelihood ratio
    between a TARGET slice's language model (docs with lang =
    DSIR_TARGET_LANG, add-1 smoothed) and the overall corpus model;
    documents whose token mix resembles the target score high and get
    upsampled when building a domain-targeted training mix. Output is
    the per-lang histogram of the ratio (bucket width DSIR_BUCKET) —
    the distribution view that sets the resampling temperature.

    Scale shape: one tokenize pass to (doc, term) grain; BOTH language
    models are vocab-grain aggregates of that same grain; the per-term
    log-ratio table is vocab-bounded and broadcast back; per-doc
    scores are one grouped sum. Scalars (token totals, vocab size)
    ride as a 1-row broadcast.

    Determinism: counts exact; the per-doc ratio is rounded at 1e-6
    BEFORE bucketing so engine summation-order ulps cannot flip a
    histogram bucket.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(_words()).alias("t")
    ).filter(F.col("t") != "")
    tf = tok.groupBy("doc_id", "lang", "t").agg(F.count("*").alias("tf"))
    c_b = tok.groupBy("t").agg(F.count("*").alias("cb"))
    c_t = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("t")
        .agg(F.count("*").alias("ct"))
    )
    scal = tok.agg(
        F.count("*").alias("nb"),
        F.sum(
            (F.col("lang") == DSIR_TARGET_LANG).cast("bigint")
        ).alias("nt"),
        F.countDistinct("t").alias("v"),
    )
    lr_tab = (
        c_b.join(c_t, "t", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "t",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    / (F.col("nt") + F.col("v"))
                )
                - F.log((F.col("cb") + 1) / (F.col("nb") + F.col("v")))
            ).alias("lr"),
        )
    )
    per_doc = (
        tf.join(F.broadcast(lr_tab), "t")
        .groupBy("doc_id", "lang")
        .agg(
            round2(
                F.sum(F.col("tf") * F.col("lr")) / F.sum("tf"), 6
            ).alias("lr_doc")
        )
    )
    return per_doc


def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — the per-lang histogram view of ``dsir_doc_scores`` (see
    that function for the model and determinism contract)."""
    per_doc = dsir_doc_scores(spark, sf_dir)
    bucket = F.floor(F.col("lr_doc") / F.lit(DSIR_BUCKET)).cast("bigint")
    return per_doc.groupBy("lang", bucket.alias("lr_bucket")).agg(
        F.count("*").alias("n_docs"),
        round2(F.avg("lr_doc"), 6).alias("avg_lr"),
    )


HEAPS_CHECKPOINTS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — Heaps'-law fit of vocabulary growth, V(T) ~ K * T^beta:
    the corpus is cut at HEAPS_CHECKPOINTS doc-id deciles; V at each
    cut is counted WITHOUT re-scanning prefixes (each term belongs to
    the decile of its FIRST-occurrence doc, so V(cut_k) is a
    cumulative sum over 10 bucket rows — the same first-occurrence
    trick `contamination_flags` uses), T likewise from per-doc token
    counts; beta/K come from OLS on the 10 (ln T, ln V) points. The
    capacity-planning constant for everything vocab-bounded in this
    engine (TextRank, PMI, BPE, feature hashing): beta ~ 0.5 is what
    justifies their 100 TB stories, and this measures it instead of
    assuming it.

    Scale shape: one tokenize pass to (term, min doc) vocab grain and
    one to per-doc token counts; everything after runs on 10 bucket
    rows. The max-doc-id scalar is a 1-row broadcast.

    Determinism: bucket cuts are integer arithmetic on exact ids;
    the OLS runs over 10 ln() points, rounded 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_words()).alias("t")
    ).filter(F.col("t") != "")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    k = F.lit(HEAPS_CHECKPOINTS)
    first = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("fd"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.ceil(F.col("fd") * k / F.col("mx")), k.cast("bigint")
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count("*").alias("new_terms"))
    )
    per_doc = (
        tok.groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.ceil(F.col("doc_id") * k / F.col("mx")), k.cast("bigint")
            ).alias("d"),
            "n_tok",
        )
        .groupBy("d")
        .agg(F.sum("n_tok").alias("toks"))
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    # FULL outer: a decile can add tokens but no new terms (saturated
    # vocabulary) — its token mass must still enter the cumulative T
    pts = (
        first.join(per_doc, "d", "full_outer")
        .select(
            "d",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
            F.coalesce("toks", F.lit(0)).alias("toks"),
        )
        .withColumn("V", F.sum("new_terms").over(w_cum))
        .withColumn("T", F.sum("toks").over(w_cum))
        .filter((F.col("V") > 0) & (F.col("T") > 0))
        .select(F.log("T").alias("lx"), F.log("V").alias("ly"))
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.avg("lx").alias("mx_"),
        F.avg("ly").alias("my_"),
        F.avg(F.col("lx") * F.col("ly")).alias("mxy"),
        F.avg(F.col("lx") * F.col("lx")).alias("mxx"),
        F.avg(F.col("ly") * F.col("ly")).alias("myy"),
    )
    beta = (F.col("mxy") - F.col("mx_") * F.col("my_")) / (
        F.col("mxx") - F.col("mx_") ** 2
    )
    r2 = (F.col("mxy") - F.col("mx_") * F.col("my_")) ** 2 / (
        (F.col("mxx") - F.col("mx_") ** 2)
        * (F.col("myy") - F.col("my_") ** 2)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_points"),
        round2(beta, 6).alias("heaps_beta"),
        round2(F.col("my_") - beta * F.col("mx_"), 6).alias("heaps_ln_k"),
        round2(r2, 6).alias("r_squared"),
    )


# -- content-defined chunking (round 7) --------------------------------

CDC_WINDOW = 16
CDC_BASE = 131
CDC_MOD = 1_000_000_007
CDC_DIVISOR = 64
# B^(W-1-j) mod M for j = 0..W-1 — identical literals on the oracle
# side so both engines cut at exactly the same byte positions
CDC_POWS = tuple(pow(CDC_BASE, CDC_WINDOW - 1 - j, CDC_MOD) for j in range(CDC_WINDOW))


def _cdc_window_hash_expr() -> str:
    """Flat 16-term window polynomial over a materialized ``codes``
    int-array column at position column ``i`` — plain int64 codegen
    arithmetic, no lambda. L-suffixed pow coefficients keep each
    product in int64 (code·pow < 2^47; 16-term sum < 2^52).

    Why this shape (each alternative measured on the sf0.01 corpus):
    - ``substring(text, i, 1)`` per window byte-scans the UTF8String
      from the start → O(len²·W) per doc → minutes;
    - computing boundaries as a nested array-HOF expression collapses
      under CollapseProject: the optimizer inlines aliased array
      expressions into EVERY reference, so a cuts→ends→codes chain
      re-derives the whole codes array per element access (>100 s);
    - exploding positions to rows keeps the hash in whole-stage
      codegen and the boundary list behind an aggregation, whose
      output attributes are immune to expression inlining (~1 s).
    """
    return (
        "("
        + " + ".join(
            f"element_at(codes, i + {j}) * {p}L" for j, p in enumerate(CDC_POWS)
        )
        + f") % {CDC_MOD} % {CDC_DIVISOR}"
    )


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of every document — the storage/
    dataset dedup technique that survives insertions (a fixed-stride
    chunker re-shifts every chunk after an edit; a content-defined one
    re-localizes). Returns (doc_id, lang, chunk_idx, chunk); chunks
    concatenated in chunk_idx order reassemble the text exactly
    (pytest-pinned).

    Scale: the window hash runs in whole-stage codegen over EXPLODED
    positions (scan-local, zero shuffle); boundary lists aggregate per
    doc (shuffle 1), join back to the docs on doc_id (shuffle 2,
    co-partitioned), and the dedup itself is ONE hash shuffle on
    (lang, chunk md5) — the same shape as l1 exact dedup plus the
    boundary pass. See _cdc_window_hash_expr for why this row-wise
    shape beats the nested array-HOF formulation by two orders of
    magnitude.
    """
    w = CDC_WINDOW
    docs = spread(load_table(spark, sf_dir, "documents"))
    # positions exploded to rows; `codes` is computed once per doc row
    # in the Project BELOW the Generate (projects don't collapse
    # across it), then referenced 16× as a plain attribute.
    # explode_OUTER + the coalesce'd boundary predicate below keep
    # Catalyst from inferring isnotnull() constraints on the computed
    # arrays — plain explode + `hash = 0` pushed
    # isnotnull(transform(split(text,...))) into the parquet scan's
    # DataFilters, evaluating the whole codes transform per row on the
    # single pre-spread() partition (the SCALE.md inferred-predicate
    # trap, caught by tests/test_plans.py on this very query).
    pos = docs.withColumn(
        "codes", F.expr("transform(split(text, ''), ch -> ascii(ch))")
    ).select(
        "doc_id",
        F.expr(
            f"explode_outer(if(char_length(text) >= {w}, "
            f"sequence(1, char_length(text) - {w - 1}), "
            "cast(array() as array<int>)))"
        ).alias("i"),
        "codes",
    )
    bounds = pos.filter(
        F.expr(f"coalesce({_cdc_window_hash_expr()}, -1L) = 0")
    ).select("doc_id", (F.col("i") + (w - 1)).alias("e"))
    # aggregation barrier: `ends` below is an aggregate output
    # attribute, so downstream multi-references stay O(1) row reads
    per_doc_ends = bounds.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("e")).alias("ends")
    )
    chunks = (
        docs.join(per_doc_ends, "doc_id", "left")
        .withColumn(
            "cuts",
            F.expr(
                "CASE WHEN ends IS NULL THEN array(char_length(text)) "
                "WHEN element_at(ends, -1) = char_length(text) THEN ends "
                "ELSE concat(ends, array(char_length(text))) END"
            ),
        )
        .select(
            "doc_id",
            "lang",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(cuts)), k -> substring(text, "
                    "if(k = 1, 0, element_at(cuts, k - 1)) + 1, "
                    "element_at(cuts, k) - if(k = 1, 0, element_at(cuts, k - 1))))"
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    return chunks


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup stats over :func:`cdc_chunks`
    boundaries. Per language: chunk counts, distinct-chunk counts,
    duplicate occurrences, raw vs deduped bytes, max chunk reuse.
    The dedup itself is ONE hash shuffle on (lang, chunk md5)."""
    chunks = cdc_chunks(spark, sf_dir)
    per_chunk = chunks.groupBy("lang", F.md5("chunk").alias("chunk_hash")).agg(
        F.count("*").alias("cnt"),
        F.max(F.length("chunk")).alias("chunk_len"),
    )
    return (
        per_chunk.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.count("*").cast("bigint").alias("n_distinct_chunks"),
            F.sum(F.col("cnt") - 1).cast("bigint").alias("dup_occurrences"),
            F.sum(F.col("cnt") * F.col("chunk_len")).cast("bigint").alias("bytes_total"),
            F.sum("chunk_len").cast("bigint").alias("bytes_deduped"),
            F.max("cnt").cast("bigint").alias("max_chunk_reuse"),
        )
        .orderBy("lang")
    )


CDC_CHUNK_DEDUP_SQL = f"""
WITH cutsrc AS (
    SELECT doc_id, lang, text,
           list_transform(
               list_filter(
                   range(1, greatest(length(text) - {CDC_WINDOW - 1}, 0) + 1),
                   i -> list_sum(
                            list_transform(range(0, {CDC_WINDOW}),
                                j -> CAST(ascii(substr(text, i + j, 1)) AS BIGINT) *
                                     ([{",".join(str(p) for p in CDC_POWS)}])[j + 1])
                        ) % {CDC_MOD} % {CDC_DIVISOR} = 0),
               i -> i + {CDC_WINDOW - 1}) AS ends
    FROM documents
), cutlist AS (
    SELECT doc_id, lang, text,
           CASE WHEN len(ends) > 0 AND ends[-1] = length(text)
                THEN ends ELSE list_append(ends, length(text)) END AS cuts
    FROM cutsrc
), chunk AS (
    SELECT lang,
           md5(substr(text,
                      CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END + 1,
                      cuts[k] - CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END)) AS chunk_hash,
           cuts[k] - CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END AS clen
    FROM cutlist, unnest(range(1, len(cuts) + 1)) AS t(k)
), per_chunk AS (
    SELECT lang, chunk_hash, count(*) AS cnt, max(clen) AS chunk_len
    FROM chunk GROUP BY lang, chunk_hash
)
SELECT lang,
       CAST(sum(cnt) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(cnt - 1) AS BIGINT) AS dup_occurrences,
       CAST(sum(cnt * chunk_len) AS BIGINT) AS bytes_total,
       CAST(sum(chunk_len) AS BIGINT) AS bytes_deduped,
       CAST(max(cnt) AS BIGINT) AS max_chunk_reuse
FROM per_chunk
GROUP BY lang
ORDER BY lang
"""
