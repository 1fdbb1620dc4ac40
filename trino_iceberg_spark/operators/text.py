"""Text-analysis operators for training-data pipelines (SURVEY.md §2.D).

Language ID, quality scoring, token counting, and document fingerprinting —
all as codegen'd column expressions (no UDFs): at 100 TB these run inside
the parquet scan stage with zero extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "token_count_col",
    "word_tokens_col",
    "bpe_ish_token_count_col",
    "quality_features",
    "language_id_col",
    "rolling_fingerprint_col",
    "vocabulary",
    "ngram_counts",
    "tfidf",
    "bm25_scores",
    "text_profile",
    "PII_RULES",
    "scrub_pii_col",
    "scrub_pii",
    "repetition_stats",
    "rarity_scores",
    "sliding_chunks",
    "bigram_surprise_scores",
    "token_entropy",
    "ngram_novelty",
]

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic
# language ID. Public knowledge (most-frequent function words).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "den", "im", "ein", "mit", "des"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他", "这", "不"],
}


def word_tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def token_count_col(text: Column | str) -> Column:
    return F.size(word_tokens_col(text)).cast("long")


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """BPE-ish token estimate: count word pieces plus punctuation/digit
    runs — a regex proxy for subword tokenizers (≈ tokens, no vocab).

    regexp splits words into ≤4-char chunks the way byte-pair merges
    typically bottom out; purely a deterministic column expression."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(
            F.regexp_replace(F.lower(c), r"([^a-z0-9\s])", r" $1 "), r"\s+"
        ),
        lambda w: w != "",
    )
    # each word contributes ceil(len/4) subword units
    return F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-score features: length, token stats, punctuation/upper/digit
    ratios, stopword ratio (en), mean word length. Combine downstream into
    a score; returned as named columns for transparency."""
    c = F.col(text) if isinstance(text, str) else text
    tokens = word_tokens_col(c)
    n_chars = F.length(c).cast("long")
    n_tokens = F.size(tokens).cast("long")
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()-]", "")).cast("long")
    n_upper = F.length(F.regexp_replace(c, "[^A-Z]", "")).cast("long")
    n_digit = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("long")
    en_stop = F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(en_stop, F.lower(t)))).cast("long")
    safe_tokens = F.greatest(n_tokens, F.lit(1).cast("long"))
    safe_chars = F.greatest(n_chars, F.lit(1).cast("long"))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": n_punct / safe_chars,
        "upper_ratio": n_upper / safe_chars,
        "digit_ratio": n_digit / safe_chars,
        "stopword_ratio": n_stop / safe_tokens,
        "mean_word_len": (n_chars - (n_tokens - 1)) / safe_tokens,
    }


def language_id_col(text: Column | str) -> Column:
    """Heuristic language ID: count marker-word hits per language, pick the
    argmax (ties → lexicographically first language code, 'und' when no
    marker hits). Pure array expressions — codegen'd, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    tokens = F.transform(word_tokens_col(c), lambda t: F.lower(t))
    def contains_any(marker_arr):
        return lambda t: F.array_contains(marker_arr, t)

    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(tokens, contains_any(marker_arr)))
        # zh has no spaces: also substring-count the markers
        if lang == "zh":
            sub_hits = sum(
                (F.length(c) - F.length(F.regexp_replace(c, m, ""))) for m in markers
            )
            hits = hits + sub_hits.cast("int")
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_sort(
        F.array(*scores),
        lambda l, r: F.when(l["hits"] > r["hits"], -1)
        .when(l["hits"] < r["hits"], 1)
        .when(l["lang"] < r["lang"], -1)
        .when(l["lang"] > r["lang"], 1)
        .otherwise(0),
    )[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def rolling_fingerprint_col(text: Column | str, window: int = 8, portable: bool = False) -> Column:
    """Winnowing-style document fingerprint: hash of each ``window``-gram
    of words, keep the minimum — a compact locality-sensitive id
    (Schleimer et al., winnowing; single min kept for compactness).

    ``portable`` hashes grams with the md5-derived 60-bit
    :func:`~..operators.dedup.portable_hash64` instead of xxhash64, so the
    fingerprint is bit-replayable by any engine with md5 (this is the
    tx05 registry entry's oracle-checked path); xxhash64 stays the
    throughput default."""
    from .dedup import portable_hash64

    tokens = word_tokens_col(text)
    n = F.size(tokens)
    grams = F.when(n < window, F.array(F.concat_ws(" ", tokens))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, window)),
        )
    )
    # explicit single-arg lambdas — Spark reads the callable's arity to pick
    # the higher-order-function argument count, so *args callables are out.
    if portable:
        return F.array_min(F.transform(grams, lambda g: portable_hash64(g)))
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


def vocabulary(df: DataFrame, text_col: str, min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: (token, count, doc_count) by explode + groupBy —
    the shuffle carries tokens, partial counts combine map-side. The
    foundation for tokenizer training and stopword induction."""
    ex = df.select(
        F.monotonically_increasing_id().alias("_doc"),
        F.explode(word_tokens_col(F.lower(F.col(text_col)))).alias("token"),
    )
    return (
        ex.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct("_doc").alias("doc_count"),
        )
        .filter(F.col("count") >= min_count)
    )


def ngram_counts(df: DataFrame, text_col: str, n: int = 2) -> DataFrame:
    """Corpus n-gram frequencies (word n-grams, non-distinct per doc):
    built with the same zip_with-shifted-slices construction as
    shingle_hashes but keeping the string form, since the output IS the
    n-gram."""
    words = word_tokens_col(F.lower(F.col(text_col)))
    sz = F.size(words)
    combined = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(sz - j, F.lit(0)))
        combined = F.zip_with(combined, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(sz < n, F.array().cast("array<string>")).otherwise(
        F.slice(combined, 1, sz - n + 1)
    )
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def tfidf(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document TF-IDF term weights: ``(id, token, tf, df, tfidf)``.

    Classic weighting ``tf * ln(N / df)``. Two token-keyed shuffles total:
    one groupBy for term frequencies, one for document frequencies (both
    with map-side partial aggregation — df stays an AGGREGATE, not a
    count-over-window, so a viral stopword costs one counter per mapper
    instead of one task buffering every posting of the hot token); the
    corpus size joins in as a broadcast single-row aggregate, so nothing
    is collected to the driver and the plan scales with the token count,
    not the document count.

    Round 17 (guide §2.4/§5): the tf table feeds BOTH the df aggregate
    and the join-back, and Catalyst planned the whole
    scan→tokenize→explode→aggregate subtree TWICE (the tx09 before-plan
    shows two documents scans). A lazy ``localCheckpoint`` computes it
    once and shares the RDD by identity — the same posting-table
    materialization any production tf-idf job writes out. The trade
    (lineage recovery of that intermediate) matches the dedup operators'
    round-16 convention; an open query scope frees the blocks
    (:func:`..operators.cachectl.checkpoint_lazy`).
    """
    from .cachectl import checkpoint_lazy

    toks = df.select(
        F.col(id_col), F.explode(word_tokens_col(F.lower(F.col(text_col)))).alias("token")
    )
    tf = checkpoint_lazy(toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.count(F.lit(1)).alias("_n"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df"))).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_tokens: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval for a bag-of-words query: ``(id, score)``.

    Robertson/Lucene idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always
    positive) with standard length normalization. Document length and
    per-query-token tf come from one exploded-token aggregation; corpus
    stats (N, avgdl) ride along as a broadcast single-row aggregate.
    Irrelevant tokens are filtered *before* the tf groupBy, so the shuffle
    carries only query-term postings — at 100 TB that is the inverted-
    index access pattern, not a corpus-wide shuffle.
    """
    toks = df.select(
        F.col(id_col), F.explode(word_tokens_col(F.lower(F.col(text_col)))).alias("token")
    )
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("dl").alias("_avgdl")
    )
    tf = (
        toks.where(F.col("token").isin(query_tokens))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")
    )
    term_score = idf * F.col("tf") * F.lit(k1 + 1.0) / norm
    return (
        tf.join(dfreq, "token")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), term_score.alias("term_score"))
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-pass text profile: tokens, quality features, language guess,
    fingerprint. All expressions share the single scan projection."""
    feats = quality_features(text_col)
    return df.select(
        F.col(id_col),
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["upper_ratio"].alias("upper_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
        language_id_col(text_col).alias("lang_guess"),
        rolling_fingerprint_col(text_col).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing + repetition quality signals
# ---------------------------------------------------------------------------

#: (pattern, replacement) chain for the common machine-recognizable PII
#: classes a pretraining pipeline redacts. Order matters: emails before
#: bare domains-in-URLs, IPs before phone-ish digit runs.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"(?:https?://|www\.)[^\s]+", "<URL>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def scrub_pii_col(text: Column | str) -> Column:
    """Redact emails / IPv4s / URLs / phone-like digit runs with typed
    placeholders — the machine-detectable PII pass every large-scale text
    pipeline runs before training. Pure ``regexp_replace`` chain: JVM
    codegen, no UDF, scales with the scan."""
    col = F.col(text) if isinstance(text, str) else text
    for pattern, repl in PII_RULES:
        col = F.regexp_replace(col, pattern, repl)
    return col


def scrub_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Replace ``text_col`` with its scrubbed version plus a
    ``pii_removed`` count (how many placeholders were inserted — the
    pipeline-health metric for the pass)."""
    scrubbed = scrub_pii_col(text_col)
    n_placeholders = (
        F.length(F.regexp_replace(scrubbed, r"<(EMAIL|IP|URL|PHONE)>", "\x01"))
        - F.length(F.regexp_replace(scrubbed, r"<(EMAIL|IP|URL|PHONE)>", ""))
    )
    return df.withColumn("pii_removed", n_placeholders.cast("int")).withColumn(
        text_col, scrubbed
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:

    - ``n_lines`` / ``n_distinct_lines`` and ``dup_line_ratio`` — the
      fraction of lines that are repeats of an earlier line (boilerplate /
      scraped-navigation signal);
    - ``top_word_ratio`` — occurrences of the most frequent word over
      total words (degenerate-generation signal).

    All built-in array/lambda expressions over one projection — per-row
    work, no shuffle, no UDF."""
    lines = F.filter(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l) != "")
    words = word_tokens_col(text_col)
    # Most-frequent-word count: sort the words and run-length-scan them in
    # ONE aggregate pass (O(n log n) per row) — the naive
    # count-each-distinct-word expression is O(n²) per row and dies on
    # long documents; the explode+groupBy alternative is exact too but
    # costs a corpus-wide shuffle this per-row signal doesn't need.
    top_count = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_distinct_lines"),
        F.when(F.size(lines) > 0,
               (F.size(lines) - F.size(F.array_distinct(lines)))
               / F.size(lines).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_line_ratio"),
        F.when(F.size(words) > 0, top_count / F.size(words).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_word_ratio"),
    )


def rarity_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-relative rarity score per document — the in-engine proxy for
    an LM-perplexity quality filter (CCNet-style): documents whose tokens
    are rare in the corpus score high (gibberish / OCR noise / boilerplate
    keys), documents of common tokens score low.

    score = Σ_tok occ(tok) · (total_tokens DIV corpus_count(tok)) / n_tokens

    — the occurrence-weighted mean *inverse frequency*, computed entirely
    in integer arithmetic (floor division, long sums) so the result is
    bit-identical under any partitioning and in any engine: no log(), no
    float accumulation order, no 1-ulp libm divergence.  The single final
    division to DOUBLE has exact long operands.

    Scale shape: one explode, a pre-aggregate to (doc, token, occ) — join
    rows bounded by distinct tokens per doc, not token occurrences — one
    shuffle join on token against the vocab, one groupBy doc.  The 1-row
    total broadcasts.  Empty documents are excluded (no tokens to score).
    """
    toks = df.select(
        F.col(id_col), F.explode(word_tokens_col(text_col)).alias("_tok")
    )
    doc_tok = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_occ"))
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    scored = (
        doc_tok.join(vocab, "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("_occ").cast("long").alias("n_tokens"),
            F.sum(F.col("_occ") * F.expr("_total DIV _cnt")).cast("long").alias("_raw"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        (F.col("_raw") / F.col("n_tokens")).alias("rarity"),
    )


def sliding_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Overlapping token windows per document — the chunker feeding
    embedding models and long-context inference (stride < chunk_tokens
    gives the standard overlap so no boundary context is lost; stride =
    chunk_tokens degenerates to dd12's disjoint chunking).

    Emits ``(id_col, chunk_idx, chunk, n_tokens)``. All chunk construction
    is per-row JVM array work (transform over a sequence + slice); the
    explode multiplies rows by ~n/stride but shuffles nothing — at 100 TB
    the output feeds a mapInPandas encoder in the same stage."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - chunk_tokens) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " "),
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(F.when(n > 0, chunks)).alias("chunk_idx", "chunk"),
    )
    return out.withColumn(
        "n_tokens", F.size(F.filter(F.split(F.col("chunk"), " "), lambda w: w != ""))
    )


def bigram_surprise_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-relative bigram fluency score — the second-order companion
    to :func:`rarity_scores` and a closer proxy for the CCNet-style LM
    filter: where rarity asks "are these WORDS unusual", this asks "are
    these TRANSITIONS unusual" (word salad and shuffled boilerplate score
    high even when every individual word is common).

    score = Σ_positions (corpus_count(w1) DIV corpus_count(w1 w2)) / n_bigrams

    — the occurrence-weighted mean *inverse conditional frequency* of each
    bigram given its first word, in pure integer arithmetic (floor
    division, long sums): bit-identical under any partitioning and in any
    engine — no log(), no float accumulation, no libm. The single final
    division to DOUBLE has exact long operands. A fluent continuation
    (c(w1 w2) ≈ c(w1)) contributes ~1; a never-followed-by transition
    contributes c(w1).

    Scale shape: bigrams are built JVM-side per row (zip_with against the
    shifted token array — no self-join), pre-aggregated to
    (doc, bigram, occ), then one shuffle join against the bigram vocab
    and one against the first-word vocab, one groupBy(doc). Documents
    with fewer than 2 tokens have no bigrams and are excluded."""
    ws = word_tokens_col(text_col)
    bigrams = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda x: x.isNotNull(),
    )
    doc_big = (
        df.select(F.col(id_col), F.explode(bigrams).alias("_big"))
        .groupBy(id_col, "_big")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .withColumn("_w1", F.split_part(F.col("_big"), F.lit(" "), F.lit(1)))
    )
    big_counts = doc_big.groupBy("_big").agg(F.sum("_occ").cast("long").alias("_cb"))
    # first-word counts over bigram POSITIONS (every token except each
    # row's last), derived from the same aggregate — no second scan
    uni_counts = doc_big.groupBy("_w1").agg(F.sum("_occ").cast("long").alias("_cu"))
    scored = (
        doc_big.join(big_counts, "_big")
        .join(uni_counts, "_w1")
        .groupBy(id_col)
        .agg(
            F.sum("_occ").cast("long").alias("n_bigrams"),
            F.sum(F.col("_occ") * F.expr("_cu DIV _cb")).cast("long").alias("_raw"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_bigrams",
        (F.col("_raw").cast("double") / F.col("n_bigrams")).alias("surprise"),
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shannon entropy (bits) of each document's word distribution —
    the degenerate/templated-text quality signal (low entropy = heavy
    repetition; Gopher-class pipelines gate on repetition signals, and
    entropy is their information-theoretic summary):
    ``H = log2(n) − (Σ_w c_w·log2(c_w)) / n``.

    Returns ``(id_col, n_words, n_distinct_words, entropy)`` with
    ``entropy`` rounded to 6 decimals; empty and NULL documents score
    0.0 with zero counts (NULL text would otherwise surface as NULL
    sizes under ANSI semantics — coalesced so the output matches the
    tx16 oracle's COALESCE(..., 0) on every engine).

    Determinism/portability: the inner sum accumulates in INTEGER
    MICRO-BITS — each run's ``c·log2(c)`` is rounded once to 1e-6 and
    summed as BIGINT — so the accumulation is exact and
    order-independent, and an explode+groupBy oracle (the tx16 entry's
    DuckDB twin) reproduces the value bit-for-bit even though it counts
    words in a completely different order. Only single libm calls
    (per-run log2 and the final log2(n)) touch floating point, each
    immediately rounded.

    Scale shape: per-row work only — the run-length scan over the
    document's SORTED word array happens inside one ``aggregate``
    expression (O(n log n) per row, same pattern as
    :func:`repetition_stats`'s top-word count); no explode, no shuffle,
    no UDF."""
    words = F.coalesce(word_tokens_col(text_col), F.array().cast("array<string>"))
    n = F.size(words)

    def term(c: Column) -> Column:
        # c·log2(c) in integer micro-bits; run length 1 contributes 0
        d = c.cast("double")
        return F.round(d * F.log2(d) * F.lit(1e6)).cast("long")

    zero = F.lit(0).cast("long")
    close = lambda acc: F.when(acc["run"] > 1, term(acc["run"])).otherwise(zero)  # noqa: E731
    s_int = F.aggregate(
        F.array_sort(words),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), zero.alias("s")),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(w == acc["prev"], acc["s"]).otherwise(acc["s"] + close(acc)).alias(
                "s"
            ),
        ),
        lambda acc: acc["s"] + close(acc),
    )
    nd = n.cast("double")
    entropy = F.when(
        n > 0,
        F.round(F.log2(nd) - (s_int / F.lit(1e6)) / nd, 6),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
        entropy.alias("entropy"),
    )


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty attribution: the share of a document's
    distinct word n-grams that the document is the FIRST to introduce
    (first = minimum ``id_col`` among all documents containing the gram
    — a total, deterministic order). Corpus curation uses this as the
    redundancy diagnostic a pair-based dedup report can't give: novelty
    near 0 means the document is assembled from text the corpus already
    has even when no single pair clears a near-dup threshold, and the
    corpus-level novelty-vs-id curve is the classic "how fast does new
    data stop being new" measurement (cf. the dedup motivation in Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better").

    Shares :func:`~..operators.dedup.shingle`'s tokenizer and contract
    (distinct grams; documents with fewer than ``n`` words contribute ONE
    whole-text gram — such a doc is 100% novel unless an earlier doc has
    the identical short text). NULL-text rows are dropped (a NULL gram
    array explodes to nothing — the same on a SQL twin's unnest); empty
    text contributes one empty whole-text gram.

    Scale shape: explode → partial-aggregated ``groupBy(gram).min(id)``
    (map-side combine absorbs viral grams) → gram-keyed join back (AQE
    skew-join splits any viral gram's reduce side) → per-doc count
    aggregate. Linear in total gram volume, no all-pairs term anywhere —
    this is the novelty statistic computable at 100 TB where pairwise
    similarity is not. The exploded gram table feeds BOTH the min-owner
    aggregate and the join-back, so it is persisted (the same
    shared-inverted-index contract as
    :func:`~..operators.dedup.ngram_jaccard_pairs`) — without the cache
    the corpus would be scanned and shingled twice. Caller owns the
    cache: an open query scope (:mod:`~..operators.cachectl`) releases
    exactly this pin."""
    from .dedup import shingle
    from .cachectl import pin

    grams = pin(
        df.select(
            F.col(id_col).alias("_nv_id"),
            F.explode(shingle(text_col, n)).alias("_gram"),
        )
    )
    first = grams.groupBy("_gram").agg(F.min("_nv_id").alias("_first_owner"))
    return (
        grams.join(first, "_gram")
        .groupBy(F.col("_nv_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("_nv_id") == F.col("_first_owner"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_grams"))
    )
