"""Text analysis operators for training-data pipelines (SURVEY.md §7.1 M6).

Tokenization, quality scoring, and language ID are pure Catalyst
expressions inside whole-stage codegen; fingerprinting's md5-per-shingle
runs as an Arrow-batched pandas UDF (measured faster — see fingerprints).
All are per-row maps: no shuffle at all, so 100 TB is just more partitions.

Operates on the ``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.functions.grams import WS_CLASS
from flink_clickstream_processor_msk_spark.functions.hashing import h60
from flink_clickstream_processor_msk_spark.functions.parallel import (
    one_slice_rows,
    parallelized,
)

#: whitespace tokenizer shared by every operator (empty tokens filtered so
#: leading/trailing whitespace can't fabricate tokens)
def tokens(text: Column) -> Column:
    # WS_CLASS, not \s: Java's \s includes \x0B, RE2's does not (the
    # one shared whitespace source — functions/grams.py)
    return F.filter(F.split(text, WS_CLASS + "+"), lambda t: t != "")


#: BPE-ish word/number/punctuation pieces (token-count proxy when no real
#: tokenizer is available); the negated whitespace is the shared explicit
#: class — bare \s here read differently on Java vs RE2 (\x0B)
BPE_ISH_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CLASS[1:-1]}]"

#: stopword profiles for language ID, priority order breaks score ties
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}

# word-shingle definition (shared constant): k-grams of the whitespace
# token array, fewer than k tokens → the whole text as one shingle.
# Implemented in the pandas UDFs (dedup.shingle_hashes, fingerprints) and
# mirrored in SQL by oracles_beyond._shingles — keep all three in lockstep.
SHINGLE_K = 3


def _quality_score(text: Column) -> Column:
    """The deterministic [0,1]-ish quality composite (stopword ratio,
    alphabetic ratio, length signal — C4-style heuristics) shared by
    :func:`text_stats` and :func:`difficulty_buckets`; the exact term
    order matters (IEEE-double sum mirrored by the SQL oracles)."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*LANG_PROFILES["en"]))
    )
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return (
        (stop / n_tok) * 0.4
        + (alpha / n_chars) * 0.4
        + F.least(n_tok / F.lit(64.0), F.lit(1.0)) * 0.2
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Token counts + quality features per document.

    quality_score is a deterministic [0,1]-ish composite of stopword ratio,
    alphabetic ratio and a length signal — the standard cheap pre-filter in
    web-scale corpus cleaning (C4-style heuristics).
    """
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*LANG_PROFILES["en"]))
    )
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    return documents.select(
        "doc_id",
        n_tok.cast("int").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("int")
        .alias("bpe_tokens"),
        n_chars.cast("int").alias("n_chars"),
        (n_chars / n_tok).alias("avg_token_len"),
        (stop / n_tok).alias("stopword_ratio"),
        (alpha / n_chars).alias("alpha_ratio"),
        _quality_score(F.col("text")).alias("quality_score"),
    )


def charset_stats(documents: DataFrame) -> DataFrame:
    """Character-level corpus signals — the gibberish/binary-junk detector
    :func:`text_stats` (token-level) cannot express: per document,
    ``n_chars``, ``n_distinct_chars``, ``top_char_n`` (count of the most
    frequent character — its SHARE of n_chars is the classic junk signal:
    near 1 for padding/repeated-char noise), and ASCII class counts
    ``n_alpha``/``n_digit``/``n_space``. Deliberately ALL-INTEGER so the
    DuckDB twin (oracles_beyond.charset_stats) hash-matches with no
    float-fold ceremony; consumers divide.

    Arrow-batched kernel (one ``Counter`` pass per doc — C fast path) —
    the Catalyst alternative is an explode to one ROW PER CHARACTER
    (100× row blowup before a shuffle at corpus scale) or per-class
    regexp passes that still can't produce the histogram columns. Class
    sets are explicit ASCII ranges, mirroring the oracle's RE2 character
    classes, NOT Python's unicode-aware str.isalpha."""
    import string as _string

    from pyspark.sql import types as T

    alpha_set = frozenset(_string.ascii_letters)
    digit_set = frozenset("0123456789")
    space_set = frozenset(" \t\n\r\f\x0b")
    out_type = T.StructType(
        [
            T.StructField("n_chars", T.IntegerType()),
            T.StructField("n_distinct_chars", T.IntegerType()),
            T.StructField("top_char_n", T.IntegerType()),
            T.StructField("n_alpha", T.IntegerType()),
            T.StructField("n_digit", T.IntegerType()),
            T.StructField("n_space", T.IntegerType()),
        ]
    )

    @F.pandas_udf(out_type)
    def stats(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for t in texts:
            if len(t) == 0:
                rows.append((0, 0, 0, 0, 0, 0))
                continue
            c = Counter(t)
            rows.append(
                (
                    len(t),
                    len(c),
                    max(c.values()),
                    sum(v for ch, v in c.items() if ch in alpha_set),
                    sum(v for ch, v in c.items() if ch in digit_set),
                    sum(v for ch, v in c.items() if ch in space_set),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_chars", "n_distinct_chars", "top_char_n",
                "n_alpha", "n_digit", "n_space",
            ],
        )

    return (
        parallelized(documents.filter(F.col("text").isNotNull()))
        .select("doc_id", stats("text").alias("s"))
        .select("doc_id", "s.*")
    )


#: PII patterns — deliberately restricted to constructs whose match
#: semantics are IDENTICAL in Java regex (Spark) and RE2 (DuckDB):
#: character classes, bounded/greedy quantifiers, \b word boundaries; no
#: backreferences or lookaround (RE2 has neither). Applied in THIS order
#: — emails first (their local parts contain digit runs a phone pattern
#: would chew), then IPv4 (dotted digit runs), then phones on what
#: remains — and each count is taken on the text state its replace sees,
#: so the engines cannot disagree about overlap ownership.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


def redact_pii(documents: DataFrame) -> DataFrame:
    """Corpus PII scrub: emails → ``<EMAIL>``, IPv4 addresses → ``<IP>``,
    phone-like digit runs → ``<PHONE>``, with per-document match counts —
    the standard pre-release cleaning pass for web-scraped training data.
    Flag-and-replace, not drop: the counts let a pipeline quarantine
    PII-dense documents while the redacted text stays usable.

    Pure Catalyst (three sequential ``regexp_replace``/``regexp_count``
    pairs inside whole-stage codegen — zero shuffle, no Python); the
    patterns are the shared ``PII_*`` constants, engine-parity-tested
    against DuckDB's RE2 in tests/test_beyond.py and driver-oracle-checked
    since round 9 (oracles_beyond.redact_pii)."""
    t0 = F.col("text")
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ipv4 = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return documents.filter(t0.isNotNull()).select(
        "doc_id",
        t3.alias("redacted_text"),
        n_emails.cast("int").alias("n_emails"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_phones.cast("int").alias("n_phones"),
    )


def quality_filter(
    documents: DataFrame, min_quality: float = 0.5, min_tokens: int = 10
) -> DataFrame:
    """The C4-style keep/drop decision composed from :func:`text_stats` —
    documents passing the quality and length thresholds, with the features
    that justified the decision. Zero-shuffle (filter over a per-row map);
    at 100 TB this is the first, cheapest pass of the cleaning pipeline and
    the filter runs inside the scan's codegen stage."""
    stats = text_stats(documents)
    return stats.filter(
        (F.col("quality_score") >= min_quality) & (F.col("ws_tokens") >= min_tokens)
    ).select("doc_id", "ws_tokens", "quality_score")


#: Gopher rule-filter constants (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", App. A1.1)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_rules(
    documents: DataFrame, stop_words: tuple[str, ...] | None = None
) -> DataFrame:
    """The Gopher quality-rule filter (Rae et al. 2021 Appendix A1.1) —
    the standard heuristic gate between raw web text and the LM-scored
    stages: per document, the integer EVIDENCE counts plus the composite
    ``passes_gopher`` verdict. Deliberately ALL-INTEGER evidence with the
    ratio rules applied by CROSS-MULTIPLICATION (``10*n_bullet_lines <
    9*n_lines`` instead of ``n_bullet/n_lines < 0.9``), so the DuckDB
    twin (oracles_beyond.gopher_rules) hash-matches with no float
    ceremony — the charset_stats discipline.

    Rules (paper thresholds): word count in [50, 100 000]; mean word
    length in [3, 10] (as ``3*n_words <= n_word_chars <= 10*n_words``,
    where n_word_chars = non-whitespace characters — token-joined
    length); symbol-to-word ratio < 0.1 over '#' and '...' — applied to
    the SUM of the two counts, a deliberate (slightly stricter)
    deviation from the paper, which thresholds each symbol's ratio
    separately ("either"): a doc at 0.06 + 0.06 fails here but passes
    Rae et al. A1.1. Kept combined because one cross-multiplied integer
    rule is what the hash-checked oracle mirrors (ADVICE r13: split
    into two rules on BOTH engines if paper fidelity ever matters);
    < 90 % of lines bullet-started; < 30 % of lines ellipsis-ended;
    >= 80 % of words containing an alphabetic character; >= 2 distinct
    stop words present. ``stop_words`` defaults to the engine's English profile
    (LANG_PROFILES["en"]) rather than the paper's 8-word list so the
    rule is exercised on corpora generated from that profile; pass the
    paper's list to reproduce it exactly.

    Scale shape: zero-shuffle map over the scan (string built-ins +
    regexp_count; the three per-token HOF filters are the text_stats
    precedent — bounded by tokens-per-doc, not corpus size). The
    reference has no quality operators (SURVEY §2.2 absent category)."""
    stops = tuple(stop_words) if stop_words is not None else LANG_PROFILES["en"]
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    # line anchors are spelled (?:\A|\n) / (?:\n|\z) — NOT (?m)^/$ — and
    # whitespace as an explicit class: Java's multiline anchors also match
    # around \r and Unicode line separators and its \s includes \x0B,
    # while the oracle's RE2 anchors match \n only — the spelled-out
    # forms mean the same thing in both engines, so a future data
    # regeneration with CRLF text can't silently split the hash contract
    n_word_chars = F.length(F.regexp_replace("text", r"[ \t\n\r\f]", ""))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
        / F.lit(3)
    ).cast("int")
    n_lines = F.size(F.split(F.col("text"), "\n"))
    n_bullet_lines = F.regexp_count(
        F.col("text"), F.lit(r"(?:\A|\n)[ \t]*[-*•]")
    )
    n_ellipsis_lines = F.regexp_count(
        F.col("text"), F.lit(r"\.\.\.(?:\n|\z)")
    )
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop_distinct = F.size(
        F.array_distinct(
            F.filter(
                F.transform(toks, lambda t: F.lower(t)),
                lambda t: t.isin(*stops),
            )
        )
    )
    out = documents.filter(F.col("text").isNotNull()).select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_word_chars.cast("int").alias("n_word_chars"),
        n_hash.cast("int").alias("n_hash"),
        n_ellipsis.alias("n_ellipsis"),
        n_lines.cast("int").alias("n_lines"),
        n_bullet_lines.cast("int").alias("n_bullet_lines"),
        n_ellipsis_lines.cast("int").alias("n_ellipsis_lines"),
        n_alpha_words.cast("int").alias("n_alpha_words"),
        n_stop_distinct.cast("int").alias("n_stop_distinct"),
    )
    c = F.col
    return out.withColumn(
        "passes_gopher",
        (c("n_words") >= GOPHER_MIN_WORDS)
        & (c("n_words") <= GOPHER_MAX_WORDS)
        & (3 * c("n_words") <= c("n_word_chars"))
        & (c("n_word_chars") <= 10 * c("n_words"))
        & (10 * (c("n_hash") + c("n_ellipsis")) < c("n_words"))
        & (10 * c("n_bullet_lines") < 9 * c("n_lines"))
        & (10 * c("n_ellipsis_lines") < 3 * c("n_lines"))
        & (5 * c("n_alpha_words") >= 4 * c("n_words"))
        & (c("n_stop_distinct") >= 2),
    )


def token_histogram(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus-level token frequency: top-k lowercased whitespace tokens
    (count desc, token asc — a total order, so the cut is deterministic).

    Scale shape: explode → groupBy(token) runs with map-side partial
    aggregation, so the shuffle carries one row per distinct token per
    partition, not one per token occurrence; the global top-k is
    TakeOrdered (k rows to the driver, no full sort)."""
    toks = tokens(F.lower(F.col("text")))
    return (
        documents.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(k)
    )


def train_test_split(documents: DataFrame, test_pct: int = 10) -> DataFrame:
    """Deterministic hash-based train/test assignment: bucket =
    md5-derived ``h60(doc_id) % 100``; buckets below ``test_pct`` are
    'test'. Stable across runs, engines, and corpus growth (a document's
    split never depends on other rows) — the property a training pipeline
    needs so later snapshots don't leak test docs into train. Per-row map,
    zero shuffle."""
    bucket = h60(F.col("doc_id").cast("string")) % 100
    return documents.select(
        "doc_id",
        bucket.cast("int").alias("split_bucket"),
        F.when(bucket < test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    word 2-grams / 3-grams that are duplicates (occurrences beyond the
    first). Boilerplate, keyword-stuffed, and templated pages score high;
    the fractions feed :func:`repetition_filter`'s keep/drop rule
    (Rae et al. 2021 "Scaling Language Models" §A1.1 repetition filters).

    Per-row map — zero shuffle. Runs as an Arrow-batched pandas UDF, not
    Catalyst HOFs, for the same measured reason as shingle_hashes: the
    slice/concat-per-gram lambdas execute interpreted and measured ~20 s
    at sf0.1 vs ~1 s batched (k-grams over the whitespace tokens with the
    shared shingle convention — fewer than k tokens → whole text as one
    gram; formula mirrored by oracles_beyond._shingles). The fractions are
    single int/int IEEE divisions, bit-identical to the SQL twin."""
    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        word_grams,
    )

    @F.pandas_udf("n_2grams int, dup_2gram_frac double, dup_3gram_frac double")
    def rep(texts: pd.Series) -> pd.DataFrame:
        def frac(words: list[str], k: int) -> tuple[int, float]:
            grams = word_grams(words, k)
            n = len(grams)
            return n, (n - len(set(grams))) / n

        out = {"n_2grams": [], "dup_2gram_frac": [], "dup_3gram_frac": []}
        for text in texts:
            words = ascii_words(text) if text is not None else []
            if text is None:
                out["n_2grams"].append(None)
                out["dup_2gram_frac"].append(None)
                out["dup_3gram_frac"].append(None)
                continue
            n2, f2 = frac(words, 2)
            _, f3 = frac(words, 3)
            out["n_2grams"].append(n2)
            out["dup_2gram_frac"].append(f2)
            out["dup_3gram_frac"].append(f3)
        return pd.DataFrame(out)

    # optimizer fence (pure kernel, identical results): repetition_filter's
    # threshold predicate was pushed below the parallelize exchange, which
    # duplicated the ArrowEvalPython — the gram kernel ran twice over every
    # row (plans/r16/repetition_filter_before.txt). Guide §4.4; r16.
    rep = rep.asNondeterministic()

    return parallelized(documents).select(
        "doc_id", rep("text").alias("r")
    ).select("doc_id", "r.n_2grams", "r.dup_2gram_frac", "r.dup_3gram_frac")


def repetition_filter(
    documents: DataFrame,
    max_dup_2gram: float = 0.06,
    max_dup_3gram: float = 0.02,
) -> DataFrame:
    """Documents whose repetition fractions pass the Gopher-style
    thresholds, with the signals that justified the decision. Zero-shuffle
    filter over :func:`repetition_stats`."""
    stats = repetition_stats(documents)
    return stats.filter(
        (F.col("dup_2gram_frac") <= max_dup_2gram)
        & (F.col("dup_3gram_frac") <= max_dup_3gram)
    ).select("doc_id", "dup_2gram_frac", "dup_3gram_frac")


def pack_sequences(
    documents: DataFrame, ctx_len: int = 2048, n_shards: int = 32
) -> DataFrame:
    """Deterministic sequence packing for training: concatenate documents
    (in doc_id order) into fixed ``ctx_len``-token streams and record, per
    document, which pack it starts in and at what offset — the standard
    pre-tokenization packing step of an LLM data pipeline.

    Scale shape: a GLOBAL running sum would serialize on one partition, so
    packing is sharded — shard = md5-derived ``h60(doc_id) % n_shards``
    (deterministic across engines and corpus growth, like
    :func:`train_test_split`), and the running token sum is a window
    partitioned by shard: one shuffle on shard, per-shard sort, fully
    parallel. ``pack_id`` = shard·2^32 + pack-within-shard, globally
    unique. Token counts use the shared BPE-ish proxy pattern.
    """
    shard = (h60(F.col("doc_id").cast("string")) % n_shards).cast("int")
    ntok = F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).cast("bigint")
    base = documents.select(
        "doc_id", shard.alias("shard"), ntok.alias("seq_tokens")
    )
    return _pack_from_counts(base, ctx_len)


def _pack_from_counts(base: DataFrame, ctx_len: int) -> DataFrame:
    """The sharded packing core over a (doc_id, shard, seq_tokens) frame —
    shared by :func:`pack_sequences` (regex token proxy) and
    :func:`pack_sequences_bpe` (real subword counts): per-shard running
    token sum → pack index + offset."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("seq_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "shard",
        F.col("seq_tokens").cast("int").alias("seq_tokens"),
        (start % ctx_len).cast("int").alias("pack_offset"),
        (
            F.col("shard").cast("bigint") * F.lit(1 << 32)
            + F.floor(start / F.lit(float(ctx_len))).cast("bigint")
        ).alias("pack_id"),
    )


def _bpe_word_arrays(documents: DataFrame):
    """The shared BPE pre-tokenization column: whitespace tokens (the
    repo's ``tokens`` convention) of lowercased text with BOTH marker
    bytes stripped first (``functions/bpe.BPE_SEP``/``BPE_CLOSE`` inside
    a document would corrupt the wrapped representation — both engines
    remove them, in the same order: strip, lower, split)."""
    from flink_clickstream_processor_msk_spark.functions.bpe import (
        BPE_CLOSE,
        BPE_SEP,
    )

    clean = F.replace(
        F.replace(F.col("text"), F.lit(BPE_SEP), F.lit("")),
        F.lit(BPE_CLOSE),
        F.lit(""),
    )
    return tokens(F.lower(clean))


def _bpe_count_udf(merges: list[tuple[str, str]] | None = None):
    """Arrow-batched subword counter over a token-array column: a merges
    table applied via the string-replace formulation — by default the
    fixed public one (functions/bpe.py, Sennrich et al. 2016 training on
    a committed seed; literally the same algorithm the DuckDB twin runs
    as a recursive merge CTE), or a caller-trained table from
    :func:`train_bpe_merges`/:func:`load_bpe_merges` (round 12 — the
    train → encode loop). Per-batch memoization exploits the Zipf token
    distribution: the corpus VOCABULARY is what gets encoded, not every
    occurrence (the oracle's DISTINCT-token encode mirrors this)."""
    from flink_clickstream_processor_msk_spark.functions.bpe import (
        bpe_token_count,
    )

    @F.pandas_udf("bigint")
    def bpe_count(arrs: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}
        return arrs.map(
            lambda a: None
            if a is None
            else bpe_token_count(list(a), memo, merges)
        )

    return bpe_count


def bpe_token_stats(
    documents: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """Per-document REAL subword token counts under the fixed public BPE
    (functions/bpe.py) — the production sizing unit for packing/chunking
    (whitespace counts undersize transformer batches; VERDICT r10
    missing #4): ``n_word_tokens`` (whitespace pre-tokens),
    ``n_bpe_tokens`` (BPE pieces), ``bpe_per_word`` (one division, both
    engines). Documents with no tokens (NULL/empty text) drop — there is
    nothing to size.

    Scale shape: zero shuffle — one JVM tokenize pass feeds a single
    Arrow-batched kernel whose memo encodes each distinct token once per
    batch; no explode, no groupBy (the per-doc counts come straight off
    the token array). The DuckDB twin encodes the DISTINCT vocabulary via
    a recursive merge CTE and joins counts back — same
    vocabulary-not-occurrences cost shape.

    ``merges``: encode under a caller-trained table
    (:func:`train_bpe_merges` → :func:`save_bpe_merges` →
    :func:`load_bpe_merges`) instead of the fixed public fixture — the
    oracle-checked driver query uses the default, so the fixture stays
    the correctness contract."""
    bpe_count = _bpe_count_udf(merges)
    base = documents.select("doc_id", _bpe_word_arrays(documents).alias("w"))
    return (
        base.filter(F.size("w") >= 1)
        .select(
            "doc_id",
            F.size("w").cast("int").alias("n_word_tokens"),
            bpe_count("w").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_word_tokens",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_word_tokens"))
            .alias("bpe_per_word"),
        )
    )


def _char_split_udf():
    """Arrow-batched code-point splitter for the BPE training paths:
    ``list(w)`` per word — the SAME unit Python's ``bpe_pieces`` walks
    and DuckDB's ``regexp_split_to_array(t, '')`` emits. Catalyst's
    ``split(w, '(?!^)(?!$)')`` operates on UTF-16 code UNITS and breaks
    astral characters into surrogate halves (empirically divergent on
    emoji input — the r12 review catch), so the JVM split is NOT used
    anywhere merges are learned or counted."""

    @F.pandas_udf("array<string>")
    def chars(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: None if w is None else list(w))

    return chars


#: driver-side fast-path bound for :func:`train_bpe_merges` — the
#: connected-components 200k-edge pattern priced for word tables: below
#: this many DISTINCT words the greedy merge loop streams the frequency
#: table to the driver (tuples + a dict of a few hundred k entries — tens
#: of MB) instead of paying n_merges × (explode + groupBy + argmax) Spark
#: rounds of pure scheduler overhead; above it the loop runs distributed.
MAX_DRIVER_WORDS_DEFAULT = 200_000


def _merges_from_word_freqs(items, n_merges: int) -> list[tuple[str, str]]:
    """The reference greedy loop (Sennrich et al. 2016 Algorithm 1) over a
    (word, freq) iterable — tools/train_bpe_merges.train generalized from
    raw seed text to a precomputed frequency table, byte-identical
    semantics (tie-break: count DESC, pair ASC)."""
    vocab: dict[tuple, int] = {}
    for w, f in items:
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, freq in vocab.items():
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        merged = a + b
        new_vocab: dict[tuple, int] = {}
        for word, freq in vocab.items():
            out = []
            i = 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    return merges


def _bpe_commuting_prefix(rows, max_batch: int) -> list[tuple[str, str]]:
    """The prefix of rank-ordered pair-count rows that provably COMMUTES
    with the sequential greedy (so one Spark round can emit many merges —
    the VERDICT r12 #1 fix: a real 32k-100k-merge tokenizer must not be
    bounded by one job per merge).

    ``rows``: up to ``max_batch + 1`` Rows ``(a, b, cnt)`` in the greedy
    rank order (cnt DESC, a ASC, b ASC); the +1 row, when present, upper-
    bounds the count of every pair ranked below the collected window.

    Soundness (why the kept prefix reproduces the sequential order
    EXACTLY, proved per element):

    * Merging ``(a, b)`` only destroys/creates pair occurrences that
      involve ``a``, ``b``, or the merged string ``a+b`` — counts of
      pairs symbol-disjoint from ``{a, b, a+b}`` are invariant. So a
      mutually disjoint batch leaves each member's count untouched by
      the others, and one combined left-to-right pass equals applying
      them one-by-one (a match of one pair can never consume half of
      another's occurrence).
    * Every occurrence of a pair CREATED by merging ``(a, b)`` (a ≠ b)
      injects into a pre-merge occurrence of a DIFFERENT pair that
      shares a symbol with it: ``(x, ab) ← (x, a)``, ``(ab, y) ←
      (b, y)``, ``(ab, ab) ← (b, a)``. Those source pairs interact with
      the batch, so they rank at or below the STOP row (the first
      scanned row whose ``{a, b, a+b}`` touches a kept pair's), hence
      created counts ≤ ``stop_cnt``. Requiring every kept pair after the
      first to have ``cnt > stop_cnt`` (strict — at a count tie the
      created pair's lexical rank can jump ahead, e.g. ``(b,y) → (ab,y)``
      re-sorts under a different first symbol) means no created pair can
      outrank a kept one, so the sequential greedy would pick exactly
      this prefix in this order.
    * SELF-pairs ``(a, a)`` break that injection: in a run ``aaa`` the
      created ``(aa, a)`` consumes occurrences of ``(a, a)`` ITSELF, so
      its count is bounded only by the kept pair's own count, not by
      ``stop_cnt``. A self-pair therefore ends the batch: kept alone if
      it ranks first, otherwise it is the stop row.
    """
    kept: list = []  # (a, b, cnt)
    used: set = set()
    stop_cnt = None
    for r in rows[:max_batch]:
        a, b, cnt = r["a"], r["b"], r["cnt"]
        toks = {a, b, a + b}
        if not kept:
            kept.append((a, b, cnt))
            if a == b:
                return [(a, b)]
            used |= toks
            continue
        if a == b or (toks & used):
            stop_cnt = cnt
            break
        kept.append((a, b, cnt))
        used |= toks
    if stop_cnt is None and len(rows) > len(kept):
        stop_cnt = rows[len(kept)]["cnt"]
    # stop_cnt still None ⇒ the WHOLE pair table was collected with no
    # interacting row: merges cannot create any pair (creation needs a
    # pre-existing interacting occurrence), keep everything.
    if stop_cnt is not None:
        k = 1
        while k < len(kept) and kept[k][2] > stop_cnt:
            k += 1
        kept = kept[:k]
    return [(a, b) for a, b, _ in kept]


def train_bpe_merges(
    documents: DataFrame,
    n_merges: int = 192,
    max_driver_words: int | None = MAX_DRIVER_WORDS_DEFAULT,
    merge_batch: int = 64,
    stats: dict | None = None,
    sample_fraction: float | None = None,
) -> list[tuple[str, str]]:
    """Corpus-scale BPE merge TRAINING (Sennrich et al. 2016 Algorithm 1)
    — the operator VERDICT r11 missing #3 named: users adopting
    :func:`bpe_token_stats` want merges learned from THEIR corpus, and
    ``tools/train_bpe_merges.py`` is a driver-side script over a seed
    string, not a Spark operator. Returns the ordered merges list (the
    bounded driver artifact — ≤ n_merges pairs, exactly like the k-means
    centroid and PQ codebook collects).

    Two-phase shape, because merge training is VOCABULARY-bound (the
    round-11 Heaps'-law measurement: 10× text costs LESS per doc):

    1. ONE corpus-scale pass — explode the shared BPE pre-tokenization
       (:func:`_bpe_word_arrays`: strip markers, lower, whitespace split)
       into a map-side-combined ``groupBy(word).count()``. This is the
       only job that touches the text.
    2. The greedy merge loop over the word-frequency table:
       - ``vocab ≤ max_driver_words``: stream the table to the driver and
         run the reference loop (the connected-components bounded
         fast-path pattern — n_merges Spark rounds over a small table
         are pure scheduler overhead).
       - distributed: words live as ``(syms array<string>, freq)``
         (code-point symbols from the Arrow ``_char_split_udf`` — the
         same unit the driver path and the encoder walk); each round
         explodes adjacent pairs via ``slice + arrays_zip`` (no
         interpreted lambda HOF), sums freq per pair map-side, collects
         the top ``merge_batch + 1`` rows (count DESC, pair ASC — the
         reference tie-break; a bounded TakeOrdered, at most vocab-bound
         rows ever shuffle), keeps the :func:`_bpe_commuting_prefix`
         whose merges provably reproduce the sequential greedy order,
         applies the WHOLE batch in one Arrow-batched kernel pass, and
         ``localCheckpoint``s to truncate the lineage (cluster
         deployments point ``spark.checkpoint.dir`` at reliable storage
         instead). Rounds scale as n_merges / realized-batch instead of
         n_merges — the job-count bound a 32k-merge production tokenizer
         needs (``merge_batch=1`` recovers the per-merge r12 loop).

    Both paths produce IDENTICAL merges (pinned in tests/test_beyond.py,
    along with parity against tools/train_bpe_merges.py on the committed
    seed). Pass ``max_driver_words=0`` to force the distributed path.

    ``sample_fraction`` is the production-vocab knob (VERDICT r13 #5):
    even with commuting-prefix batching, a 32k-merge vocabulary costs
    n_merges / realized-batch Spark rounds — job-count bound, infeasible
    over the full corpus. The standard answer (every production BPE/
    SentencePiece trainer trains on a corpus sample — merge counts are
    Zipf-dominated, so a sample preserves the head that decides early
    merges, and Heaps' law means vocabulary saturates far below corpus
    size) is a DETERMINISTIC h60 document sample:
    ``h60('bpe_sample:' || doc_id) % 2^20 < fraction·2^20`` — stable
    across runs, engines, and partitionings (the train_test_split
    discipline; a Bernoulli ``DataFrame.sample`` is partition-order
    dependent). Training then runs unchanged on the sampled documents;
    rounds shrink because the TABLE the loop iterates is smaller, not
    because the algorithm changed — the result is exactly the sequential
    greedy of the sampled corpus. Fidelity trade measured in PLANS.md
    (sample-trained vs full-trained fertility on held-out docs)."""
    if sample_fraction is not None and sample_fraction < 1.0:
        m = 1 << 20
        documents = documents.filter(
            F.pmod(
                h60(F.concat(F.lit("bpe_sample:"), F.col("doc_id").cast("string"))),
                F.lit(m),
            )
            < F.lit(int(sample_fraction * m))
        )
    vocab = (
        documents.select(F.explode(_bpe_word_arrays(documents)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    n_words = vocab.count()
    if stats is not None:
        # populated on BOTH paths, so stats["rounds"] consumers don't
        # KeyError when the driver fast path answers
        stats.update({"path": "driver", "rounds": 0, "batch_sizes": []})
    if max_driver_words and n_words <= max_driver_words:
        return _merges_from_word_freqs(
            ((r["w"], r["freq"]) for r in vocab.toLocalIterator()),
            n_merges,
        )

    # character symbolization per CODE POINT (the Arrow kernel — a JVM
    # regex split works in UTF-16 code units and would train different
    # merges than the driver fast path on astral input)
    words = vocab.select(
        _char_split_udf()("w").alias("syms"), "freq"
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    merge_batch = max(1, int(merge_batch))
    if stats is not None:
        stats["path"] = "distributed"
    while len(merges) < n_merges:
        pairs = words.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(syms, 1, size(syms)-1)").alias("a"),
                    F.expr("slice(syms, 2, size(syms)-1)").alias("b"),
                )
            ).alias("p"),
            "freq",
        )
        # one TakeOrdered round yields up to merge_batch merges: the
        # commuting prefix of the top rows (see _bpe_commuting_prefix for
        # the order-preservation proof); the +1 row bounds the counts of
        # everything below the window when no in-window stop row exists
        rows = (
            pairs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(merge_batch + 1)
            .collect()
        )
        if not rows:
            break
        batch = _bpe_commuting_prefix(rows, merge_batch)
        batch = batch[: n_merges - len(merges)]
        merges.extend(batch)
        if stats is not None:
            stats["rounds"] += 1
            stats["batch_sizes"].append(len(batch))
        # mutually disjoint ⇒ at most one pair can match at a position,
        # keyed by its first symbol; one combined pass == sequential
        first_map = {a: (b, a + b) for a, b in batch}

        @F.pandas_udf("array<string>")
        def apply_batch(syms_s: pd.Series) -> pd.Series:
            def m(syms):
                out = []
                i = 0
                n = len(syms)
                while i < n:
                    nxt = first_map.get(syms[i])
                    if (
                        nxt is not None
                        and i + 1 < n
                        and syms[i + 1] == nxt[0]
                    ):
                        out.append(nxt[1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                return out

            return syms_s.map(m)

        words = words.select(
            apply_batch("syms").alias("syms"), "freq"
        ).localCheckpoint()
    return merges


def save_bpe_merges(
    spark,
    merges: list[tuple[str, str]],
    path: str,
    ref_docs: DataFrame | None = None,
) -> None:
    """Write an ordered merges table (``{path}/merges``: rank, a, b —
    one file; the tokenizer artifact a :func:`train_bpe_merges` run
    produces, sized in KB) so every later job encodes under the SAME
    tokenizer — the save/load lifecycle the LM, DSIR, and ANN artifacts
    already have.

    ``ref_docs``: when given (normally the training corpus itself), a
    ``{path}/fertility_ref`` sidecar records the corpus-weighted
    FERTILITY under these merges — total BPE pieces / total pre-tokens —
    plus the corpus size. Fertility is the tokenizer-drift signal: a
    domain shift the merges never saw inflates pieces-per-word (unknown
    words fall back toward characters), exactly as PQ quantization error
    inflates on embedding drift — the sidecar is the base reference
    :func:`~...streaming.ingest.tokenizer_ingest_sink` monitors batches
    against (the ``save_pq_index``/``ood_ref`` pattern)."""
    one_slice_rows(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    ).write.mode("overwrite").parquet(f"{path}/merges")
    if ref_docs is not None:
        row = corpus_fertility(ref_docs, merges).first()
        one_slice_rows(
            spark,
            [
                (
                    float(row["fertility"]),
                    int(row["n_words"]),
                    int(row["n_docs"]),
                )
            ],
            "fertility double, n_words long, n_docs long",
        ).write.mode("overwrite").parquet(f"{path}/fertility_ref")


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Read a saved merges table back into the ordered list
    :func:`bpe_token_stats`/:func:`pack_sequences_bpe` accept."""
    return [
        (r["a"], r["b"])
        for r in spark.read.parquet(f"{path}/merges").orderBy("rank").collect()
    ]


def load_bpe_fertility_ref(spark, path: str):
    """The saved fertility reference ``(fertility, n_words, n_docs)``, or
    ``None`` for artifacts saved without ``ref_docs`` (monitoring then
    stays off rather than inventing a baseline — the load_pq_ood_ref
    contract)."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(f"{path}/fertility_ref").first()
    except AnalysisException:
        return None
    if row is None:
        return None
    return float(row["fertility"]), int(row["n_words"]), int(row["n_docs"])


def corpus_fertility(
    documents: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """One-row corpus-weighted tokenizer fertility under a merges table:
    ``(fertility = Σ pieces / Σ words, n_words, n_docs)`` — integer sums
    feeding one division, so the value is order-free and replayable.
    Token-less documents contribute nothing (no words to size)."""
    stats = bpe_token_stats(documents, merges=merges)
    return stats.agg(
        (
            F.sum("n_bpe_tokens").cast("double")
            / F.sum("n_word_tokens").cast("double")
        ).alias("fertility"),
        F.sum("n_word_tokens").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


def bpe_merge_candidates(documents: DataFrame, k: int = 20) -> DataFrame:
    """The top-``k`` BPE merge candidates of a corpus — the FIRST
    iteration of :func:`train_bpe_merges` exposed as an oracle-checkable
    query: adjacent character-pair counts over the word-frequency table,
    ranked by the trainer's exact argmax order (count DESC, pair ASC —
    the Sennrich tie-break), so ``merge_rank = 1`` IS the first merge the
    trainer would emit. Useful standalone as tokenizer-corpus
    diagnostics (which merges a corpus wants vs the fixed public table).

    Scale shape = the trainer's: one corpus pass into a
    map-side-combined word count (vocabulary-bound from there, Heaps'
    law), pair explode via ``slice + arrays_zip`` (no interpreted lambda
    HOF), one aggregation, one WindowGroupLimit rank cut. Character
    splitting is the Arrow code-point kernel (``_char_split_udf``) —
    exactly DuckDB's ``regexp_split_to_array(t, '')`` unit, astral input
    included."""
    from pyspark.sql import Window

    vocab = (
        documents.select(F.explode(_bpe_word_arrays(documents)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        _char_split_udf()("w").alias("syms"), "freq"
    ).select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(syms, 1, size(syms)-1)").alias("a"),
                F.expr("slice(syms, 2, size(syms)-1)").alias("b"),
            )
        ).alias("p"),
        "freq",
    )
    counts = pairs.groupBy(
        F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b")
    ).agg(F.sum("freq").alias("pair_count"))
    w = Window.orderBy(
        F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b")
    )
    return counts.select(
        "sym_a",
        "sym_b",
        F.col("pair_count").cast("bigint").alias("pair_count"),
        F.row_number().over(w).cast("int").alias("merge_rank"),
    ).filter(F.col("merge_rank") <= k)


def pack_sequences_bpe(
    documents: DataFrame,
    ctx_len: int = 2048,
    n_shards: int = 32,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """:func:`pack_sequences` with REAL subword counts: the packing unit
    is the fixed public BPE's piece count (what a training batch actually
    holds) instead of the regex proxy. Row-compatible with
    pack_sequences: every document keeps a row — NULL text packs as NULL
    seq_tokens (SUM ignores it on both engines), token-less text packs as
    0 — so a pipeline can swap counters without changing downstream
    consumers."""
    shard = (h60(F.col("doc_id").cast("string")) % n_shards).cast("int")
    bpe_count = _bpe_count_udf(merges)
    base = documents.select(
        "doc_id",
        shard.alias("shard"),
        bpe_count(_bpe_word_arrays(documents)).alias("seq_tokens"),
    )
    return _pack_from_counts(base, ctx_len)


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic).

    Scores each language profile by stopword hits; argmax wins, ties broken
    by profile priority order; zero hits → 'und' (BCP-47 undetermined).
    """
    toks = tokens(F.lower(F.col("text")))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # build the CASE chain in reverse priority so earlier langs win ties
    for lang in reversed(list(LANG_PROFILES)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = documents.select(
        "doc_id",
        *[scores[lang].cast("int").alias(f"score_{lang}") for lang in LANG_PROFILES],
        pred.alias("predicted_lang"),
    )
    return out


def fingerprints(documents: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min/max 60-bit hash over word
    3-gram shingles plus a whole-text content hash. Equal fingerprints ≈
    heavily overlapping shingle sets (MinHash with one permutation).

    The per-shingle md5s run as an Arrow-batched pandas UDF: `transform`
    lambdas don't codegen and `conv` hex parsing loses ~5× to hashlib's C
    md5 (measured at sf0.1). The single whole-text hash stays Catalyst.
    """
    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        md5_60,
        word_grams,
    )

    @F.pandas_udf("min_shingle_hash long, max_shingle_hash long")
    def minmax(texts: pd.Series) -> pd.DataFrame:
        # shingles repeat across documents: one md5 per distinct shingle
        # per Arrow batch (same measured win as dedup.shingle_hashes)
        cache: dict[str, int] = {}

        def go(text: str | None) -> tuple[int | None, int | None]:
            if text is None:
                return None, None
            hashes = []
            for g in word_grams(ascii_words(text), SHINGLE_K):
                h = cache.get(g)
                if h is None:
                    h = md5_60(g)
                    cache[g] = h
                hashes.append(h)
            return min(hashes), max(hashes)

        pairs = texts.map(go)
        return pd.DataFrame(
            {
                "min_shingle_hash": pairs.map(lambda p: p[0]),
                "max_shingle_hash": pairs.map(lambda p: p[1]),
            }
        )

    return parallelized(documents).select(
        "doc_id", minmax("text").alias("mm"), h60(F.col("text")).alias("content_hash")
    ).select("doc_id", "mm.min_shingle_hash", "mm.max_shingle_hash", "content_hash")


def source_mix_weights(documents: DataFrame, group_col: str = "source") -> DataFrame:
    """Temperature-resampling weights per source: ``weight =
    sqrt(n_docs / max_source_docs)`` — the alpha=0.5 mixture rule used to
    up-weight small sources against the head (T5 / multilingual-corpus
    style temperature sampling). The exponent is fixed at 0.5 so the whole
    float path is one division plus ``sqrt`` — both correctly rounded
    under IEEE-754, hence bit-identical to the SQL twin (a general
    ``pow(x, alpha)`` is NOT correctly rounded and may drift by a ULP
    between runtimes; callers needing other alphas accept that).

    Scale shape: one map-side-combined groupBy(source) — the shuffle
    carries one row per (source, partition) — then the max is a window
    over the per-source aggregate, which is #sources rows (thousands at
    worst), not corpus rows. ``n_tokens`` sums exact int token counts, so
    no float-summation order dependence exists anywhere. ``group_col``
    picks the mixture axis — ``source`` for crawl mixing, ``lang`` for
    multilingual balancing (the driver query uses ``lang``, the skewed
    axis in the fixture)."""
    from pyspark.sql import Window

    per_source = documents.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    max_n = F.max("n_docs").over(Window.partitionBy())
    return per_source.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.sqrt(F.col("n_docs") / max_n).alias("weight"),
    )


def ngram_topk_per_lang(documents: DataFrame, n: int = 2, k: int = 5) -> DataFrame:
    """Top-k most frequent word n-grams per language (count desc, gram asc
    — a total order, so the cut is deterministic). The grouped variant of
    :func:`token_histogram`: corpus-analysis views like this drive
    boilerplate discovery and contamination triage per language bucket.

    Gram construction follows the shared shingle convention (fewer than
    ``n`` tokens → the whole text as one gram; NULL text → no grams),
    mirrored by ``oracles_beyond._shingles``. Grams are built non-distinct
    in an Arrow-batched pandas UDF — Catalyst HOF slice/concat lambdas run
    interpreted (the measured repetition_stats/shingle_hashes lesson,
    CLAUDE.md).

    Scale shape: explode → groupBy(lang, gram) runs with map-side partial
    aggregation (shuffle rows bounded by distinct grams per partition, not
    gram occurrences); the rank window then shuffles the *aggregated*
    histogram on lang — its partition size is distinct-grams-per-language,
    which grows sublinearly with corpus size, so the per-lang sort is not
    the 100 TB bottleneck the raw explode would be."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        word_grams,
    )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        def go(text: str | None) -> list[str] | None:
            if text is None:
                return None
            return word_grams(ascii_words(text), n)

        return texts.map(go)

    counts = (
        parallelized(documents)
        .select("lang", F.explode(grams("text")).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("gram_count"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("gram_count"), F.asc("gram"))
    return counts.select(
        "lang", "gram", "gram_count", F.row_number().over(w).alias("gram_rank")
    ).filter(F.col("gram_rank") <= k)


def tfidf_top_terms(
    documents: DataFrame, k: int = 3, scratch: list | None = None
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf with a LINEAR
    inverse-document-frequency weight: ``score = tf · (N / df)``. The
    textbook ``log(N/df)`` is deliberately not used — ``log`` is a
    transcendental with no cross-runtime correctly-rounded guarantee, so
    scores could drift a ULP between the JVM and DuckDB and flip tie-adjacent
    ranks; division and multiplication ARE correctly rounded under
    IEEE-754, making the linear variant bit-replayable (the same reasoning
    that fixed source_mix_weights' alpha at 0.5). Ties cut
    deterministically (score desc, token asc).

    N counts documents contributing ≥1 token (NULL/empty texts drop out of
    tokenization on both engines). Scale shape: tf = map-side-combined
    groupBy(doc_id, token); df = groupBy(token) over the distinct
    (doc, token) pairs; N rides in as a one-row broadcast cross join (no
    driver action); the per-doc rank cut gets WindowGroupLimit like
    ngram_topk_per_lang.

    df and N are derived FROM tf, not from the occurrence table (the
    ``_lm_tables`` c1-from-c2 identity, applied here in r16): tf's rows
    are exactly the distinct (doc, token) pairs, so ``df(token) =
    count(*) per token over tf`` — identical values, but the separate
    ``tok.distinct()`` aggregation (a full extra shuffle of every token
    OCCURRENCE, the largest intermediate in the plan) is gone, and the
    occurrence explode drops to ONE consumer. Plan diff (guide §2.3
    aggregate-before-shuffle / §2.4): 6 Exchange → 5, and the
    ``scratch`` persist now caches the far smaller tf table instead of
    the occurrence table.

    Persist policy is the LM scorers' ``scratch`` contract (VERDICT r11
    wrong #1 — the r10 LM fix swept here): tf feeds dfreq AND N AND the
    scoring join, so it is persisted ONLY when the caller passes
    ``scratch`` (a list the persisted frame is appended to; unpersist
    after consuming the result). Without ``scratch`` nothing is cached —
    tf recomputes once per branch — and a long-running app can no
    longer leak one cached plan per call."""
    from pyspark.sql import Window

    tok = documents.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf feeds THREE consumers (dfreq, N, the scoring join) — the same
    # diamond as the LM scorers' c2 table, so it gets the same treatment
    # (r17): an eager localCheckpoint instead of a persist cuts the
    # 3×-re-analyzed subtree AND removes the persist-serialization
    # ordering VERDICT r16 #5 suspected (dfreq no longer waits behind a
    # CacheManager materialization of tf's plan — all three consumers
    # read the already-materialized LogicalRDD).
    tf = _checkpointed_counts(tf, scratch)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df_docs",
            (F.col("tf") * (F.col("n_docs") / F.col("df_docs"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return scored.select(
        "doc_id",
        "token",
        F.col("tf").cast("int").alias("tf"),
        F.col("df_docs").cast("int").alias("df_docs"),
        "score",
        F.row_number().over(w).alias("term_rank"),
    ).filter(F.col("term_rank") <= k)


import re as _re

_NORM_CTRL = _re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
_NORM_HSPACE = _re.compile("[ \t]+")
_NORM_PARA = _re.compile("\n{3,}")
_NORM_EDGE = _re.compile("^[ \t\n\r]+|[ \t\n\r]+$")


def normalize_one(t: str | None) -> str | None:
    """The per-document canonicalization kernel of :func:`normalize_text`
    — module-level so the Spark-free fuzz test can run it head-to-head
    against the DuckDB oracle's regexp chain. EXPLICIT character classes
    only (no ``\\s``): Python re's ``\\s`` is Unicode-wide, RE2's is not."""
    import unicodedata

    if t is None:
        return None
    t = unicodedata.normalize("NFC", t)
    t = _NORM_CTRL.sub("", t)
    t = _NORM_HSPACE.sub(" ", t)
    t = _NORM_PARA.sub("\n\n", t)
    return _NORM_EDGE.sub("", t)


def normalize_text(documents: DataFrame) -> DataFrame:
    """Canonicalize text before dedup/fingerprinting — the standard
    pre-processing step that makes byte-different renderings of the same
    content hash equal (NFC composition, control-char strip, horizontal
    whitespace collapse, paragraph-run clamp, edge trim — the C4/CCNet
    cleanup class). Output: ``(doc_id, clean_text, changed, delta_chars)``
    with ``changed`` = text IS DISTINCT FROM clean_text (NULL-safe on
    both engines) and ``delta_chars`` = length(text) − length(clean_text)
    (negative when NFC composition shortens differently than strips
    remove).

    Determinism contract: the kernel uses EXPLICIT character classes,
    never ``\\s`` — Python ``re`` treats ``\\s`` as Unicode whitespace
    (NBSP matches) while RE2/Java do not, so a ``\\s`` here would
    hash-diverge from the DuckDB twin on exotic whitespace. NFC itself is
    pinned equal between ``unicodedata`` and DuckDB's ``nfc_normalize``
    (tests/test_beyond.py). Steps apply in a fixed order (NFC → control
    strip → [ \\t]+ collapse → \\n{{3,}} clamp → edge trim), mirrored
    verbatim in the oracle.

    Scale shape: one zero-shuffle Arrow kernel pass (per-char Python work
    belongs in the vectorized kernel per the repo rule); the derived
    flag/delta are Catalyst expressions over the kernel's output."""
    @F.pandas_udf("string")
    def clean(texts: pd.Series) -> pd.Series:
        return texts.map(normalize_one)

    out = documents.select(
        "doc_id", F.col("text"), clean("text").alias("clean_text")
    )
    return out.select(
        "doc_id",
        "clean_text",
        (~F.col("text").eqNullSafe(F.col("clean_text"))).alias("changed"),
        (F.length("text") - F.length("clean_text"))
        .cast("int")
        .alias("delta_chars"),
    )


def lm_bigram_score_by_lang(
    documents: DataFrame,
    lm_documents: DataFrame | None = None,
    lm=None,
    scratch: list | None = None,
) -> DataFrame:
    """Per-LANGUAGE LM quality scoring — CCNet's actual design (Wenzek et
    al. 2020 train one KenLM per language and score each document against
    its own language's model; a single mixed-language LM systematically
    under-scores low-resource languages whose bigrams look "rare"). Same
    formula and determinism contract as :func:`lm_bigram_score`, with
    every count table keyed by ``lang``: c2 per (lang, w1, w2), c1 per
    (lang, w1), V per lang — a document's Laplace smoothing uses ITS
    language's vocabulary size. Documents whose language has no LM rows
    are unscored (inner join on lang — there is no model to judge them
    against; route them to a default-LM pass or quarantine upstream).
    Output adds the ``lang`` column.

    Scale shape: identical to the global scorer — lang rides along the
    same map-side-combined groupBys and the scoring join's key grows to
    (lang, w1, w2), which only SHARPENS partitioning (language is a
    natural shard key for corpus work). ``lm`` accepts a lang-keyed
    (c2, c1, vocab) triple (``load_lm(..., by_lang=True)``) for the
    train-once/score-every-shard shape; persist policy is the global
    scorer's ``scratch`` contract (no persist unless caller-managed)."""
    from pyspark.storagelevel import StorageLevel

    bigrams_with_lang = doc_bigrams_by_lang

    def _managed(df: DataFrame) -> DataFrame:
        if scratch is None:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        scratch.append(df)
        return df

    if lm is not None:
        doc_bg = bigrams_with_lang(documents)  # single consumer
        c2, c1, vocab = lm
    else:
        if lm_documents is None:
            doc_bg = _managed(bigrams_with_lang(documents))
            lm_bg = doc_bg
        else:
            doc_bg = bigrams_with_lang(documents)
            lm_bg = bigrams_with_lang(lm_documents)
        # c1/vocab derived FROM c2 (the _lm_tables identity, lang-keyed):
        # the bigram explode has one aggregation consumer, and the
        # derivation scans the small distinct-bigram table. c2 is
        # checkpointed, not merely persisted, to cut the 3×-re-analyzed
        # subtree (see _checkpointed_counts; r17)
        c2 = _checkpointed_counts(
            lm_bg.groupBy("lang", "w1", "w2").agg(
                F.count(F.lit(1)).alias("c2")
            ),
            scratch,
        )
        c1 = c2.groupBy("lang", "w1").agg(F.sum("c2").alias("c1"))
        vocab = (
            c2.select("lang", F.col("w1").alias("t"))
            .unionByName(c2.select("lang", F.col("w2").alias("t")))
            .groupBy("lang")
            .agg(F.count_distinct("t").alias("v"))
        )
    p = (F.coalesce(F.col("c2"), F.lit(0)) + 1) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    scored = (
        doc_bg.join(c2, ["lang", "w1", "w2"], "left")
        .join(c1, ["lang", "w1"], "left")
        .join(F.broadcast(vocab), ["lang"])  # inner: unmodeled langs drop
        .select(
            "doc_id", "lang", F.floor(p * F.lit(LM_PROB_SCALE)).alias("q")
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("q").alias("sum_prob_q9"),
        (
            (F.sum("q").cast("double") / F.count(F.lit(1)))
            / F.lit(float(LM_PROB_SCALE))
        ).alias("avg_prob"),
    )


#: fixed-point scale for LM probabilities: floor(p * SCALE) as BIGINT makes
#: per-doc probability sums ORDER-FREE (the integer-cents rule — a raw
#: double F.sum would be shuffle-order-dependent and break hash checks).
#: p <= 1 so a term <= 1e9; even 1e6-bigram documents sum < 2^63.
LM_PROB_SCALE = 1_000_000_000


def _checkpointed_counts(df: DataFrame, scratch: list | None) -> DataFrame:
    """Materialize a self-train count table AND CUT ITS LINEAGE
    (``localCheckpoint(eager=True)`` — guide §3.3/§1.2, the CLAUDE.md
    iterative-loop lesson applied to a diamond plan): the c2 bigram-count
    table feeds THREE consumers (scoring join, c1 derivation, vocab
    derivation), so the final plan embeds its corpus-sized subtree three
    times and Catalyst re-ANALYZES every copy on each downstream
    DataFrame op — measured 1–2 s of pure construction per self-train
    scorer call at sf0.1 (the r16 decompose; caching prevents recompute,
    not re-analysis). After the checkpoint each consumer hangs off a
    LogicalRDD leaf. Values are unchanged (same rows, same aggregation);
    the checkpoint job itself runs inside the timed construction, so
    nothing is precomputed across runs.

    Gated on the ``scratch`` contract like the persists it replaces: a
    caller that passes no scratch keeps the plain lazy plan (no hidden
    block-manager residency). The scratch receives a
    :class:`_CheckpointScratch` release handle, because
    ``DataFrame.unpersist()`` is a NO-OP on a checkpoint-backed frame
    (its blocks live outside the CacheManager) — without the handle the
    scratch contract's release path would silently become
    "wait for GC", which tests/test_beyond.py pins against.

    Failure domain: ``localCheckpoint`` blocks live only in the executors'
    block managers, with no replicated copy and no lineage left to
    recompute them. They die with their executor, so on a cluster a lost
    executor fails the query that reads the table (a reliable
    ``checkpoint()`` to a configured checkpoint dir would survive it, at
    the cost of a write)."""
    if scratch is None:
        return df
    df = df.localCheckpoint(eager=True)
    scratch.append(_CheckpointScratch(df))
    return df


class _CheckpointScratch:
    """Release handle for an eagerly localCheckpointed scratch table:
    frees the checkpoint RDD itself (``LogicalRDD.rdd().unpersist()`` —
    verified to remove the entry from ``getPersistentRDDs``), which
    ``DataFrame.unpersist()`` cannot. After release the frame is
    UNREADABLE (lineage is cut and the blocks are gone) — exactly the
    scratch contract: release only after the result is consumed."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self):
        try:
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            # accessor shape drift (non-LogicalRDD plan) degrades to the
            # GC/ContextCleaner path — deferred reclamation, never a leak
            # that survives the references being dropped
            pass
        return self._df


def doc_bigrams(documents: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) word-bigram occurrences: lowercased whitespace
    tokens (the token_histogram/tfidf convention), pairs (w[i], w[i+1]);
    documents with fewer than two tokens yield no rows (NULL text drops
    via size(NULL) = -1). Native slice/arrays_zip/explode — no
    interpreted per-element lambda (the repetition_stats Arrow rule is
    about per-gram LAMBDA work; zip is structural)."""
    return (
        documents.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("w")
        )
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg")["0"].alias("w1"),
            F.col("bg")["1"].alias("w2"),
        )
    )


def doc_bigrams_by_lang(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, w2) — :func:`doc_bigrams` with the document's
    language riding along (the per-language LM's partition key)."""
    return (
        documents.select(
            "doc_id", "lang", tokens(F.lower(F.col("text"))).alias("w")
        )
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("bg")["0"].alias("w1"),
            F.col("bg")["1"].alias("w2"),
        )
    )


def _lm_tables(lm_bg: DataFrame):
    """(c2, c1, vocab) LM count tables from a bigram-occurrence frame.
    c1 and vocab are derived FROM c2, not from the occurrence frame:
    c1(w1) = Σ_w2 c2(w1, w2) (a bigram's prefix count IS the sum of its
    continuations' counts) and the vocabulary is the distinct tokens of
    c2's (w1, w2) pairs — identical values, but the expensive bigram
    explode has ONE aggregation consumer (c2) instead of three, and the
    c1/vocab scans run over the far smaller distinct-bigram table
    (sublinear in corpus size, Heaps' law)."""
    c2 = lm_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1, vocab = _lm_tables_from(c2)
    return c2, c1, vocab


def _lm_tables_from(c2: DataFrame):
    """(c1, vocab) derived from a c2 count table — split out of
    :func:`_lm_tables` so the self-train scorers can derive them from the
    CHECKPOINTED c2 (a LogicalRDD leaf) rather than the raw aggregation
    subtree (see :func:`_checkpointed_counts`)."""
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        c2.select(F.col("w1").alias("t"))
        .unionByName(c2.select(F.col("w2").alias("t")))
        .agg(F.count_distinct("t").alias("v"))
    )
    return c1, vocab


def save_lm(documents: DataFrame, path: str, by_lang: bool = False) -> None:
    """Write the bigram LM as a reusable artifact — the production shape
    for reference-corpus quality filtering (train the LM ONCE on a clean
    reference corpus, score every incoming shard against it): ``c2``
    (w1, w2, c2), ``c1`` (w1, c1), ``vocab`` (one row). The bigram
    explode is materialized once and feeds all three writes (the
    multi-branch rule). At corpus scale the c2 table is the scoring
    join's build side — distinct-bigram volume (sublinear in corpus
    size), not corpus volume.

    ``by_lang=True`` writes the PER-LANGUAGE artifact (CCNet's one-model-
    per-language design): every table keyed by ``lang``, consumed by
    :func:`lm_bigram_score_by_lang` via ``load_lm(..., by_lang=True)``."""
    spark = documents.sparkSession
    bg = doc_bigrams_by_lang(documents) if by_lang else doc_bigrams(documents)
    keys = ["lang", "w1"] if by_lang else ["w1"]
    # c2 is written first and READ BACK to derive c1/vocab (_lm_tables'
    # c1-from-c2 identity): the bigram explode has exactly one consumer
    # (the c2 write), so nothing needs a persist — the r10 try/finally
    # persist is gone along with its reason to exist
    bg.groupBy(*keys, "w2").agg(F.count(F.lit(1)).alias("c2")).write.mode(
        "overwrite"
    ).parquet(f"{path}/c2")
    written_c2 = spark.read.parquet(f"{path}/c2")
    c1 = written_c2.groupBy(*keys).agg(F.sum("c2").alias("c1"))
    toks = written_c2.select(*keys[:-1], F.col("w1").alias("t")).unionByName(
        written_c2.select(*keys[:-1], F.col("w2").alias("t"))
    )
    vocab = (
        toks.groupBy("lang").agg(F.count_distinct("t").alias("v"))
        if by_lang
        else toks.agg(F.count_distinct("t").alias("v"))
    )
    c1.write.mode("overwrite").parquet(f"{path}/c1")
    vocab.write.mode("overwrite").parquet(f"{path}/vocab")


def load_lm(spark, path: str, by_lang: bool = False):
    """Read a :func:`save_lm` artifact back as the (c2, c1, vocab) triple
    :func:`lm_bigram_score` accepts via ``lm=`` — score-with-written-LM
    is pinned result-identical to self-training on the same corpus
    (tests/test_beyond.py), so the same DuckDB oracle hash-checks it.
    ``by_lang=True`` reads a lang-keyed artifact for
    :func:`lm_bigram_score_by_lang` (the parameter only documents intent
    — the reads are schema-driven either way)."""
    del by_lang
    return (
        spark.read.parquet(f"{path}/c2"),
        spark.read.parquet(f"{path}/c1"),
        spark.read.parquet(f"{path}/vocab"),
    )


def lm_bigram_score(
    documents: DataFrame,
    lm_documents: DataFrame | None = None,
    lm=None,
    scratch: list | None = None,
) -> DataFrame:
    """Language-model quality score: per-document mean Laplace-smoothed
    bigram probability under a word-bigram LM trained on
    ``lm_documents`` (default: the corpus itself — corpus-fit scoring).
    The CCNet/Gopher-style perplexity-proxy filter (Wenzek et al. 2020
    "CCNet" §4.3; Rae et al. 2021 §A1.2): text that the reference LM
    finds predictable scores high, junk/garbled/boilerplate-free-random
    text scores low — rank or threshold on ``avg_prob`` to filter.

    Determinism contract (the tfidf/no-transcendentals discipline):
    p = (c2 + 1) / (c1 + V) is one correctly-rounded division of exact
    integers; each p is floored into fixed-point
    (``floor(p * LM_PROB_SCALE)`` — floor, not round: round-half ties
    differ between engines) and summed as BIGINT (order-free);
    ``avg_prob`` divides twice in a fixed order. No logs — a mean-prob
    score ranks the same direction as mean-log-prob for filtering
    purposes and stays bit-replayable cross-engine.

    Scale shape: the exploded bigram table is materialized once (it
    feeds c2, c1, V, and the scoring join — the tfidf multi-branch
    rule); c2/c1 are map-side-combined groupBys; V rides as a one-row
    broadcast cross join; the scoring join shuffles on (w1, w2) —
    bounded by bigram-occurrence volume, the same class as tfidf's
    token join. Training on a REFERENCE corpus and scoring a target is
    the production shape: pass ``lm_documents``, or ``lm`` = the
    (c2, c1, vocab) triple of :func:`load_lm` for a WRITTEN reference
    LM (train once, score every shard); unseen bigrams smooth to
    1/(c1+V) and unseen contexts to 1/V via the COALESCE(0)s.

    Persist policy (the difficulty_buckets r8 rule — a lazily-returned
    result may not hold a persist it cannot release): on the ``lm=``
    path the document bigram frame has exactly ONE consumer (the
    scoring probe), so nothing is persisted — the streaming sinks'
    per-epoch calls hold no cache. On the self-train/``lm_documents``
    paths the multi-consumer frames (doc_bg feeding c2-build + probe;
    c2 feeding join + c1 + vocab) are persisted ONLY when the caller
    passes ``scratch`` (a list the persisted frames are appended to —
    the ``incremental_minhash_pairs`` contract; unpersist them after
    consuming the result). Without ``scratch`` the plan recomputes the
    bigram explode per consumer — correct, cache-leak-free, and the
    right default for one-shot calls; loops and benchmarks pass
    ``scratch``."""
    from pyspark.storagelevel import StorageLevel

    def _managed(df: DataFrame) -> DataFrame:
        if scratch is None:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        scratch.append(df)
        return df

    if lm is not None:
        doc_bg = doc_bigrams(documents)  # single consumer — no persist
        c2, c1, vocab = lm
    elif lm_documents is None:
        # self-train: doc_bg feeds the c2 build AND the scoring probe
        doc_bg = _managed(doc_bigrams(documents))
        c2, c1, vocab = _lm_tables(doc_bg)
        # feeds the scoring join AND c1 AND vocab — checkpointed, not
        # merely persisted, to cut the 3×-re-analyzed subtree (r17)
        c2 = _checkpointed_counts(c2, scratch)
        c1, vocab = _lm_tables_from(c2)
    else:
        # external LM corpus: doc_bg and lm_bg each have ONE consumer
        # (probe / c2 build) — only the shared c2 table is persisted
        doc_bg = doc_bigrams(documents)
        c2, c1, vocab = _lm_tables(doc_bigrams(lm_documents))
        c2 = _checkpointed_counts(c2, scratch)
        c1, vocab = _lm_tables_from(c2)
    p = (F.coalesce(F.col("c2"), F.lit(0)) + 1) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    scored = (
        doc_bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.floor(p * F.lit(LM_PROB_SCALE)).alias("q"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("q").alias("sum_prob_q9"),
        (
            (F.sum("q").cast("double") / F.count(F.lit(1)))
            / F.lit(float(LM_PROB_SCALE))
        ).alias("avg_prob"),
    )


def length_percentiles(
    documents: DataFrame, approx: bool = False, accuracy: int = 10_000
) -> DataFrame:
    """Exact p50/p90/p99 whitespace-token-count percentiles per language,
    with percentile_disc semantics: the value at rank ``ceil(p·n)`` of the
    (tokens, doc_id)-sorted group — an actual corpus element, no
    interpolation. Interpolating percentiles (Spark `percentile`, DuckDB
    `quantile_cont`) compute ``lo + (hi-lo)·frac`` with engine-specific
    expression shapes, so the disc variant is the hash-replayable one; the
    only float op here is ``p·n`` (correctly rounded, then ceil'd
    identically).

    Scale shape: one shuffle on lang for the sort window — bounded by the
    biggest language's doc COUNT (not text: only (doc_id, lang, n_tokens)
    rows move).

    ``approx=True`` is the 100 TB production knob (the `profile_table`
    pattern, VERDICT r6 #7): `percentile_approx` (Greenwald-Khanna sketch,
    ``accuracy`` controls error ≤ 1/accuracy of rank) rides an ordinary
    map-side-combined groupBy — NO per-group sort window, no row_number,
    each task ships one bounded sketch per (lang, percentile) instead of
    every (lang, n_tokens) row being windowed. Same output schema; exact
    (default) stays the oracle-checked driver configuration; the approx
    plan shape is asserted in tests (no Window operator, partial
    aggregation present)."""
    from pyspark.sql import Window

    base = documents.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens").isNotNull())
    if approx:
        return base.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.percentile_approx("n_tokens", 0.5, accuracy).alias("p50_tokens"),
            F.percentile_approx("n_tokens", 0.9, accuracy).alias("p90_tokens"),
            F.percentile_approx("n_tokens", 0.99, accuracy).alias("p99_tokens"),
        )
    return _disc_percentiles(base)


def _disc_percentiles(base: DataFrame, suffix: str = "tokens") -> DataFrame:
    """The exact percentile_disc frame over a (doc_id, lang, n_tokens)
    count table — shared by :func:`length_percentiles` (whitespace
    counts) and :func:`length_percentiles_bpe` (real subword counts)."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    ranked = base.select(
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )

    def pick(p: float, alias: str):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("n_tokens")
            )
        ).alias(alias)

    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        pick(0.5, f"p50_{suffix}"),
        pick(0.9, f"p90_{suffix}"),
        pick(0.99, f"p99_{suffix}"),
    ).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        f"p50_{suffix}",
        f"p90_{suffix}",
        f"p99_{suffix}",
    )


def length_percentiles_bpe(documents: DataFrame) -> DataFrame:
    """:func:`length_percentiles` over REAL subword counts — the batch
    sizing a transformer pipeline actually budgets (whitespace p99 can
    undersize a context window by the corpus's bpe_per_word factor).
    Same percentile_disc frame (shared ``_disc_percentiles`` core); the
    counts are :func:`bpe_token_stats`'s Arrow kernel, so this row is
    composition-spanned (percentile frame ⨯ BPE counts) and sits in the
    queries() tail like pack_sequences_bpe. Documents with no tokens
    drop — there is nothing to size (the bpe_token_stats convention;
    the whitespace variant keeps its 0-token rows, so n_docs may differ
    between the two on corpora with empty documents)."""
    bpe_count = _bpe_count_udf()
    base = (
        documents.select(
            "doc_id", "lang", _bpe_word_arrays(documents).alias("w")
        )
        .filter(F.size("w") >= 1)
        .select(
            "doc_id", "lang", bpe_count("w").cast("int").alias("n_tokens")
        )
    )
    return _disc_percentiles(base, suffix="bpe_tokens")


def resample_corpus(documents: DataFrame, group_col: str = "lang") -> DataFrame:
    """Materialized temperature resampling: keep each document with
    probability equal to its group's :func:`source_mix_weights` weight
    (``sqrt(n/max)``) — the largest group passes whole, smaller groups are
    up-REPRESENTED relative to their size, flattening the mixture the way
    multilingual pipelines balance head languages against the tail.

    The keep decision is deterministic and engine-replayable: uniform
    draw = md5-derived ``h60(doc_id || ':resample') % 2^20`` (salted so it
    is independent of train_test_split's bucket draw on the same doc_id),
    kept iff ``draw < weight · 2^20``. The int→double promotion in the
    comparison and the single multiplication are both exact/correctly
    rounded, so both engines keep bit-identical doc sets — and a
    document's fate never depends on other rows beyond the per-group
    weight, so re-runs over a grown corpus only change fates through the
    weights themselves.

    Scale shape: the weights table is #groups rows — broadcast joined;
    the draw is a per-row map. One map-side-combined agg (inside
    source_mix_weights) is the only shuffle."""
    w = source_mix_weights(documents, group_col).select(group_col, "weight")
    draw = (
        h60(F.concat(F.col("doc_id").cast("string"), F.lit(":resample")))
        % (1 << 20)
    ).cast("double")
    return (
        documents.join(F.broadcast(w), group_col)
        .filter(draw < F.col("weight") * F.lit(float(1 << 20)))
        .select("doc_id", group_col, "weight")
    )


#: chunking defaults: 64-token chunks, stride 48 (16-token overlap) — the
#: common embedding/RAG prep shape; both constants are mirrored into the
#: SQL twin via oracles_beyond.chunk_documents' parameters
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Fixed-size overlapping token chunking — the embedding/RAG prep
    step: each document becomes ``1 + ceil((n - chunk)/stride)`` chunks of
    ``chunk_tokens`` whitespace tokens starting every ``stride`` tokens
    (trailing chunk may be shorter; docs with ≤ chunk tokens — or no
    tokens — are one whole-text chunk, the shared short-input convention).
    Output is (doc_id, chunk_start, chunk_len, chunk_hash): offsets +
    md5-derived content hash, not the text itself — the id/hash projection
    a downstream embedding job joins back on, and what a scalar-only
    oracle can compare.

    Per-row map (Arrow-batched: per-chunk join+md5 is the measured
    HOF-interpretation case) followed by one explode — zero shuffle; at
    100 TB chunking is embarrassingly parallel and output size is
    n_tokens/stride rows per doc."""
    from pyspark.sql import types as T

    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        md5_60,
    )

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("chunk_start", T.IntegerType()),
                    T.StructField("chunk_len", T.IntegerType()),
                    T.StructField("chunk_hash", T.LongType()),
                ]
            )
        )
    )
    def chunks(texts: pd.Series) -> pd.Series:
        def go(text: str | None):
            if text is None:
                return None
            words = ascii_words(text)
            n = len(words)
            if n <= chunk_tokens:
                k = 1
            else:
                import math

                k = 1 + math.ceil((n - chunk_tokens) / stride)
            out = []
            for i in range(k):
                start = i * stride
                piece = words[start : start + chunk_tokens]
                h = md5_60(" ".join(piece))
                out.append((start, len(piece), h))
            return out

        return texts.map(go)

    return (
        parallelized(documents)
        .select("doc_id", F.explode(chunks("text")).alias("c"))
        .select("doc_id", "c.chunk_start", "c.chunk_len", "c.chunk_hash")
    )


def stratified_sample(
    documents: DataFrame, k: int = 100, group_col: str = "lang"
) -> DataFrame:
    """Deterministic per-stratum sample: exactly ``min(k, |stratum|)``
    documents per ``group_col`` value, selected in md5-hash order — the
    eval-set / ablation-corpus builder's staple (uniform-at-random within
    each stratum, yet stable across runs and engines because the draw is
    a pure function of doc_id).

    Complements :func:`train_test_split` (Bernoulli hash-threshold: exact
    FRACTION only in expectation) with exact COUNT semantics. Scale shape:
    the literal rank cut lets Catalyst plan a WindowGroupLimit — each input
    partition keeps only its k smallest keys per group BEFORE the shuffle
    (asserted in tests/test_beyond.py), so the exchange carries at most
    k·n_groups rows per upstream partition, not the corpus; the per-group
    sort downstream is over ≤ k·n_partitions rows. For a skewed stratum at
    100 TB the pre-shuffle cut is what keeps the hot group's partition
    bounded."""
    from pyspark.sql import Window

    keyed = documents.select(
        group_col,
        "doc_id",
        h60(F.col("doc_id").cast("string")).alias("sample_key"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.asc("sample_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, "doc_id", "sample_key", "sample_rank")
    )


def difficulty_buckets(
    documents: DataFrame, n_buckets: int = 4, group_col: str = "lang",
    approx: bool = False, accuracy: int = 10_000,
) -> DataFrame:
    """Curriculum/difficulty quartiles: NTILE(``n_buckets``) over the
    :func:`text_stats` quality score within each ``group_col`` stratum —
    the standard prep step for curriculum ordering or quality-tiered
    sampling (bucket 1 = lowest-quality quartile of its language).

    The score formula is shared verbatim with :func:`text_stats` (whose
    driver oracle proves the doubles are bit-identical to the SQL twin),
    and the (quality_score, doc_id) ordering is total, so the bucket
    assignment is deterministic. Rows whose score is undefined (NULL text,
    zero tokens/chars) are excluded BEFORE the division on both engines —
    NULL-ordering and x/0 conventions differ between Spark and DuckDB, so
    the filter is on the raw counts, not the score. Scale shape: one
    shuffle on the stratum key + per-group sort; NTILE needs the group's
    total row count, so no group-limit shortcut exists — at 100 TB a
    per-language sort is the honest cost of exact quantile bucketing.

    ``approx=True`` is the 100 TB production knob (the
    :func:`length_percentiles` pattern): per-stratum Greenwald-Khanna
    ``percentile_approx`` cut points at i/n_buckets (error ≤ 1/accuracy
    of rank), then bucket = 1 + #cuts below the score via a literal
    when-chain (codegen, no HOF, no per-group sort Window — plan-asserted
    in tests). Semantics shift from rank-balanced (NTILE: bucket sizes
    within 1) to value-cut (ties on a cut value share a bucket); exact
    stays the oracle-checked driver configuration."""
    from pyspark.sql import Window

    scored = (
        documents.filter(F.col("text").isNotNull())
        .filter(
            (F.size(tokens(F.col("text"))) > 0) & (F.length("text") > 0)
        )
        .select(
            group_col,
            "doc_id",
            _quality_score(F.col("text")).alias("quality_score"),
        )
    )
    if approx:
        # The cuts table is tiny (one row per stratum), so it is collected
        # and re-broadcast as LITERALS: scored then has exactly ONE lazy
        # consumer (the final select) and nothing needs a persist — the
        # previous MEMORY_AND_DISK persist of `scored` had no unpersist
        # hook (the result is returned lazy) and leaked one cached table
        # per call in a long session (ADVICE r8). Cost of the trade: the
        # score map runs once in the eager cuts job and once at
        # consumption — the 2× the persist avoided — but the cuts job is
        # unavoidable anyway (cut points must exist before assignment),
        # and a caller looping many strata batches can pre-persist its
        # OWN documents frame to keep the text scan hot.
        cuts_agg = scored.groupBy(group_col).agg(
            F.percentile_approx(
                "quality_score",
                [i / n_buckets for i in range(1, n_buckets)],
                accuracy,
            ).alias("_cuts")
        )
        cuts = one_slice_rows(
            documents.sparkSession, cuts_agg.collect(), cuts_agg.schema
        )
        bucket = F.lit(1)
        for i in range(n_buckets - 1):
            bucket = bucket + F.when(
                F.col("quality_score") > F.col("_cuts")[i], 1
            ).otherwise(0)
        return (
            scored.join(F.broadcast(cuts), group_col)
            .select(
                group_col,
                "doc_id",
                "quality_score",
                bucket.cast("int").alias("difficulty_bucket"),
            )
        )
    w = Window.partitionBy(group_col).orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    return scored.select(
        group_col,
        "doc_id",
        "quality_score",
        F.ntile(n_buckets).over(w).cast("int").alias("difficulty_bucket"),
    )


#: the documents table's contract columns — the single source for BOTH the
#: driver profile query and its SQL oracle, so a driver-side schema change
#: breaks loudly (column missing) instead of silently hash-mismatching
DOCUMENTS_PROFILE_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Data-quality profile: one row per column with row/non-null/
    distinct counts — the triage pass a pipeline runs on a new corpus drop
    before trusting it (null bursts and cardinality collapses are the two
    classic ingest regressions).

    Scale shape: ONE aggregation pass over the table for every column —
    all the COUNT(DISTINCT)s ride in a single `agg`, which Catalyst
    plans as one scan + one Expand (one duplicated row-stream per distinct
    column) + one aggregate; the per-column result row is then unpivoted
    driver-free with `stack`. The previous shape (one agg per column,
    union-ed) re-scanned the table N times — at 100 TB that multiplies the
    dominant cost by the column count (VERDICT r5 #3).

    ``approx=True`` is the 100 TB production knob: HyperLogLog
    `approx_count_distinct` (relative std dev ``rsd``) needs NO Expand and
    never shuffles distinct values — the whole profile collapses to one
    un-expanded partial-aggregated pass (plan asserted in tests). Exact
    (default) is the oracle-checkable driver configuration."""
    cols = columns if columns is not None else df.columns
    if not cols:
        raise ValueError(
            "profile_table needs at least one column (got an empty list"
            " — stack(0) would not even parse)"
        )
    nd = (
        (lambda c: F.approx_count_distinct(c, rsd))
        if approx
        else F.countDistinct
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        # backtick-quote the name so dotted/spaced column names resolve as
        # whole columns instead of being parsed as nested-field paths
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.count(col).alias(f"_nn{i}"))
        aggs.append(nd(col).alias(f"_nd{i}"))
    # column names become SQL string literals inside stack() — escape
    # quotes so an arbitrary corpus schema can't break the parse
    pairs = ", ".join(
        "'{}', _nn{}, _nd{}".format(c.replace("'", "''"), i, i)
        for i, c in enumerate(cols)
    )
    return df.agg(*aggs).selectExpr(
        f"stack({len(cols)}, {pairs}) AS (col_name, n_nonnull, n_distinct)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nonnull", "n_distinct")
