"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built from JVM-side ``pyspark.sql.functions``
expressions (whole-stage codegen; no Python UDFs), so each operator scales
linearly with the cluster: they are per-row map expressions with no
shuffle at all.

Operators:
- ``with_token_stats``  — whitespace + BPE-ish token counts, char counts
- ``with_quality_score``— heuristic quality from length/punctuation/
                          stopword ratios (Gopher/C4-style rule scoring)
- ``with_lang_id``      — marker-word n-gram heuristic language ID
- ``with_fingerprint``  — md5 content fingerprint of the normalized text
                          + a polynomial rolling hash over words

Each has a registered query + DuckDB oracle (query_defs/pipeline.py), so
semantics are pinned by differential testing, not just unit tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from carbondata_spark.functions import dround

# Marker stopwords per language for the heuristic language ID. Real
# pipelines use fastText-style models; the heuristic keeps the operator
# dependency-free and SQL-expressible (the model hook is
# ``with_lang_id(df, scorer=...)``).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def _words(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish subword estimate.

    ``n_tokens_ws``  — whitespace-separated tokens;
    ``n_tokens_bpe`` — alnum runs + individual punctuation marks (GPT-2-ish
    pre-tokenization), via regexp_extract_all (RE2-safe: no lookarounds,
    so the expression ports to the DuckDB oracle verbatim).
    """
    words = _words(F.col(text_col))
    bpe_ish = F.regexp_extract_all(F.col(text_col), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)
    return (
        df.withColumn("n_chars_obs", F.length(text_col))
        .withColumn("n_tokens_ws", F.size(words))
        .withColumn("n_tokens_bpe", F.size(bpe_ish))
        .withColumn("avg_word_len", dround(F.length(F.col(text_col)) / F.size(words), 2))
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring (C4/Gopher-style rule mix, SQL-expressible).

    score = 0.4 * length_ok + 0.3 * stopword_ratio_capped + 0.3 * (1 - punct_ratio)
    """
    n_chars = F.length(text_col)
    words = _words(F.col(text_col))
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    length_ok = F.when((n_chars >= 50) & (n_chars <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ratio = F.least(F.lit(1.0), n_stop * F.lit(5.0) / n_words)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("stopword_frac", dround(n_stop / n_words, 4))
        .withColumn("punct_frac", dround(punct_ratio, 4))
        .withColumn(
            "quality_score",
            dround(0.4 * length_ok + 0.3 * stop_ratio + 0.3 * (1 - punct_ratio), 4),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: count per-language marker hits among the
    first 64 words; argmax wins, ties broken by language code order;
    no hit at all → 'und' (undetermined)."""
    words = F.slice(_words(F.lower(F.col(text_col))), 1, 64)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))
        scores.append((lang, score))
    # argmax via greatest + chained whens (deterministic tie-break: code order)
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, score in reversed(scores):
        pred = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(pred)
    out = df
    for lang, score in scores:
        out = out.withColumn(f"score_{lang}", score)
    return out.withColumn("lang_pred", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting.

    ``fp_md5``  — md5 of whitespace-normalized lowercase text (exact-dup key);
    ``fp_roll`` — polynomial rolling hash over words: sum(len(word_i) *
    31^(i mod 8)) mod 2^31, order-sensitive but word-local — cheap shift-
    tolerant fingerprint, fully expressible in SQL (aggregate over the
    word array, no UDF).
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = _words(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(words) - 1)
    terms = F.zip_with(words, idx, lambda w, i: F.length(w) * F.pow(F.lit(31.0), i % 4))
    roll = (
        F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x).cast("double") % F.lit(2147483647.0)
    )
    return df.withColumn("fp_md5", F.md5(norm)).withColumn("fp_roll", roll.cast("long"))


def vocab_topk(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-k words by DOCUMENT frequency.

    Per-document distinct words come from ``array_distinct`` on the split
    array — dedup happens inside the row (map-side, no shuffle) instead
    of an explode + distinct (which would shuffle every token). The one
    shuffle is the word-count hash aggregate (partial agg combines
    map-side), and the top-k is TakeOrderedAndProject — no global sort of
    the vocabulary.
    """
    words = df.select(
        F.explode(F.array_distinct(_words(F.col(text_col)))).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("word"))
        .limit(k)
    )


def with_repetition(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Within-document repetition score: fraction of word n-grams that are
    repeats of an earlier n-gram in the same document (0 = no repetition,
    → 1 = highly repetitive). The standard Gopher-style "repeated n-gram
    fraction" filter signal for boilerplate/spam.

    Entirely in-row (build the n-gram array with sequence+transform,
    count distincts with array_distinct): zero shuffle, scales linearly.
    Documents with fewer than ``n`` words score 0.0.
    """
    from carbondata_spark.operators.hof import let_once

    w = _words(F.col(text_col))
    # words and grams each BIND once per row (let_once): the bare split
    # alias would inline into the per-gram lambda (re-splitting the text
    # per n-gram), and the gram array is read three times below
    # (operators/hof.py)
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1, so short
    # documents must short-circuit before the sequence is built
    rep = let_once(
        w,
        lambda wv: F.when(F.size(wv) < n, F.lit(0.0)).otherwise(
            let_once(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(wv) - (n - 1), F.lit(1))),
                    # n element_at + concat_ws: no per-gram array
                    # allocation (see dedup.shingles_df), identical grams
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(wv, i + j) for j in range(n)]
                    ),
                ),
                lambda grams: (F.size(grams) - F.size(F.array_distinct(grams)))
                / F.size(grams),
            )
        ),
    )
    return df.withColumn("rep_ngram_frac", dround(rep, 4)).withColumn(
        "n_ngrams", F.greatest(F.size(w) - (n - 1), F.lit(0)).cast("int")
    )


def with_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Word-distribution Shannon entropy per document (natural log):
    ``entropy = ln(n) - sum(c_w * ln(c_w)) / n`` over per-word counts —
    low entropy flags repetitive/TEMPLATE text, high entropy flags
    word-salad; a standard distributional quality signal alongside
    `with_repetition`'s n-gram form.

    Plan: one word explode -> (doc, word) count aggregate -> per-doc
    aggregate. Both shuffles key on high-cardinality values; per-doc state
    is O(distinct words in the doc); nothing broadcasts or collects, so
    the operator scales with the corpus.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.lower(F.col(text_col)))).alias("w"),
    )
    counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double")
        ).alias("entropy"),
    )


# PII scrubbing patterns — RE2-compatible (portable to DuckDB/Go/Rust
# engines; no backrefs or lookarounds), the standard first-pass redaction
# set for web-scraped training text.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction: per-pattern match counts
    (``n_email``/``n_phone``/``n_ipv4``) and ``text_redacted`` with each
    match replaced by its ``[TYPE]`` tag. Pure codegen map expressions
    (regexp_count / regexp_replace) — zero shuffle, linear scan, the
    plan shape a 100-TB scrub pass needs. Patterns are deliberately
    conservative (precision over recall): production recall belongs to a
    dedicated NER pass; this is the cheap structural layer.
    """
    out = df
    red = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return out.withColumn("text_redacted", red)


def with_unigram_nll(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-unigram negative log-likelihood per document — the
    dependency-free perplexity proxy used for quality filtering (a
    document scoring high against its own corpus' unigram distribution is
    word-salad / OOV-heavy; low means generic-fluent):

        nll = sum_w c_dw * -ln(count_w / total_tokens) / sum_w c_dw

    Plan: one explode -> per-(doc, word) counts (persisted: they feed
    both the corpus distribution and the scoring join, and Spark's
    ReusedExchange would not share the aggregate itself) -> corpus
    counts by word -> word-key shuffle join ->
    per-doc aggregate. The 1-row total-token frame broadcasts. State per
    key is a count; nothing collects to the driver. The model hook for a
    real LM is the same join shape with an external (word, logp) table.
    """
    from carbondata_spark.functions import ensure_parallelism, repersist

    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.lower(F.col(text_col)))).alias("w"),
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    tf = repersist("unigram_nll_tf", tf)
    corpus = tf.groupBy("w").agg(F.sum("c").alias("cw"))
    total = corpus.agg(F.sum("cw").alias("total"))
    scored = tf.join(corpus, "w").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (
            F.sum(
                F.col("c").cast("double")
                * -F.log(F.col("cw").cast("double") / F.col("total").cast("double"))
            )
            / F.sum("c").cast("double")
        ).alias("nll"),
    )
