"""Training-data pipeline queries: dedup, similarity, text analysis,
multimodal — each wired to a DuckDB oracle where SQL can express the
semantics (md5-based hashing keeps MinHash/SimHash portable across
engines). IVF approximate search is verified by a recall test against
the brute-force path in tests/ instead (non-SQL-expressible iteration).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from carbondata_spark.queries import register, t

# Portable hex→int SQL fragments for the oracle side (DuckDB lacks conv()).
_HEXDIGITS = "'0123456789abcdef'"


def _hex_digit_sql(expr: str, i: int) -> str:
    return f"(position(substr({expr}, {i}, 1) IN {_HEXDIGITS}) - 1)"


def _hex4_sql(expr: str, offset: int = 1) -> str:
    """int value of the 4 hex chars of ``expr`` starting at ``offset``
    (1-based)."""
    parts = [f"{_hex_digit_sql(expr, offset + i)} * {16 ** (3 - i)}" for i in range(4)]
    return "(" + " + ".join(parts) + ")"


# shared oracle CTE: distinct 3-gram shingles per doc
_SHINGLES_CTE = r"""
words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
       FROM words, unnest(range(1, len(w) - 1)) AS t(i))
"""

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "p_text_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS INT)                                   AS n_chars_obs,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT)     AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS INT)
                                                                       AS n_tokens_bpe,
           round(length(text)::DOUBLE / len(string_split_regex(trim(text), '\s+')), 2)
                                                                       AS avg_word_len
    FROM documents
    """,
    doc="Token counting (whitespace + BPE-ish regex) over documents.",
)
def p_text_token_stats(spark, sf_dir):
    from carbondata_spark.operators.text import with_token_stats

    return with_token_stats(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_obs", "n_tokens_ws", "n_tokens_bpe", "avg_word_len"
    )


@register(
    "p_text_quality",
    oracle=r"""
    WITH b AS (
      SELECT doc_id,
             length(text) AS n_chars,
             string_split_regex(trim(text), '\s+') AS w,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct
      FROM documents
    ), s AS (
      SELECT doc_id, n_chars, len(w) AS n_words, punct,
             len(list_filter(w, x -> list_contains(
               ['the','a','and','of','to','in','is','it','that','for'], lower(x)))) AS n_stop
      FROM b
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           round(n_stop::DOUBLE / n_words, 4) AS stopword_frac,
           round(punct::DOUBLE / greatest(n_chars, 1), 4) AS punct_frac,
           round(0.4 * (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
               + 0.3 * least(1.0, n_stop * 5.0 / n_words)
               + 0.3 * (1 - punct::DOUBLE / greatest(n_chars, 1)), 4) AS quality_score
    FROM s
    """,
    headline=True,
    doc="Heuristic quality scoring: length window, stopword ratio, punctuation ratio.",
)
def p_text_quality(spark, sf_dir):
    from carbondata_spark.operators.text import with_quality_score

    return with_quality_score(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "stopword_frac", "punct_frac", "quality_score"
    )


@register(
    "p_text_lang_id",
    oracle=r"""
    WITH w64 AS (
      SELECT doc_id, lang, (string_split_regex(trim(lower(text)), '\s+'))[1:64] AS w
      FROM documents
    ), sc AS (
      SELECT doc_id, lang,
        len(list_filter(w, x -> list_contains(['der','die','und','das','ist'], x))) AS score_de,
        len(list_filter(w, x -> list_contains(['the','and','of','to','a'], x)))     AS score_en,
        len(list_filter(w, x -> list_contains(['el','los','las','es','y'], x)))     AS score_es,
        len(list_filter(w, x -> list_contains(['le','la','les','et','est'], x)))    AS score_fr,
        len(list_filter(w, x -> list_contains(['的','是','了','在','我'], x)))       AS score_zh
      FROM w64
    )
    SELECT doc_id, lang,
           CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
           CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
           CAST(score_zh AS INT) AS score_zh,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
                WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM sc
    """,
    doc="Marker-word heuristic language ID over the first 64 words.",
)
def p_text_lang_id(spark, sf_dir):
    from carbondata_spark.operators.text import with_lang_id

    return with_lang_id(t(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "score_de",
        "score_en",
        "score_es",
        "score_fr",
        "score_zh",
        "lang_pred",
    )


@register(
    "p_text_fingerprint",
    oracle=r"""
    WITH w AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w FROM documents)
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
           CAST(fmod((SELECT sum(length(w[i]) * pow(31.0, (i - 1) % 4))
                      FROM unnest(range(1, len(w) + 1)) AS t(i)), 2147483647.0) AS BIGINT) AS fp_roll
    FROM w
    """,
    doc="Document fingerprinting: md5 content key + polynomial rolling hash over words.",
)
def p_text_fingerprint(spark, sf_dir):
    from carbondata_spark.operators.text import with_fingerprint

    return with_fingerprint(t(spark, sf_dir, "documents")).select("doc_id", "fp_md5", "fp_roll")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "p_dedup_exact",
    oracle=r"""
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    headline=True,
    doc="Exact dedup (keep lowest doc_id per normalized-text md5 key).",
)
def p_dedup_exact(spark, sf_dir):
    from carbondata_spark.operators.dedup import dedup_exact

    return dedup_exact(t(spark, sf_dir, "documents")).select("doc_id", "n_chars")


@register(
    "p_dedup_ngram_jaccard",
    # The oracle applies the SAME max_shingle_freq=1000 stop-shingle cap
    # as the Spark operator (a shingle in > cap docs is dropped before
    # candidate generation AND per-doc counts), so both sides compute
    # identical capped semantics at ANY fixture size — not just while the
    # fixture stays under 1000 docs per shingle.
    oracle=f"""
    WITH {_SHINGLES_CTE},
    ok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN ok ON ok.s = sh.s),
    counts AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(inter::DOUBLE / (ca.c + cb.c - inter), 4) AS jaccard
    FROM pairs
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE inter::DOUBLE / (ca.c + cb.c - inter) >= 0.5
    """,
    doc="3-gram shingle Jaccard near-dup pairs (threshold 0.5) via "
    "inverted-index join; stop-shingles (doc-freq > 1000) capped "
    "identically on both sides.",
)
def p_dedup_ngram_jaccard(spark, sf_dir):
    from carbondata_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5)


_MINHASH_MH_CTE = (
    "mh AS (SELECT doc_id, "
    + ", ".join(
        f"min(substr(md5('{'a' if k < 4 else 'b'}:' || s), {1 + 8 * (k % 4)}, 8)) AS h{k}"
        for k in range(8)
    )
    + " FROM sh GROUP BY doc_id)"
)

_MINHASH_BANDS_CTE = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, h{2 * bi} || ',' || h{2 * bi + 1} AS bkey FROM mh"
        for bi in range(4)
    )
    + ")"
)


@register(
    "p_dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_MINHASH_MH_CTE},
    {_MINHASH_BANDS_CTE},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2)
    SELECT id_a, id_b, round(inter::DOUBLE / (ca.c + cb.c - inter), 4) AS jaccard
    FROM inter
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE inter::DOUBLE / (ca.c + cb.c - inter) >= 0.5
    """,
    headline=True,
    doc="MinHash(k=8, md5-based) + LSH(4 bands × 2) candidates, exact-Jaccard verified.",
)
def p_dedup_minhash_lsh(spark, sf_dir):
    from carbondata_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(t(spark, sf_dir, "documents"), threshold=0.5)


@register(
    "p_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_MINHASH_MH_CTE},
    {_MINHASH_BANDS_CTE},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2),
    p AS (SELECT id_a, id_b FROM inter
          JOIN counts ca ON ca.doc_id = id_a
          JOIN counts cb ON cb.doc_id = id_b
          WHERE inter::DOUBLE / (ca.c + cb.c - inter) >= 0.5),
    e AS (SELECT id_a AS v, id_b AS u FROM p UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT v, u FROM e
      UNION
      SELECT r.v, e.u FROM reach r JOIN e ON r.u = e.v
    )
    SELECT d.doc_id,
           CAST(least(d.doc_id, coalesce(min(r.u), d.doc_id)) AS BIGINT) AS group_id
    FROM documents d LEFT JOIN reach r ON r.v = d.doc_id
    GROUP BY d.doc_id
    """,
    doc="Near-dup GROUPS: MinHash-LSH pairs closed transitively into "
    "components (iterative min-label propagation; oracle = recursive CTE "
    "reachability), group_id = min doc_id of the cluster.",
)
def p_dedup_groups(spark, sf_dir):
    from carbondata_spark.operators.dedup import minhash_lsh_pairs, near_dup_groups

    docs = t(spark, sf_dir, "documents")
    return near_dup_groups(docs, minhash_lsh_pairs(docs, threshold=0.5))


# 64-bit SimHash as 4 × 16-bit band integers (band 0 = most-significant
# 16 bits = hex chars 1-4 of md5(word)); portable signed-overflow-free
# arithmetic in both engines. Mirrors operators/dedup.py simhash64.
_SIMHASH_SIG_CTE = f"""
dwords AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS wd
           FROM documents),
hv AS (SELECT doc_id,
              {_hex4_sql("md5(wd)", 1)} AS v0, {_hex4_sql("md5(wd)", 5)} AS v1,
              {_hex4_sql("md5(wd)", 9)} AS v2, {_hex4_sql("md5(wd)", 13)} AS v3
       FROM dwords),
bits AS (SELECT doc_id, b, j,
                sum(CASE WHEN ((CASE b WHEN 0 THEN v0 WHEN 1 THEN v1
                                       WHEN 2 THEN v2 ELSE v3 END)
                               // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                         THEN 1 ELSE -1 END) AS s
         FROM hv, unnest(range(4)) AS tb(b), unnest(range(16)) AS tj(j)
         GROUP BY doc_id, b, j),
bands AS (SELECT doc_id, b,
                 CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                      AS BIGINT) AS k
          FROM bits GROUP BY doc_id, b),
sig AS (SELECT doc_id,
               max(CASE WHEN b = 0 THEN k END) AS k0,
               max(CASE WHEN b = 1 THEN k END) AS k1,
               max(CASE WHEN b = 2 THEN k END) AS k2,
               max(CASE WHEN b = 3 THEN k END) AS k3
        FROM bands GROUP BY doc_id)
"""


@register(
    "p_dedup_simhash",
    oracle=f"""WITH {_SIMHASH_SIG_CTE}
    SELECT doc_id, printf('%04x%04x%04x%04x', k0, k1, k2, k3) AS simhash FROM sig""",
    doc="64-bit portable SimHash signature per document (16-hex-char form).",
)
def p_dedup_simhash(spark, sf_dir):
    from carbondata_spark.operators.dedup import simhash64

    return simhash64(t(spark, sf_dir, "documents")).select("doc_id", "simhash")


@register(
    "p_dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
              + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
        + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3
    """,
    doc="SimHash near-dup pairs (Hamming ≤ 3 over the 64-bit signature); "
    "Spark buckets on exact 16-bit bands (pigeonhole), oracle "
    "brute-forces — same result set.",
)
def p_dedup_simhash_pairs(spark, sf_dir):
    from carbondata_spark.operators.dedup import simhash_pairs

    return simhash_pairs(t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "p_sim_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                      round(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 6) AS cos
               FROM q JOIN embeddings e ON e.vec_id != query_id)
    SELECT query_id, neighbor_id, cos AS cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    headline=True,
    doc="Brute-force cosine top-10 for 5 query vectors (exact ANN baseline).",
)
def p_sim_topk_bruteforce(spark, sf_dir):
    from carbondata_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "p_sim_cosine_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
    """,
    doc="Embedding near-dup pairs: cosine ≥ 0.4 all-pairs.",
)
def p_sim_cosine_pairs(spark, sf_dir):
    from carbondata_spark.operators.similarity import cosine_pairs

    return cosine_pairs(t(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# Deduplication: near-duplicate keep-best
# ---------------------------------------------------------------------------


@register(
    "p_dedup_near_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_MINHASH_MH_CTE},
    {_MINHASH_BANDS_CTE},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2),
    p AS (SELECT id_a, id_b FROM inter
          JOIN counts ca ON ca.doc_id = id_a
          JOIN counts cb ON cb.doc_id = id_b
          WHERE inter::DOUBLE / (ca.c + cb.c - inter) >= 0.5),
    e AS (SELECT id_a AS v, id_b AS u FROM p UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT v, u FROM e
      UNION
      SELECT r.v, e.u FROM reach r JOIN e ON r.u = e.v
    ),
    groups AS (
      SELECT d.doc_id, d.n_chars,
             CAST(least(d.doc_id, coalesce(min(r.u), d.doc_id)) AS BIGINT) AS group_id
      FROM documents d LEFT JOIN reach r ON r.v = d.doc_id
      GROUP BY d.doc_id, d.n_chars
    ),
    ranked AS (
      SELECT group_id, doc_id,
             row_number() OVER (PARTITION BY group_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM groups
    )
    SELECT g.group_id,
           count(*) AS n_members,
           CAST(min(CASE WHEN rk.rn = 1 THEN rk.doc_id END) AS BIGINT) AS keep_id
    FROM groups g JOIN ranked rk ON rk.group_id = g.group_id AND rk.doc_id = g.doc_id
    GROUP BY g.group_id
    """,
    doc="End-to-end near-dedup policy (operators/dedup.py:"
    "near_dedup_keep_best): MinHash-LSH pairs -> connected components -> "
    "per-cluster quality-best survivor (max n_chars, ties to lowest id) "
    "via one map-side-combining max_by — no window over the corpus. "
    "Oracle = recursive-CTE reachability + window election.",
)
def p_dedup_near_keep_best(spark, sf_dir):
    from carbondata_spark.operators.dedup import minhash_lsh_pairs, near_dedup_keep_best

    docs = t(spark, sf_dir, "documents")
    return near_dedup_keep_best(docs, minhash_lsh_pairs(docs, threshold=0.5))
