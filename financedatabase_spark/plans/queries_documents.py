"""Training-data pipeline queries over `documents` / `embeddings`
(north-star beyond-reference surface: dedup, similarity search, text
analysis, multimodal plumbing).

Every hash-bearing oracle uses md5/sha256 (bit-identical across engines);
bit math uses div/mod; regex classes are the RE2∩Java common subset.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from financedatabase_spark.operators import dedup_docs as dd
from financedatabase_spark.operators import similarity as sim
from financedatabase_spark.operators import text as tx
from financedatabase_spark.operators.jpeg import synth_jpeg
from financedatabase_spark.operators.multimodal import (
    attach_media_meta,
    spread_ids,
    decode_features,
    dispatch_decode,
    fake_decode,
    synth_avi,
    synth_png,
    synth_wav,
)
from financedatabase_spark.plans.registry import register
from financedatabase_spark.sources.readers import load_table

# shared oracle CTE fragments ------------------------------------------------

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

_SHINGLES_CTE = f"""
    norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END)) AS shingle
      FROM toks
    )
"""


@register(
    "doc_stats",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
             len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
             len(regexp_extract_all(text, '[0-9]')) AS n_digit,
             len(regexp_extract_all(lower(text),
                 '\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as|at|by)\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           n_chars::BIGINT AS n_chars,
           n_tok::BIGINT AS n_tokens_ws,
           n_bpe::BIGINT AS n_tokens_bpe,
           CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
           CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stopword_ratio,
           0.25 * least(n_tok / 64.0, 1.0)
             + 0.25 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0, 1.0))
             + 0.25 * least((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 4.0, 1.0)
             + 0.25 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END) * 4.0, 1.0))
             AS quality
    FROM base
    """,
)
def doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — per-doc token counts (whitespace + BPE-ish regex),
    char-class ratios, stopword density, composite quality score. One scan,
    all codegen'd expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.doc_stats(docs).drop("lang_guess")


@register(
    "corpus_length_quantiles",
    oracle=r"""
    WITH base AS (
      SELECT source, n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      FROM documents
    )
    SELECT source,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
           round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
           round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens,
           count(*)::BIGINT AS n_docs
    FROM base GROUP BY source
    """,
)
def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length/token quantiles — where a curation pipeline
    reads its filter thresholds from. Exact `percentile` (both engines
    interpolate linearly, results rounded at 1e-6); at 100 TB swap in
    `approx_percentile` (t-digest sketch, one pass, mergeable) and keep
    this exact form as the small-sample oracle."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", F.col("n_chars").cast("double").alias("n_chars"),
        tx.ws_token_count("text").cast("double").alias("n_tokens"),
    )
    qs = [0.5, 0.9, 0.99]
    pct = lambda c, p, n: F.round(F.expr(f"percentile({c}, {p})"), 6).alias(n)  # noqa: E731
    return base.groupBy("source").agg(
        pct("n_chars", qs[0], "p50_chars"),
        pct("n_chars", qs[1], "p90_chars"),
        pct("n_chars", qs[2], "p99_chars"),
        pct("n_tokens", qs[0], "p50_tokens"),
        pct("n_tokens", qs[1], "p90_tokens"),
        pct("n_tokens", qs[2], "p99_tokens"),
        F.count("*").alias("n_docs"),
    )


@register(
    "winnow_overlap_pairs",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(words) >= 3
                  THEN list_transform(generate_series(1, len(words) - 2),
                                      i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                  ELSE [] END AS h
      FROM w
    ),
    fps AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(h) >= 4
             THEN list_transform(generate_series(1, len(h) - 3),
                                 i -> list_min(h[i:i+3]))
             ELSE h END)) AS fp
      FROM grams
    ),
    rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64
    ),
    kept AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
    pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*)::BIGINT AS shared_fingerprints
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc1, doc2, shared_fingerprints FROM pairs WHERE shared_fingerprints >= 5
    """,
)
def winnow_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (operators/text.winnow_overlap_pairs,
    k=3 w=4): shared-passage detection that complements whole-document
    MinHash — any common 6-word run is guaranteed a shared fingerprint.
    Boilerplate fingerprints (doc frequency > 64) are dropped before
    pairing so posting lists stay bounded. DuckDB list slicing
    `h[i:i+3]` is INCLUSIVE of both ends (4 elements) — matching
    Spark's slice(h, i, 4)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnow_overlap_pairs(docs)


@register(
    "repetition_stats",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, words[i] || ' ' || words[i + 1] AS gram
      FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i)
      WHERE len(words) >= 3
    ),
    g3 AS (
      SELECT doc_id, words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS gram
      FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i)
      WHERE len(words) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    s2 AS (
      SELECT doc_id,
             sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)::DOUBLE
               / sum(c * length(gram)) AS dup2_frac,
             max(c * length(gram))::DOUBLE / sum(c * length(gram)) AS top2_frac
      FROM c2 GROUP BY doc_id
    ),
    s3 AS (
      SELECT doc_id,
             sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)::DOUBLE
               / sum(c * length(gram)) AS dup3_frac,
             max(c * length(gram))::DOUBLE / sum(c * length(gram)) AS top3_frac
      FROM c3 GROUP BY doc_id
    )
    SELECT s2.doc_id, dup2_frac, top2_frac, dup3_frac, top3_frac
    FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher §A1.1): fraction of
    n-gram characters in duplicated {2,3}-grams and under the single
    most-repeated n-gram. Computed entirely inside the row — sorted
    gram list + one higher-order fold per n — so the corpus pays one
    scan with zero shuffle; the oracle re-derives the same Σc(g)·L(g)
    sums via unnest + GROUP BY. Docs shorter than 3 words carry no
    3-gram signal and are excluded on both sides. Uses the staged gram
    builder (tx.with_ngram_repetition) so the split runs once per row."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(tx.normalized_text("text"), " ")
    return tx.with_ngram_repetition(
        docs.filter(F.size(words) >= 3).select("doc_id", "text"), "text", (2, 3)
    ).drop("text")


@register(
    "lang_id",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[一-鿿]')) AS zh,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with)\b')) AS en,
             len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit)\b')) AS de,
             len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|est|pour|dans)\b')) AS fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN zh > 0 THEN 'zh'
                WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es > 0 AND es > en AND es >= de AND es >= fr THEN 'es'
                WHEN de > 0 AND de > en AND de > es AND de >= fr THEN 'de'
                WHEN fr > 0 AND fr > en AND fr > es AND fr > de THEN 'fr'
                ELSE 'und' END AS lang_guess
    FROM h
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: CJK presence, else argmax of per-language
    marker-stopword hits with priority tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id("text").alias("lang_guess"))


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_shingles,
             min(md5(shingle)) AS min_shingle_hash,
             max(md5(shingle)) AS max_shingle_hash
      FROM sh GROUP BY doc_id
    )
    SELECT n.doc_id, md5(n.t) AS content_hash,
           coalesce(a.n_shingles, 0) AS n_shingles,
           a.min_shingle_hash, a.max_shingle_hash
    FROM norm n LEFT JOIN agg a ON n.doc_id = a.doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content hash + min-wise shingle
    sketch (winnowing-style extremal hashes); staged gram source."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.with_fingerprint(docs.select("doc_id", "text"), "text").drop("text")


@register(
    "exact_dedup",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents)
    SELECT md5(t) AS content_hash,
           min(doc_id) AS keep_id,
           count(*)::BIGINT AS n_copies
    FROM norm GROUP BY md5(t)
    """,
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, keep lowest id.
    One shuffle on a 32-char key at any corpus size."""
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_dups",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc1, doc2, i / (s1.sz + s2.sz - i) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE i / (s1.sz + s2.sz - i) >= 0.2
    """,
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (exact): shingle-equality join +
    group count. The correctness baseline the sketch methods verify
    against — quadratic worst case, NOT the 100 TB path."""
    sh = dd.shingle_table(load_table(spark, sf_dir, "documents"))
    return dd.jaccard_pairs(sh, threshold=0.2)


from financedatabase_spark.operators.dedup_docs import MINHASH_P, _minhash_coeffs  # noqa: E402

_V28 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(shingle), {i + 1}, 1)) - 1) * {16 ** (6 - i)}"
    for i in range(7)
)
_SIG_MINS = ",\n             ".join(
    "min(({a} * v + {b}) % {p}) AS h{i}".format(
        a=_minhash_coeffs(i)[0], b=_minhash_coeffs(i)[1], p=MINHASH_P, i=i
    )
    for i in range(16)
)
_BAND_SELECTS = "\n      UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({expr}) AS key FROM sigs".format(
        b=b,
        expr=" || '|' || ".join(f"h{b * 4 + r}::VARCHAR" for r in range(4)),
    )
    for b in range(4)
)


#: Shared MinHash->LSH->verify pairs pipeline as a WITH-body: signatures,
#: capped band candidates (star for buckets > 64), exact-Jaccard verify.
#: Final CTE `mh_pairs` = (doc1, doc2, jaccard >= 0.2).
_MINHASH_PAIRS_WITH = f"""{_SHINGLES_CTE},
    vals AS (
      SELECT doc_id, ({_V28})::BIGINT AS v FROM sh
    ),
    sigs AS (
      SELECT doc_id,
             {_SIG_MINS}
      FROM vals GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    bstats AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep FROM bands GROUP BY 1, 2),
    cands AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      JOIN bstats s ON s.band = a.band AND s.key = a.key
      WHERE s.n <= 64
      UNION
      SELECT s.rep AS doc1, a.doc_id AS doc2
      FROM bands a JOIN bstats s ON s.band = a.band AND s.key = a.key
      WHERE s.n > 64 AND a.doc_id > s.rep
    ),
    shl AS (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id),
    mh_pairs AS (
      -- intersections ONLY for band-colliding candidates, via list
      -- intersection per pair (shingles are distinct per doc) — the
      -- previous shingle-equality self-join computed |A∩B| for EVERY
      -- co-shingled pair and went quadratic at verification scale
      SELECT doc1, doc2, i / (sz1 + sz2 - i) AS jaccard
      FROM (
        SELECT c.doc1, c.doc2,
               len(list_intersect(s1.shs, s2.shs)) AS i,
               len(s1.shs) AS sz1, len(s2.shs) AS sz2
        FROM cands c
        JOIN shl s1 ON s1.doc_id = c.doc1
        JOIN shl s2 ON s2.doc_id = c.doc2
      )
      WHERE i / (sz1 + sz2 - i) >= 0.2
    )"""


@register(
    "minhash_lsh_dups",
    oracle=f"""
    WITH {_MINHASH_PAIRS_WITH}
    SELECT doc1, doc2, jaccard FROM mh_pairs
    """,
)
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection — the scale path: 16 min-wise
    hashes, 4 bands; only band-colliding pairs are verified with exact
    Jaccard. No all-pairs join ever materializes."""
    return dd.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        threshold=0.2,
    )


_BITSUM_COLS = ",\n             ".join(
    f"sum(CASE WHEN (v // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(32)
)
_SIG_SUM = " + ".join(f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(32))
_NIBBLE_VAL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)
_SIMHASH_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band, (simhash // {2 ** (8 * b)}) % 256 AS key FROM sigs"
    for b in range(4)
)


@register(
    "simhash_near_dups",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM norm),
    hashed AS (SELECT doc_id, md5(token) AS h FROM toks),
    vals AS (SELECT doc_id, ({_NIBBLE_VAL})::BIGINT AS v FROM hashed),
    bitsums AS (
      SELECT doc_id,
             {_BITSUM_COLS}
      FROM vals GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, ({_SIG_SUM})::BIGINT AS simhash FROM bitsums),
    bands AS (
      {_SIMHASH_BANDS}
    ),
    bstats AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep FROM bands GROUP BY 1, 2),
    cands AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             a.simhash AS sh1, b.simhash AS sh2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      JOIN bstats s ON s.band = a.band AND s.key = a.key
      WHERE s.n <= 64
      UNION
      SELECT s.rep AS doc1, a.doc_id AS doc2, r.simhash AS sh1, a.simhash AS sh2
      FROM bands a
      JOIN bstats s ON s.band = a.band AND s.key = a.key
      JOIN bands r ON r.band = s.band AND r.key = s.key AND r.doc_id = s.rep
      WHERE s.n > 64 AND a.doc_id > s.rep
    )
    SELECT doc1, doc2, bit_count(xor(sh1, sh2))::BIGINT AS hamming
    FROM cands
    WHERE bit_count(xor(sh1, sh2)) <= 3
    """,
)
def simhash_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit majority signature, byte-banded LSH
    candidates, Hamming ≤ 3 verification via bit_count(xor)."""
    return dd.simhash_near_dups(load_table(spark, sf_dir, "documents"), max_hamming=3)


# --------------------------------------------------------------------------
# embedding similarity
# --------------------------------------------------------------------------

_COS = (
    "round(list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)"
)


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.query_id, c.corpus_id, {_COS} AS score
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, corpus_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, corpus_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, corpus_id, score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline — brute-force cosine top-5 for a probe
    set against the whole corpus. Scores rounded to 1e-6 so float ties
    rank identically across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return sim.cosine_topk(queries, corpus, k=5)


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id AS anchor_id, label, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS corpus_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.anchor_id, c.corpus_id, c.label AS neg_label, {_COS} AS score
      FROM q JOIN c ON q.label <> c.label
    ),
    ranked AS (
      SELECT anchor_id, corpus_id, neg_label, score,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY score DESC, corpus_id ASC) AS rank
      FROM scored WHERE score >= 0.0e0
    )
    SELECT anchor_id, corpus_id, neg_label, score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.hard_negative_mining): per anchor, the 5
    most-similar corpus vectors with a DIFFERENT label, floored at
    cosine >= 0 (the semi-hard band's easy-negative cut). Anchors are
    the bounded probe set (vec_id < 8, the same convention as the
    brute-force cosine baseline — a mining anchor set is small by
    design); anchors broadcast, the corpus is scored map-side in one
    pass, so cost stays anchors x corpus, linear in the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"), "label", "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    return sim.hard_negative_mining(anchors, corpus, k=5, min_score=0.0)


@register(
    "embedding_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id AS corpus_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.query_id, c.corpus_id, {_COS} AS score
      FROM q JOIN c ON q.label = c.label
    ),
    ranked AS (
      SELECT query_id, corpus_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, corpus_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, corpus_id, score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN — coarse-quantizer cell (label) restricts each probe
    to its cell: cross join becomes a partition-prunable equi-join, the
    FAISS IVF-Flat shape expressed relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    return sim.ivf_topk(queries, corpus, k=5)


@register(
    "embedding_near_dups",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id1, id2, cosine FROM pairs WHERE cosine >= 0.4
    """,
)
def embedding_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by cluster cell so
    the pair join never goes all-pairs. (Threshold 0.4 fits the synthetic
    corpus's similarity range; production near-dup would use ~0.95.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_dups(emb, threshold=0.4)


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


@register(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) ::BIGINT AS n_bytes,
           lower(sha256(text)) AS sha256
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing — binary payload + typed metadata struct
    (size, content hash), all JVM-side expressions. The payload here is
    the utf-8 text bytes standing in for image bytes; the schema and
    lineage are what a real media table uses."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    with_meta = attach_media_meta(docs)
    return with_meta.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents
    ),
    bytes AS (
      SELECT doc_id, n,
             ((strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1))-1)*16
              + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1))-1)) AS byte
      FROM b, UNNEST(generate_series(1, n)) AS t(i)
    ),
    hist AS (SELECT doc_id, byte * 8 // 256 AS pos, count(*) AS c FROM bytes GROUP BY 1, 2),
    grid AS (SELECT doc_id, n, unnest(generate_series(0, 7)) AS pos FROM b)
    SELECT g.doc_id, g.n::BIGINT AS n_bytes, g.pos::INT AS pos,
           coalesce(h.c, 0) / greatest(g.n, 1) AS x
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.pos = g.pos
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract stage over mapInPandas with the
    deterministic stand-in codec (real codecs are stubbed — none exist in
    this container). Exercises the Arrow batch contract end-to-end.

    The feature vector is exploded to scalar (doc_id, pos, x) rows so the
    result schema carries no array columns (hash-canonicalizable). The
    stand-in codec is a normalized byte histogram, so the oracle can
    recompute it byte-for-byte from the hex encoding — int/int division
    on identical operands is bit-equal across engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    feats = decode_features(docs, decode_fn=fake_decode)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("feature").alias("pos", "x"),
    )


def _synth_decode_features(
    spark: SparkSession,
    sf_dir: str,
    synth: Callable[[int], bytes],
    media_type: str,
    label: str | Column,
    names: tuple[str, str],
) -> DataFrame:
    """Shared body of the synthesized-media feature queries: each doc_id
    gets the deterministic payload ``synth(doc_id)`` tagged ``media_type``,
    `dispatch_decode` turns it into the 8-slot feature vector, and the
    vector is exploded to scalar rows (doc_id, ``label``, *``names``) so
    the result schema carries no array columns (hash-canonicalizable).

    Scale shape: scan → mapInPandas synth → mapInPandas decode →
    posexplode; one id-only shuffle (spread_ids) before synth so decode
    parallelizes — payloads themselves never shuffle."""
    import pandas as _pd

    docs = spread_ids(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches: Iterator[_pd.DataFrame]) -> Iterator[_pd.DataFrame]:
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(lambda i: synth(int(i))),
                    "media_type": media_type,
                }
            )

    media = docs.mapInPandas(gen, "doc_id long, payload binary, media_type string")
    feats = decode_features(media, decode_fn=dispatch_decode, pass_media_type=True)
    return feats.select("doc_id", label, F.posexplode("feature").alias(*names))


@register(
    "multimodal_audio_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 400 + doc_id % 257 AS n FROM documents
    ),
    s AS (
      -- per-variant sample term (doc%8): 0/3 = 16-bit mono, 1 = 16-bit
      -- stereo mono-mixed with truncation toward zero, 2 = unsigned
      -- 8-bit centered at 128, 4 = 24-bit mono, 5 = 32-bit mono,
      -- 6 = IEEE float32 mono (16-bit term over 2^15: dyadic, exact),
      -- 7 = G.711 MU-LAW mono (segmented expansion of the complemented
      -- byte u = 255 - m: |sample| = ((u%16)*8 + 132) << ((u//16)%8)
      -- - 132, the same magnitude for either sign)
      SELECT doc_id, n, i AS t,
             CASE doc_id % 8
               WHEN 1 THEN abs(trunc((
                 (((doc_id * 7919 + i * 104729) % 65536) - 32768)
                 + (((doc_id * 104729 + i * 7919) % 65536) - 32768)
               ) / 2.0e0)::BIGINT)::DOUBLE
               WHEN 2 THEN abs(((doc_id * 7919 + i * 104729) % 256) - 128)::DOUBLE
               WHEN 4 THEN abs(((doc_id * 7919 + i * 104729) % 16777216) - 8388608)::DOUBLE
               WHEN 5 THEN abs(((doc_id * 7919 + i * 104729) % 4294967296) - 2147483648)::DOUBLE
               WHEN 6 THEN abs(((doc_id * 7919 + i * 104729) % 65536) - 32768)::DOUBLE / 32768.0e0
               WHEN 7 THEN (
                 (((255 - (doc_id * 7919 + i * 104729) % 256) % 16) * 8 + 132)
                 * (1 << (((255 - (doc_id * 7919 + i * 104729) % 256) // 16) % 8))
                 - 132)::DOUBLE
               ELSE abs(((doc_id * 7919 + i * 104729) % 65536) - 32768)::DOUBLE
             END AS a
      FROM d, UNNEST(generate_series(0, n - 1)) AS u(i)
    )
    SELECT doc_id,
           (CASE WHEN doc_id % 8 IN (6, 7) THEN 58 ELSE 44 END
            + n * CASE doc_id % 8 WHEN 1 THEN 4 WHEN 2 THEN 1 WHEN 4 THEN 3
                                  WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 1
                                  ELSE 2 END)::BIGINT
             AS n_bytes,
           ((t * 8) // n)::INT AS win,
           sum(a)::DOUBLE AS abs_sum
    FROM s GROUP BY doc_id, n, (t * 8) // n
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the REAL stdlib-`wave` codec
    (operators/multimodal.wav_decode via dispatch_decode) over a MIXED
    corpus keyed by doc%8 — every PCM width the WAV spec allows plus
    IEEE float and G.711: 16-bit mono, 16-bit STEREO (the codec must
    mono-mix, truncating toward zero), unsigned 8-BIT (centered at
    128), 24-BIT (3-byte two's complement), 32-BIT, FLOAT32 (format
    tag 3), and MU-LAW (format tag 7, the G.711 segmented expansion —
    validated byte-for-byte against audioop's table). Non-PCM tags are
    rejected by stdlib `wave`, so the RIFF fallback parser decodes
    them; their containers carry the spec-faithful 18-byte fmt + fact
    chunks, 58 header bytes vs PCM's 44. Samples are a pure integer
    function of doc_id per variant (the float fixture is dyadic, so
    features stay exact). The codec must parse the header, decode the
    frames at the declared width, and emit 8 windowed |amplitude| sums.
    The oracle recomputes the features from doc_id by the per-variant
    formula — and checks the container round-trip via n_bytes = header
    + frame bytes (2n / 4n / n / 3n / 4n / 4n / n by variant)."""
    return _synth_decode_features(
        spark, sf_dir, synth_wav, "audio/wav", "n_bytes", ("win", "abs_sum")
    )


@register(
    "multimodal_video_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS n FROM documents WHERE doc_id % 2 = 0
    ),
    fr AS (
      SELECT doc_id, n, f
      FROM d, UNNEST(generate_series(0, n - 1)) uf(f)
    ),
    fs AS (
      SELECT doc_id, n, f,
             sum((doc_id*31 + f*97 + y*13 + x*7 + c*5) % 256)::BIGINT AS fsum
      FROM fr,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 15)) ux(x),
           UNNEST(generate_series(0, 2)) uc(c)
      GROUP BY doc_id, n, f
    ),
    dib AS (
      SELECT doc_id,
             (224 + 776 * n)::BIGINT AS n_bytes,
             ((f * 8) // n)::INT AS win,
             sum(fsum)::DOUBLE AS lum_sum
      FROM fs GROUP BY doc_id, n, (f * 8) // n
    ),
    md AS (
      SELECT doc_id, 6 + doc_id % 4 AS n FROM documents WHERE doc_id % 2 = 1
    ),
    mfs AS (
      SELECT doc_id, n, f,
             64 * sum((6*(doc_id*13 + f)*17 + by*31 + bx*7) % 251 + 2)::BIGINT AS fsum
      FROM md,
           UNNEST(generate_series(0, n - 1)) uf(f),
           UNNEST(generate_series(0, 1)) uby(by),
           UNNEST(generate_series(0, 1)) ubx(bx)
      GROUP BY doc_id, n, f
    ),
    mgrid AS (
      SELECT doc_id, n, unnest(generate_series(0, 7)) AS win FROM md
    ),
    mjpg AS (
      -- 6/7-frame docs leave trailing windows EMPTY: the decoder emits
      -- zeros there, so the oracle builds the full window grid
      SELECT g.doc_id,
             (224 + 520 * g.n)::BIGINT AS n_bytes,
             g.win::INT AS win,
             coalesce(s.lum, 0)::DOUBLE AS lum_sum
      FROM mgrid g LEFT JOIN (
        SELECT doc_id, (f * 8) // n AS win, sum(fsum) AS lum
        FROM mfs GROUP BY 1, 2
      ) s ON s.doc_id = g.doc_id AND s.win = g.win
    )
    SELECT * FROM dib UNION ALL SELECT * FROM mjpg
    """,
)
def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video feature extraction through the REAL pure-stdlib AVI codec
    (operators/multimodal.avi_decode via dispatch_decode) over a MIXED
    corpus: EVEN doc_ids get an uncompressed 24-bit DIB AVI (synth_avi,
    ``00db`` chunks, 8..12 frames of raw pixel bytes), ODD doc_ids an
    MJPEG AVI (synth_avi_mjpeg, fccHandler/biCompression 'MJPG',
    ``00dc`` chunks, 6..9 frames — each a complete 16x16 grayscale JPEG
    that ALTERNATES baseline-with-restart-markers and progressive (SOF2)
    containers, decoded through operators/jpeg.jpeg_planes with the SOF
    geometry validated against the container geometry). The codec must
    walk the chunk tree, route on the strf compression fourcc, and emit
    8 windowed per-frame pixel-sum features. The oracle recomputes both
    variants from doc_id by integer formula (the MJPEG fixtures' u=4
    ripple sums to zero per block row, leaving the DC base values) — and
    checks both container round-trips via n_bytes: 224 + 776/frame for
    DIB, 224 + 520/frame for MJPEG (frames padded to MJPEG_FRAME_CAP)."""
    from financedatabase_spark.operators.multimodal import synth_avi_mjpeg

    def synth(doc_id: int) -> bytes:
        return synth_avi(doc_id) if doc_id % 2 == 0 else synth_avi_mjpeg(doc_id)

    return _synth_decode_features(
        spark, sf_dir, synth, "video/avi", "n_bytes", ("win", "lum_sum")
    )


@register(
    "multimodal_video_dib_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS n, doc_id % 4 AS variant
      FROM documents
    ),
    px AS (
      SELECT doc_id, n, variant, f,
             (doc_id*31 + f*97 + r*13 + x*7) % 256 AS raw,
             CASE WHEN r = 5 AND x < 4 THEN 0
                  ELSE (doc_id*31 + f*97 + r*13 + (x // 4) * 7) % 256
             END AS ridx,
             CASE WHEN r = 5 AND x < 4 THEN 0
                  ELSE (doc_id*31 + f*97 + r*13 + (x // 4) * 7) % 16
             END AS ridx4
      FROM d,
           UNNEST(generate_series(0, n - 1)) uf(f),
           UNNEST(generate_series(0, 15)) ur(r),
           UNNEST(generate_series(0, 15)) ux(x)
    ),
    s AS (
      SELECT doc_id, n, variant, f,
             CASE variant
               WHEN 0 THEN ((doc_id*7 + raw*3) % 256)
                           + ((doc_id*11 + raw*5) % 256)
                           + ((doc_id*13 + raw*7) % 256)
               WHEN 1 THEN raw + ((raw + 5) % 256) + ((raw + 10) % 256)
               WHEN 2 THEN ((doc_id*7 + ridx*3) % 256)
                           + ((doc_id*11 + ridx*5) % 256)
                           + ((doc_id*13 + ridx*7) % 256)
               ELSE ((doc_id*7 + ridx4*3) % 256)
                    + ((doc_id*11 + ridx4*5) % 256)
                    + ((doc_id*13 + ridx4*7) % 256)
             END AS sv
      FROM px
    )
    SELECT doc_id, variant::INT AS variant, ((f * 8) // n)::INT AS win,
           sum(sv)::DOUBLE AS px_sum
    FROM s GROUP BY doc_id, variant, n, (f * 8) // n
    """,
)
def multimodal_video_dib_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video features through the NON-24-bit DIB pixel formats of the
    pure-stdlib AVI codec (operators/multimodal.synth_avi_dib /
    avi_decode): doc%4 cycles 8-bit PALETTIZED frames (indices expanded
    through the strf RGBQUAD palette), 32-bit BI_RGB (B,G,R summed, the
    0xAA reserved byte skipped — summing it cannot match), BI_RLE8, and
    BI_RLE4 (nibble-packed over a 16-color palette) run-length frames
    mixing encoded runs, absolute-mode runs, per-row end-of-line
    escapes, and one DELTA escape whose skipped pixels decode as index
    0 (see `_decode_rle8`/`_decode_rle4`). The oracle recomputes every
    per-frame palette-expanded pixel sum from the fixture formulas, so
    wrong palette routing, reserved-byte leakage, or any RLE walk error
    (run placement, absolute-mode padding, delta zero-fill) mismatches."""
    from financedatabase_spark.operators.multimodal import synth_avi_dib

    return _synth_decode_features(
        spark, sf_dir, synth_avi_dib, "video/avi",
        (F.col("doc_id") % 4).cast("int").alias("variant"), ("win", "px_sum"),
    )


@register(
    "multimodal_image_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 8 + (doc_id % 3) * 4 AS w FROM documents
    ),
    px AS (
      SELECT doc_id, w,
             (((doc_id*17 + y*31 + x*7) % 256) * 8) // 256 AS bin
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, bin, count(*) AS c FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
           coalesce(h.c, 0) / (g.w * 16) AS x
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction through the REAL pure-stdlib PNG codec
    (operators/multimodal.png_decode via dispatch_decode): each doc gets
    a deterministic spec-valid PNG (synth_png — a doc%8 layout mix over
    every color type and depth the spec defines: gray / palette / Adam7
    gray / RGB / gray+alpha / RGBA / 16-bit gray / 16-bit RGBA, all with
    the SAME luma per pixel; width varying 8/12/16 by doc so geometry
    must come from IHDR, and every fixture cycles through ALL FIVE
    scanline filters), and the codec
    must parse the chunk stream, inflate IDAT, invert the filters, and
    emit the 8-bin normalized luminance histogram. The oracle recomputes
    the histogram from the pixel-synthesis formula — a decoder that
    mis-parses geometry or shortcuts the un-filter step cannot match."""
    return _synth_decode_features(
        spark, sf_dir, synth_png, "image/png",
        (F.col("doc_id") % 3 * 4 + 8).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w FROM documents
    ),
    px AS (
      SELECT doc_id, w,
             (((doc_id*17 + (y // 8)*31 + (x // 8)*7) % 251 + 2)
              + CASE WHEN y >= 8
                     THEN ((doc_id + (x // 8)) % 5 - 2)
                          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                     ELSE 0 END) AS p
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (p * 8) // 256 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d),
    lum AS (
      SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
             coalesce(h.c, 0) / (g.w * 16) AS x
      FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    ),
    cpx AS (
      SELECT doc_id, w, xi
      FROM d, UNNEST(generate_series(0, w - 1)) ux(xi)
      WHERE doc_id % 2 = 1
    ),
    chroma AS (
      -- chroma cell geometry by variant (doc_id % 8): 1/3 = 4:2:0 (cell
      -- 16x16 -> one cy row at h=16), 5 = 4:2:2 (16x8 -> cy in {0,1}),
      -- 7 = 4:4:4 (8x8 -> cy in {0,1})
      SELECT doc_id, w::BIGINT AS width, 8 AS pos,
             (sum(CASE
               WHEN doc_id % 8 = 5 THEN
                 8 * (((doc_id*29 + (xi // 16)*13) % 251 + 2)
                    + ((doc_id*29 + (xi // 16)*13 + 11) % 251 + 2))
               WHEN doc_id % 8 = 7 THEN
                 8 * (((doc_id*29 + (xi // 8)*13) % 251 + 2)
                    + ((doc_id*29 + (xi // 8)*13 + 11) % 251 + 2))
               ELSE 16 * ((doc_id*29 + (xi // 16)*13) % 251 + 2)
             END))::DOUBLE / (w * 16) AS x
      FROM cpx GROUP BY doc_id, w
      UNION ALL
      SELECT doc_id, w::BIGINT AS width, 9 AS pos,
             (sum(CASE
               WHEN doc_id % 8 = 5 THEN
                 8 * (((doc_id*23 + (xi // 16)*7) % 251 + 2)
                    + ((doc_id*23 + (xi // 16)*7 + 19) % 251 + 2))
               WHEN doc_id % 8 = 7 THEN
                 8 * (((doc_id*23 + (xi // 8)*7) % 251 + 2)
                    + ((doc_id*23 + (xi // 8)*7 + 19) % 251 + 2))
               ELSE 16 * ((doc_id*23 + (xi // 16)*7) % 251 + 2)
             END))::DOUBLE / (w * 16) AS x
      FROM cpx GROUP BY doc_id, w
    )
    SELECT doc_id, width, pos, x FROM lum
    UNION ALL
    SELECT doc_id, width, pos::INT AS pos, x FROM chroma
    """,
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction through the REAL pure-stdlib JPEG codec
    (operators/jpeg.jpeg_decode via dispatch_decode) over a MIXED
    corpus: even doc_ids get a grayscale JPEG, odd ones a 4:2:0 YCbCr
    JPEG, and within each parity every other doc (doc_id % 4 in (2, 3))
    ships as a PROGRESSIVE (SOF2) container of the same pixel content —
    spectral-selection band scans, successive approximation on DC and
    AC, AC refinement correction bits, cross-block EOBn runs
    (synth_jpeg — width varying 16/24/32 so geometry must come from the
    SOF, DC prediction across blocks and components, a mid-run AC
    coefficient with negative values, per-position and per-table
    dequantization, interleaved-MCU deinterleave with a padded MCU
    column at width 24 — whose progressive AC scans use the SMALLER
    non-interleaved grid, 2x2 chroma upsampling, restart intervals on a
    third of each parity — DRI + byte-aligned RSTn markers with
    per-component predictor resets, rebound mid-stream to 0 after the
    progressive DC scan per T.81 E.2.4 — and 0xFF byte stuffing in most
    fixtures). The container mix changes NO pixel: the oracle formula is
    identical for all four variants. The coefficient patterns are chosen so
    the lossy pipeline is exactly invertible (constant blocks + the
    ±1-integral u=4 basis), which lets the oracle recompute the 8-bin
    luminance histogram — and, for the color docs, the mean-Cb/mean-Cr
    features at pos 8/9 — from the synthesis formula. A decoder that
    mis-parses Huffman tables, the zigzag, the MCU interleave, or either
    quant table cannot match."""
    return _synth_decode_features(
        spark, sf_dir, synth_jpeg, "image/jpeg",
        (F.col("doc_id") % 3 * 8 + 16).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_lossless_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w FROM documents
    ),
    px AS (
      SELECT doc_id, w, (doc_id*31 + y*17 + x*7) % 256 AS p
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (p * 8) // 256 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
           coalesce(h.c, 0) / (g.w * 16) AS x
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    """,
)
def multimodal_jpeg_lossless_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the LOSSLESS JPEG process (SOF3, T.81
    Annex H — operators/jpeg.assemble_jpeg_lossless /
    synth_jpeg_lossless): every doc ships a single-component SOF3
    container whose predictor selector cycles 1 + doc%7 — ALL SEVEN
    Annex H predictors across the corpus — with DC-category-coded
    differences under a dedicated 17-symbol table, modulo-2^16
    reconstruction, and widths 16/24/32 so geometry comes from the SOF.
    The process is lossless, so the decoded plane equals
    pixel(y, x) = (doc_id*31 + y*17 + x*7) % 256 EXACTLY and the oracle
    recomputes the 8-bin luminance histogram straight from that formula
    — no quantization model. A decoder that mis-parses any predictor,
    the boundary prediction rules (first line Ra, first column Rb,
    first sample 2^(P-1)), or the difference coding cannot match."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_lossless

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_lossless, "image/jpeg",
        (F.col("doc_id") % 3 * 8 + 16).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg12_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w FROM documents
    ),
    blk AS (
      SELECT doc_id, w,
             (doc_id * 29) % 3000 - 1500 + (b * 37 + doc_id) % 500 + 2048 AS p
      FROM d, UNNEST(generate_series(0, (w // 8) * 2 - 1)) ub(b)
    ),
    hist AS (SELECT doc_id, w, (p * 8) // 4096 AS bin, 64 * count(*) AS c
             FROM blk GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
           coalesce(h.c, 0) / (g.w * 16) AS x
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    """,
)
def multimodal_jpeg12_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-image features through the 12-BIT extended-sequential JPEG
    path (SOF1 at precision 12 — operators/jpeg.synth_jpeg12 /
    jpeg_decode): DC-only constant blocks whose dequantized IDCT
    is exactly dc + 2048 (quantizer 8 at DC, level shift 2^11), pixels
    spanning [548, 4047] of the 12-bit range, histogram binned by
    v*8 // 4096. The decoder must honor the SOF precision in the level
    shift and clamp — an 8-bit-assuming decoder clamps everything to
    255 and lands the whole mass in bin 0. The oracle recomputes the
    deep histogram from the block formula."""
    from financedatabase_spark.operators.jpeg import synth_jpeg12

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg12, "image/jpeg",
        (F.col("doc_id") % 3 * 8 + 16).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_exotic_features",
    oracle="""
    WITH d AS (
      -- doc%5 sampling cycle: (Y hs, Y vs, chroma hs) with 1x1 chroma
      -- except variant 4 = 3x1 Y against 2x1 chroma (fractional 3/2)
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w,
             CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 1
                             WHEN 3 THEN 4 ELSE 3 END AS hs,
             CASE doc_id % 5 WHEN 2 THEN 3 WHEN 3 THEN 2 ELSE 1 END AS vs,
             CASE doc_id % 5 WHEN 4 THEN 2 ELSE 1 END AS chs
      FROM documents
    ),
    px AS (
      -- chroma cell indices follow the A.1.1 sample-grid map
      -- (x*chs // hs) // 8 — for 1x1 chroma that is x // (8*hs); the
      -- fractional variant reads (x*2 // 3) // 8
      SELECT doc_id, w, hs, vs, x, y,
             (((doc_id*17 + (y // 8)*31 + (x // 8)*7) % 251 + 2)
              + CASE WHEN y >= 8
                     THEN ((doc_id + (x // 8)) % 5 - 2)
                          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                     ELSE 0 END) AS p,
             ((x * chs) // hs) // 8 AS ccx,
             (y // vs) // 8 AS ccy
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (p * 8) // 256 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d),
    lum AS (
      SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
             coalesce(h.c, 0) / (g.w * 16) AS x
      FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    ),
    chroma AS (
      SELECT doc_id, w::BIGINT AS width, 8 AS pos,
             sum((doc_id*29 + ccx*13 + ccy*11) % 251 + 2
                 )::DOUBLE / (w * 16) AS x
      FROM px GROUP BY doc_id, w
      UNION ALL
      SELECT doc_id, w::BIGINT AS width, 9 AS pos,
             sum((doc_id*23 + ccx*7 + ccy*19) % 251 + 2
                 )::DOUBLE / (w * 16) AS x
      FROM px GROUP BY doc_id, w
    )
    SELECT doc_id, width, pos, x FROM lum
    UNION ALL
    SELECT doc_id, width, pos::INT AS pos, x FROM chroma
    """,
)
def multimodal_jpeg_exotic_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the EXOTIC sampling grids (operators/jpeg
    .synth_jpeg_exotic): the sampling cycles 3x1 / 4:1:1 (4x1) / 1x3 /
    4x2 (the 10-block-MCU maximum) against 1x1 chroma, PLUS the
    NON-INTEGER-ratio layout 3x1 Y against 2x1 chroma (replication
    ratio 3/2 — fractional upsampling via the A.1.1 sample-grid map
    x -> x*chs//hs), by doc%5 — T.81-legal layouts real capture
    hardware emits that most toy decoders reject. The luma pixel
    formula is the SAME as the standard color mix (the walk is
    sampling-generic), and the chroma means at pos 8/9 follow the
    per-variant cell geometry val((x*chs//hs) // 8, (y//vs) // 8) — a
    decoder replicating at the wrong (or integer-floored) ratio or
    walking the wrong MCU shape cannot match. The scan layout cycles
    (doc%20//5) over all THREE sequential layouts of the same pixels —
    fully interleaved, non-interleaved, and PARTIALLY interleaved
    (Y-only scan + one Cb+Cr subset scan, T.81 A.2.3)."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_exotic

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_exotic, "image/jpeg",
        (F.col("doc_id") % 3 * 8 + 16).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_lossless_rgb_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w,
             doc_id % 3 AS al,
             1 << (12 - doc_id % 3) AS m,
             1 << (doc_id % 3) AS scale
      FROM documents
    ),
    px AS (
      SELECT doc_id, w,
             ((doc_id * 31 + y * 17 + x * 7) % m) * scale AS v
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (v * 8) // 4096 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d),
    hfeat AS (
      SELECT g.doc_id, g.pos, coalesce(h.c, 0)::DOUBLE / (g.w * 16) AS x
      FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    ),
    mfeat AS (
      SELECT doc_id, 7 + k AS pos,
             sum(((doc_id * 31 + k * 59 + y * 17 + x * 7) % m) * scale)::DOUBLE
               / (w * 16) AS x
      FROM d,
           UNNEST(generate_series(1, 2)) uk(k),
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
      GROUP BY doc_id, k, w
    )
    SELECT doc_id, (doc_id % 3)::INT AS al, pos::INT AS pos, x FROM hfeat
    UNION ALL
    SELECT doc_id, (doc_id % 3)::INT, pos::INT, x FROM mfeat
    """,
)
def multimodal_jpeg_lossless_rgb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-image features through the MULTI-COMPONENT lossless JPEG
    path with a POINT TRANSFORM (operators/jpeg.synth_jpeg_lossless_rgb:
    SOF3 at precision 12, three sequential single-component scans, Al =
    doc%3 so both nontrivial shifts are exercised alongside identity,
    predictor 1 + doc%7). Decode is lossless — plane k equals the
    reduced-domain synthesis formula shifted up by Al — so the oracle
    recomputes the luma histogram (12-bit binning, v*8 >> 12) and the
    two chroma means from the formula exactly; a decoder that ignored
    the point transform, mixed up scan-to-component routing, or
    returned after the first scan cannot match."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_lossless_rgb

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_lossless_rgb, "image/jpeg",
        (F.col("doc_id") % 3).cast("int").alias("al"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_lossless_arith_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w,
             doc_id % 3 AS al,
             1 << (12 - doc_id % 3) AS m,
             1 << (doc_id % 3) AS scale,
             CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS np
      FROM documents
    ),
    px AS (
      SELECT doc_id, w,
             ((doc_id * 31 + y * 17 + x * 7 + 3 * x * y) % m) * scale AS v
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (v * 8) // 4096 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d),
    hfeat AS (
      SELECT g.doc_id, g.pos, coalesce(h.c, 0)::DOUBLE / (g.w * 16) AS x
      FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    ),
    mfeat AS (
      SELECT doc_id, 7 + k AS pos,
             sum(((doc_id * 31 + k * 97 + y * 17 + x * 7 + 3 * x * y) % m)
                 * scale)::DOUBLE / (w * 16) AS x
      FROM d,
           UNNEST(generate_series(1, 2)) uk(k),
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
      WHERE np = 3
      GROUP BY doc_id, k, w
    )
    SELECT doc_id, (doc_id % 3)::INT AS al, pos::INT AS pos, x FROM hfeat
    UNION ALL
    SELECT doc_id, (doc_id % 3)::INT, pos::INT, x FROM mfeat
    """,
)
def multimodal_jpeg_lossless_arith_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-image features through the ARITHMETIC lossless JPEG path
    (SOF11 — operators/jpeg.synth_jpeg_lossless_arith: T.81 Annex H
    predictors over the Annex D QM-coder with the two-dimensional
    (Da, Db) conditioning of Table H.2). The corpus cycles all seven
    predictors, point transforms 0-2 at precision 12, grayscale vs
    interleaved-RGB layouts, 4-row restart intervals (doc%5==0), and a
    nondefault DAC conditioning (doc%11==0). Decode is lossless — the
    plane equals the synthesis formula shifted by Al — so the oracle
    recomputes the luma histogram and chroma means exactly; a decoder
    with a wrong context mapping, a missed statistics reset at a
    restart, or a broken point transform cannot match."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_lossless_arith

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_lossless_arith, "image/jpeg",
        (F.col("doc_id") % 3).cast("int").alias("al"), ("pos", "x"),
    )


@register(
    "multimodal_jpeg_hier_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, doc_id % 4 AS v,
             60 + (doc_id * 29) % 128 AS bval
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, v, bval, y, x
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 31)) ux(x)
      WHERE x < w
    ),
    hcols AS (
      SELECT *,
        30 + (doc_id*31 + (y//2)*17 + (x//2)*7) % 196 AS b00,
        30 + (doc_id*31 + (y//2)*17 + (x//2+1)*7) % 196 AS b01,
        30 + (doc_id*31 + (y//2+1)*17 + (x//2)*7) % 196 AS b10,
        30 + (doc_id*31 + (y//2+1)*17 + (x//2+1)*7) % 196 AS b11
      FROM grid
    ),
    upv AS (
      SELECT *,
        CASE WHEN x % 2 = 0 THEN b00
             WHEN x // 2 + 1 < w // 2 THEN (b00 + b01 + 1) // 2
             ELSE b00 END AS uph0,
        CASE WHEN x % 2 = 0 THEN b10
             WHEN x // 2 + 1 < w // 2 THEN (b10 + b11 + 1) // 2
             ELSE b10 END AS uph1
      FROM hcols
    ),
    pix AS (
      SELECT doc_id, w, v,
        CASE
          WHEN v <= 1 THEN
            bval + (doc_id*13 + ((y//8)*(w//8) + x//8)*7) % 101 - 50
          WHEN v = 2 THEN
            (CASE WHEN y % 2 = 0 THEN uph0
                  WHEN y // 2 + 1 < 8 THEN (uph0 + uph1 + 1) // 2
                  ELSE uph0 END)
            + (doc_id*13 + ((y//8)*(w//8) + x//8)*7) % 61 - 30
          ELSE (doc_id*31 + y*17 + x*7) % 256
        END AS val
      FROM upv
    ),
    hist AS (
      SELECT doc_id, w, v, val // 32 AS bin, count(*) AS c
      FROM pix GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, w, v, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_jpeg_hier_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the HIERARCHICAL JPEG process (T.81
    Annex J — operators/jpeg.synth_jpeg_hier / _decode_hierarchical):
    every payload is a DHP-declared two-level pyramid — half-resolution
    first frame, EXP(1,1) reference expansion, one differential
    refinement frame — cycling doc%4 over DCT+DCT Huffman (SOF0+SOF5),
    DCT+DCT arithmetic (SOF9+SOF13), LOSSLESS-base+DCT (SOF3+SOF5 —
    the variant whose oracle recomputes the J.1.1.2 expansion
    interpolation independently, pinning the filter), and
    DCT+differential-LOSSLESS (SOF7, SOF15 when doc%8==7 — the
    reconstruction equals the target formula exactly). The oracle
    recomputes the final plane per variant and histograms it; a decoder
    with a wrong expansion rounding, a level-shifted differential IDCT,
    or broken mod-2^16 refinement arithmetic cannot match."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_hier

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_hier, "image/jpeg",
        (F.col("doc_id") % 4).cast("int").alias("variant"), ("pos", "x"),
    )


@register(
    "multimodal_gif_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, doc_id % 4 AS v
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, v, y, x,
             (doc_id*31 + y*17 + x*7) % 256 AS b,
             (doc_id*5 + (y-4)*3 + (x-4)) % 256 AS o,
             (x BETWEEN 4 AND 11 AND y BETWEEN 4 AND 11) AS inrect
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 31)) ux(x)
      WHERE x < w
    ),
    idx AS (
      SELECT doc_id, w, v,
        CASE v
          WHEN 0 THEN b
          WHEN 1 THEN b % 16
          WHEN 2 THEN CASE WHEN inrect AND o % 5 != 0 THEN o ELSE b END
          ELSE CASE WHEN inrect THEN o ELSE doc_id % 256 END
        END AS i
      FROM grid
    ),
    lum AS (
      SELECT doc_id, w, v,
             (299 * ((doc_id*7 + i*3) % 256)
              + 587 * ((doc_id*11 + i*5) % 256)
              + 114 * ((doc_id*13 + i*7) % 256)) // 1000 AS luma
      FROM idx
    ),
    hist AS (
      SELECT doc_id, w, v, luma // 32 AS bin, count(*) AS c
      FROM lum GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, w, v, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the pure-stdlib GIF codec
    (operators/gif.synth_gif / gif_decode via dispatch_decode): doc%4
    cycles a GIF87a full-frame 256-color stream, an INTERLACED frame
    under a 16-color LOCAL color table (4-bit LZW width growth), an
    animation whose overlay frame leaves TRANSPARENT pixels showing the
    base, and a DISPOSAL-2 animation whose final canvas is the overlay
    over the restored background color. The oracle recomputes the final
    composited canvas per variant from the palette/index formulas and
    histograms the Rec.601 integer luma — a decoder with a broken LZW
    width bump, interlace order, transparency skip, or disposal
    restore cannot match."""
    from financedatabase_spark.operators.gif import synth_gif

    return _synth_decode_features(
        spark, sf_dir, synth_gif, "image/gif",
        (F.col("doc_id") % 4).cast("int").alias("variant"), ("pos", "x"),
    )


@register(
    "multimodal_tiff_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, doc_id % 4 AS v
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, v, (doc_id*31 + y*17 + x*7) % 256 AS g
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 31)) ux(x)
      WHERE x < w
    ),
    rgb AS (
      SELECT doc_id, w, v,
        CASE v
          WHEN 0 THEN g
          WHEN 1 THEN 255 - g
          WHEN 2 THEN g
          ELSE (doc_id*7 + (g % 16) * 11) % 256
        END AS r,
        CASE v
          WHEN 0 THEN g
          WHEN 1 THEN 255 - g
          WHEN 2 THEN (g + 5) % 256
          ELSE (doc_id*7 + (g % 16) * 13) % 256
        END AS gg,
        CASE v
          WHEN 0 THEN g
          WHEN 1 THEN 255 - g
          WHEN 2 THEN (g + 10) % 256
          ELSE (doc_id*7 + (g % 16) * 17) % 256
        END AS b
      FROM grid
    ),
    lum AS (
      SELECT doc_id, w, v, (299*r + 587*gg + 114*b) // 1000 AS luma FROM rgb
    ),
    hist AS (
      SELECT doc_id, w, v, luma // 32 AS bin, count(*) AS c
      FROM lum GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, w, v, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_tiff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the pure-stdlib baseline TIFF codec
    (operators/tiff.synth_tiff / tiff_decode via dispatch_decode):
    doc%4 cycles little-endian uncompressed grayscale, big-endian
    PACKBITS WhiteIsZero (byte order + polarity inversion + 4-row
    strips), little-endian LZW RGB with horizontal-differencing
    PREDICTOR 2 (the TIFF early-change LZW, 8-row strips resetting the
    coder), and big-endian PALETTE via the 16-bit ColorMap. The oracle
    recomputes the per-variant RGB from the fixture formulas and
    histograms the Rec.601 integer luma — a decoder with the GIF-style
    late width change, a missed predictor accumulation, a strip-state
    leak, or an un-inverted WhiteIsZero cannot match."""
    from financedatabase_spark.operators.tiff import synth_tiff

    return _synth_decode_features(
        spark, sf_dir, synth_tiff, "image/tiff",
        (F.col("doc_id") % 4).cast("int").alias("variant"), ("pos", "x"),
    )


@register(
    "multimodal_webp_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, doc_id % 9 AS v
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, v, y, x,
             CASE
               WHEN v = 1 THEN doc_id*31 + (y % 2)*17 + x*7
               WHEN v IN (2, 6) THEN
                 doc_id*31
                 + (((doc_id*31 + y*17 + x*7) % 16) // 4) * 17
                 + (((doc_id*31 + y*17 + x*7) % 16) % 4) * 7
               WHEN v = 7 THEN
                 doc_id*31 + ((doc_id*31 + y*17 + x*7) % 2) * 24
               ELSE doc_id*31 + y*17 + x*7
             END AS t
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 31)) ux(x)
      WHERE x < w
    ),
    lum AS (
      SELECT doc_id, w, v,
             (299 * (t % 256) + 587 * ((t + 5) % 256)
              + 114 * ((t + 10) % 256)) // 1000 AS luma
      FROM grid
    ),
    hist AS (
      SELECT doc_id, w, v, luma // 32 AS bin, count(*) AS c
      FROM lum GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, w, v, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_webp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the pure-stdlib VP8L (lossless WebP)
    codec (operators/webp.synth_webp / webp_decode via
    dispatch_decode): doc%9 cycles literal-coded full prefix codes,
    LZ77 row copies with direct distance plane codes, a 6-bit COLOR
    CACHE over a 16-color palette, the SUBTRACT-GREEN transform, the
    PREDICTOR transform at mode doc%14 through a nested SIMPLE-coded
    subimage, the COLOR transform (one CTE block), the COLOR-INDEXING
    transform at both 4-bit (16 colors) and 1-bit (2 colors) index
    bundling, and META-PREFIX GROUPS (two band groups through the
    nested group-index image) — so canonical code reading (code-length
    codes included), backward references, cache hashing, ALL FOUR
    inverse transforms, and per-block code-group selection sit on the
    oracle path: the complete VP8L bitstream. Decode is lossless, so
    the oracle recomputes each variant's RGB from the fixture formulas
    and histograms the Rec.601 integer luma."""
    from financedatabase_spark.operators.webp import synth_webp

    return _synth_decode_features(
        spark, sf_dir, synth_webp, "image/webp",
        (F.col("doc_id") % 9).cast("int").alias("variant"), ("pos", "x"),
    )


@register(
    "multimodal_bmp_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, doc_id % 4 AS v
      FROM documents
    ),
    grid AS (
      SELECT doc_id, w, v, y, x,
             (doc_id*31 + y*17 + x*7) % 256 AS g,
             CASE WHEN y = 5 AND x < 4 THEN 0
                  ELSE (doc_id*31 + y*17 + (x // 4) * 7) % 256
             END AS ridx
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 31)) ux(x)
      WHERE x < w
    ),
    rgb AS (
      SELECT doc_id, w, v,
        CASE WHEN v IN (0, 3) THEN g
             WHEN v = 1 THEN (doc_id*7 + g*3) % 256
             ELSE (doc_id*7 + ridx*3) % 256 END AS r,
        CASE WHEN v IN (0, 3) THEN (g + 5) % 256
             WHEN v = 1 THEN (doc_id*11 + g*5) % 256
             ELSE (doc_id*11 + ridx*5) % 256 END AS gg,
        CASE WHEN v IN (0, 3) THEN (g + 10) % 256
             WHEN v = 1 THEN (doc_id*13 + g*7) % 256
             ELSE (doc_id*13 + ridx*7) % 256 END AS b
      FROM grid
    ),
    lum AS (
      SELECT doc_id, w, v, (299*r + 587*gg + 114*b) // 1000 AS luma FROM rgb
    ),
    hist AS (
      SELECT doc_id, w, v, luma // 32 AS bin, count(*) AS c
      FROM lum GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, w, v, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the STANDALONE BMP decoder
    (operators/multimodal.synth_bmp_file / bmp_decode via
    dispatch_decode — the DIB pixel formats the AVI path shares,
    wrapped in BITMAPFILEHEADER files): doc%4 cycles 24-bit bottom-up,
    8-bit palettized TOP-DOWN (negative biHeight), BI_RLE8 with the
    delta-escape zero-fill, and 32-bit with a nonzero reserved byte.
    The oracle recomputes the per-variant RGB from the display-
    coordinate formulas and histograms the Rec.601 integer luma (a
    histogram is orientation-invariant, so the bottom-up/top-down row
    order is pinned by the exact-pixel unit test, not here; palette
    routing, RLE walks, and the reserved-byte skip are oracle-visible)."""
    from financedatabase_spark.operators.multimodal import synth_bmp_file

    return _synth_decode_features(
        spark, sf_dir, synth_bmp_file, "image/bmp",
        (F.col("doc_id") % 4).cast("int").alias("variant"), ("pos", "x"),
    )


@register(
    "multimodal_ico_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS v,
             CASE WHEN doc_id % 3 = 0 THEN 8 + (doc_id % 3) * 4 ELSE 16 END AS w
      FROM documents
    ),
    grid AS (
      SELECT doc_id, v, w, y, x,
             (doc_id*17 + y*31 + x*7) % 256 AS pluma,
             (doc_id*31 + y*17 + x*7) % 256 AS g,
             (v = 1 AND (doc_id + y + x) % 7 = 0) AS hidden
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, 15)) ux(x)
      WHERE x < w
    ),
    lum AS (
      SELECT doc_id, v, w,
        CASE
          WHEN v = 0 THEN pluma
          WHEN hidden THEN 0
          WHEN v = 1 THEN
            (299 * ((doc_id*7 + g*3) % 256)
             + 587 * ((doc_id*11 + g*5) % 256)
             + 114 * ((doc_id*13 + g*7) % 256)) // 1000
          ELSE (299 * g + 587 * ((g + 5) % 256)
                + 114 * ((g + 10) % 256)) // 1000
        END AS luma
      FROM grid
    ),
    hist AS (
      SELECT doc_id, v, w, luma // 32 AS bin, count(*) AS c
      FROM lum GROUP BY 1, 2, 3, 4
    ),
    bins AS (SELECT doc_id, v, w, unnest(generate_series(0, 7)) AS pos FROM d)
    SELECT b.doc_id, b.v::INT AS variant, b.pos::INT AS pos,
           coalesce(h.c, 0)::DOUBLE / (b.w * 16) AS x
    FROM bins b LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = b.pos
    """,
)
def multimodal_ico_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the ICO container codec
    (operators/multimodal.synth_ico / ico_decode via dispatch_decode):
    doc%3 cycles an EMBEDDED PNG entry (the full synth_png layout mix
    riding inside the icon directory), an 8-bit palettized classic DIB
    whose nontrivial AND mask hides (doc+y+x)%7==0 pixels (decoded
    black — the documented no-background convention), and a 32-bit DIB
    with 0xAA reserved bytes and a clear mask. The oracle recomputes
    each variant's luma — PNG luma is the synth_png formula directly —
    so wrong mask bit order, palette routing, or doubled-height parsing
    mismatches."""
    from financedatabase_spark.operators.multimodal import synth_ico

    return _synth_decode_features(
        spark, sf_dir, synth_ico, "image/x-icon",
        (F.col("doc_id") % 3).cast("int").alias("variant"), ("pos", "x"),
    )


def _ima_steps_values() -> str:
    """The 89-entry IMA step table as a VALUES list for the oracle."""
    from financedatabase_spark.operators.multimodal import IMA_STEPS

    return ", ".join(f"({i}, {s})" for i, s in enumerate(IMA_STEPS))


@register(
    "multimodal_adpcm_features",
    oracle=f"""
    WITH RECURSIVE
    steps(sidx, step) AS (VALUES {_ima_steps_values()}),
    d AS (
      SELECT doc_id, 201 + 2 * (doc_id % 64) AS n,
             (doc_id * 7919) % 65536 - 32768 AS pred0,
             doc_id % 89 AS idx0
      FROM documents
    ),
    dec AS (
      SELECT doc_id, n, 0 AS t, pred0 AS pred, idx0 AS idx FROM d
      UNION ALL
      SELECT doc_id, n, t + 1,
             greatest(-32768, least(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
             greatest(0, least(88, idx +
               CASE nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                            WHEN 7 THEN 8 ELSE -1 END))
      FROM (
        SELECT r.doc_id, r.n, r.t, r.pred, r.idx,
               (r.doc_id * 7 + r.t * 13) % 16 AS nib,
               (s.step // 8)
               + (((r.doc_id * 7 + r.t * 13) % 16) % 2) * (s.step // 4)
               + ((((r.doc_id * 7 + r.t * 13) % 16) // 2) % 2) * (s.step // 2)
               + ((((r.doc_id * 7 + r.t * 13) % 16) // 4) % 2) * s.step AS diff
        FROM dec r JOIN steps s ON s.sidx = r.idx
      )
      WHERE t + 1 < n
    )
    SELECT doc_id, (64 + (n - 1) // 2)::BIGINT AS n_bytes,
           ((t * 8) // n)::INT AS win, sum(abs(pred))::DOUBLE AS abs_sum
    FROM dec GROUP BY doc_id, n, (t * 8) // n
    """,
)
def multimodal_adpcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the IMA ADPCM decoder (WAV format tag
    0x11 — operators/multimodal.synth_wav_adpcm / _decode_ima_adpcm):
    every doc ships a one-block mono ADPCM container whose header seeds
    the (predictor, step index) state machine — initial index spans the
    full 0..88 table, and predictors span the int16 range so both
    clamps engage — and whose nibbles step the shared IMA step/index
    tables. The oracle mirrors the recursion as a RECURSIVE CTE joined
    against the 89-entry step table (the same generated-recurrence
    technique as the CRR lattice oracles), so every decoded sample is
    verified, not just the container shape. The recursion is
    per-sample, so like the tick-bar oracles this baseline is excluded
    from the 50x sweeps — the Spark side stays linear (one mapInPandas
    decode)."""
    from financedatabase_spark.operators.multimodal import synth_wav_adpcm

    return _synth_decode_features(
        spark, sf_dir, synth_wav_adpcm, "audio/wav", "n_bytes", ("win", "abs_sum")
    )


def _ms_coefs_values() -> str:
    """The 7 standard MS ADPCM coefficient pairs as a VALUES list."""
    from financedatabase_spark.operators.multimodal import MS_COEFS

    return ", ".join(f"({i}, {c1}, {c2})" for i, (c1, c2) in enumerate(MS_COEFS))


@register(
    "multimodal_msadpcm_features",
    oracle=f"""
    WITH RECURSIVE
    coefs(cidx, c1, c2) AS (VALUES {_ms_coefs_values()}),
    d AS (
      SELECT doc_id,
             2 + 2 * (60 + doc_id % 40) AS n,
             doc_id % 7 AS cidx,
             16 + (doc_id * 31) % 4000 AS delta0,
             (doc_id * 7919) % 65536 - 32768 AS s1_0,
             (doc_id * 104729) % 65536 - 32768 AS s2_0
      FROM documents
    ),
    dec AS (
      SELECT doc_id, n, cidx, 1 AS t,
             s1_0 AS out, s1_0 AS s1, s2_0 AS s2, delta0 AS delta
      FROM d
      UNION ALL
      SELECT doc_id, n, cidx, t + 1,
             greatest(-32768, least(32767,
               base + CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END * delta)),
             greatest(-32768, least(32767,
               base + CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END * delta)),
             s1,
             greatest(16,
               (CASE nib WHEN 4 THEN 307 WHEN 5 THEN 409 WHEN 6 THEN 512
                         WHEN 7 THEN 614 WHEN 8 THEN 768 WHEN 9 THEN 614
                         WHEN 10 THEN 512 WHEN 11 THEN 409 WHEN 12 THEN 307
                         ELSE 230 END * delta) // 256)
      FROM (
        SELECT r.doc_id, r.n, r.cidx, r.t, r.s1, r.s2, r.delta,
               CASE WHEN (r.doc_id * 11 + (r.t - 1) * 5) % 64 < 16
                    THEN (r.doc_id * 11 + (r.t - 1) * 5) % 64
                    ELSE ((r.doc_id * 11 + (r.t - 1) * 5) % 64) % 4 END AS nib,
               CAST(trunc((r.s1 * c.c1 + r.s2 * c.c2) / 256.0) AS BIGINT) AS base
        FROM dec r JOIN coefs c ON c.cidx = r.cidx
      )
      WHERE t + 1 < n
    )
    SELECT doc_id, (97 + (n - 2) // 2)::BIGINT AS n_bytes,
           ((t * 8) // n)::INT AS win, sum(abs(out))::DOUBLE AS abs_sum
    FROM (
      SELECT doc_id, n, 0 AS t, s2_0 AS out FROM d
      UNION ALL
      SELECT doc_id, n, t, out FROM dec
    )
    GROUP BY doc_id, n, (t * 8) // n
    """,
)
def multimodal_msadpcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the MICROSOFT ADPCM decoder (WAV format
    tag 2 — operators/multimodal.synth_wav_msadpcm / _decode_ms_adpcm):
    every doc ships a one-block mono container whose 7-byte header
    selects one of the seven standard coefficient pairs (doc_id % 7
    covers all) and seeds (delta, sample1, sample2) spanning the int16
    range, then each HIGH-first nibble steps the second-order predictor
    pred = clamp(trunc((s1*c1 + s2*c2)/256) + signed*delta) with the
    16-entry delta-adaptation recurrence (floor 16). The oracle mirrors
    the full recursion as a RECURSIVE CTE joined against the
    coefficient table — every decoded sample verified, with C-style
    truncate-toward-zero division written as trunc(x/256.0) (Python's
    floor ``//`` would differ on negative predictor bases). The
    fixture's nibble mix (each code once per 64 plus 48 small codes)
    keeps the delta recurrence bounded so the oracle's BIGINT
    arithmetic cannot overflow. Like the IMA and tick-bar oracles the
    per-sample recursion is the BASELINE's cost — excluded from the 50x
    sweeps — while the Spark side stays linear (one mapInPandas decode)."""
    from financedatabase_spark.operators.multimodal import synth_wav_msadpcm

    return _synth_decode_features(
        spark, sf_dir, synth_wav_msadpcm, "audio/wav", "n_bytes", ("win", "abs_sum")
    )


@register(
    "multimodal_jpeg_arith_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w FROM documents
    ),
    px AS (
      SELECT doc_id, w,
             (((doc_id*17 + (y // 8)*31 + (x // 8)*7) % 251 + 2)
              + CASE WHEN y >= 8
                     THEN ((doc_id + (x // 8)) % 5 - 2)
                          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                     ELSE 0 END) AS p
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    ),
    hist AS (SELECT doc_id, w, (p * 8) // 256 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2, 3),
    grid AS (SELECT doc_id, w, unnest(generate_series(0, 7)) AS pos FROM d),
    lum AS (
      SELECT g.doc_id, g.w::BIGINT AS width, g.pos::INT AS pos,
             coalesce(h.c, 0) / (g.w * 16) AS x
      FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bin = g.pos
    ),
    cpx AS (
      SELECT doc_id, w, xi
      FROM d, UNNEST(generate_series(0, w - 1)) ux(xi)
      WHERE doc_id % 8 IN (1, 3, 5, 6, 7)
    ),
    chroma AS (
      -- chroma cell geometry by variant (doc_id % 8): 1/5/6/7 = 4:2:0
      -- (cell 16x16 -> one cy row at h=16), 3 = 4:4:4 (cy in {0,1})
      SELECT doc_id, w::BIGINT AS width, 8 AS pos,
             (sum(CASE
               WHEN doc_id % 8 = 3 THEN
                 8 * (((doc_id*29 + (xi // 8)*13) % 251 + 2)
                    + ((doc_id*29 + (xi // 8)*13 + 11) % 251 + 2))
               ELSE 16 * ((doc_id*29 + (xi // 16)*13) % 251 + 2)
             END))::DOUBLE / (w * 16) AS x
      FROM cpx GROUP BY doc_id, w
      UNION ALL
      SELECT doc_id, w::BIGINT AS width, 9 AS pos,
             (sum(CASE
               WHEN doc_id % 8 = 3 THEN
                 8 * (((doc_id*23 + (xi // 8)*7) % 251 + 2)
                    + ((doc_id*23 + (xi // 8)*7 + 19) % 251 + 2))
               ELSE 16 * ((doc_id*23 + (xi // 16)*7) % 251 + 2)
             END))::DOUBLE / (w * 16) AS x
      FROM cpx GROUP BY doc_id, w
    )
    SELECT doc_id, width, pos, x FROM lum
    UNION ALL
    SELECT doc_id, width, pos::INT AS pos, x FROM chroma
    """,
)
def multimodal_jpeg_arith_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the ARITHMETIC-coded JPEG path (T.81
    Annex D QM-coder + Annex F sequential conditioning —
    operators/jpeg_arith.py, cross-validated in BOTH directions against
    libjpeg): the doc_id % 8 mix cycles grayscale SOF9, 4:2:0
    interleaved color, grayscale with DRI=3 restarts (QM registers +
    statistics re-initialized per boundary), 4:4:4 color, grayscale
    PROGRESSIVE SOF10 (the full Annex G scan script over the QM-coder:
    DC first + fixed-state refinement, split-band AC first + G.2.2
    correction passes, DRI on the DC scan for a share of them), 4:2:0
    PROGRESSIVE SOF10, 4:2:0 NON-INTERLEAVED (scan-per-component), and
    4:2:0 PARTIALLY interleaved (Y then Cb+Cr subset, restart-marked
    for a share) — every sequential scan layout plus progressive. The
    pixels are the SAME `_y_block_zz` / `_chroma_blocks` formulas as
    the Huffman mix, so the oracle recomputes the 8-bin luminance
    histogram — and mean-Cb/mean-Cr at pos 8/9 for color docs — in
    closed form; only the entropy layer differs. A decoder with a
    wrong Table D.3 entry, broken conditional exchange, bad byte
    stuffing, or unreset restart statistics cannot match."""
    from financedatabase_spark.operators.jpeg import synth_jpeg_arith

    return _synth_decode_features(
        spark, sf_dir, synth_jpeg_arith, "image/jpeg",
        (F.col("doc_id") % 3 * 8 + 16).cast("long").alias("width"), ("pos", "x"),
    )


@register(
    "multimodal_adpcm_stereo_features",
    oracle=f"""
    WITH RECURSIVE
    steps(sidx, step) AS (VALUES {_ima_steps_values()}),
    d AS (
      SELECT doc_id, 129 + 16 * (doc_id % 8) AS n FROM documents
    ),
    seeds AS (
      SELECT doc_id, n, c,
             (doc_id * 7919 + c * 104729) % 65536 - 32768 AS pred0,
             (doc_id + c * 37) % 89 AS idx0
      FROM d, UNNEST(generate_series(0, 1)) uc(c)
    ),
    dec AS (
      SELECT doc_id, n, c, 0 AS t, pred0 AS pred, idx0 AS idx FROM seeds
      UNION ALL
      SELECT doc_id, n, c, t + 1,
             greatest(-32768, least(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
             greatest(0, least(88, idx +
               CASE nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                            WHEN 7 THEN 8 ELSE -1 END))
      FROM (
        SELECT r.doc_id, r.n, r.c, r.t, r.pred, r.idx,
               (r.doc_id * 7 + r.c * 3 + r.t * 13) % 16 AS nib,
               (s.step // 8)
               + (((r.doc_id * 7 + r.c * 3 + r.t * 13) % 16) % 2) * (s.step // 4)
               + ((((r.doc_id * 7 + r.c * 3 + r.t * 13) % 16) // 2) % 2)
                 * (s.step // 2)
               + ((((r.doc_id * 7 + r.c * 3 + r.t * 13) % 16) // 4) % 2)
                 * s.step AS diff
        FROM dec r JOIN steps s ON s.sidx = r.idx
      )
      WHERE t + 1 < n
    ),
    mixed AS (
      SELECT l.doc_id, l.n, l.t,
             CAST(trunc((l.pred + r.pred) / 2.0) AS BIGINT) AS m
      FROM dec l JOIN dec r ON r.doc_id = l.doc_id AND r.t = l.t AND r.c = 1
      WHERE l.c = 0
    )
    SELECT doc_id, (67 + n)::BIGINT AS n_bytes,
           ((t * 8) // n)::INT AS win, sum(abs(m))::DOUBLE AS abs_sum
    FROM mixed GROUP BY doc_id, n, (t * 8) // n
    """,
)
def multimodal_adpcm_stereo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the STEREO IMA ADPCM decoder (WAV tag
    0x11, ch=2 — operators/multimodal.synth_wav_adpcm_stereo /
    _decode_ima_adpcm): every doc ships a one-block stereo container
    whose TWO 4-byte channel headers seed independent (predictor, step
    index) machines and whose 4-byte data words alternate channels.
    `wav_decode` mono-mixes the decoded frames with C truncation
    (int((L+R)/2) toward zero) before windowing, so the oracle runs
    BOTH channel recursions (channel is a recursion column), joins them
    by frame, and mirrors the truncating mix — a decoder with swapped
    word order, shared channel state, or a floor-division mix cannot
    match. Per-sample recursion, so 50x sweeps SKIP-list this baseline
    like the other ADPCM oracles."""
    from financedatabase_spark.operators.multimodal import synth_wav_adpcm_stereo

    return _synth_decode_features(
        spark, sf_dir, synth_wav_adpcm_stereo, "audio/wav",
        "n_bytes", ("win", "abs_sum"),
    )


@register(
    "multimodal_msadpcm_stereo_features",
    oracle=f"""
    WITH RECURSIVE
    coefs(cidx, c1, c2) AS (VALUES {_ms_coefs_values()}),
    d AS (
      SELECT doc_id, 62 + doc_id % 40 AS n FROM documents
    ),
    seeds AS (
      SELECT doc_id, n, c, (doc_id + c) % 7 AS cidx,
             16 + (doc_id * 31 + c * 97) % 4000 AS delta0,
             (doc_id * 7919 + c * 31) % 65536 - 32768 AS s1_0,
             (doc_id * 104729 + c * 59) % 65536 - 32768 AS s2_0
      FROM d, UNNEST(generate_series(0, 1)) uc(c)
    ),
    dec AS (
      SELECT doc_id, n, c, cidx, 1 AS t,
             s1_0 AS out, s1_0 AS s1, s2_0 AS s2, delta0 AS delta
      FROM seeds
      UNION ALL
      SELECT doc_id, n, c, cidx, t + 1,
             greatest(-32768, least(32767,
               base + CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END * delta)),
             greatest(-32768, least(32767,
               base + CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END * delta)),
             s1,
             greatest(16,
               (CASE nib WHEN 4 THEN 307 WHEN 5 THEN 409 WHEN 6 THEN 512
                         WHEN 7 THEN 614 WHEN 8 THEN 768 WHEN 9 THEN 614
                         WHEN 10 THEN 512 WHEN 11 THEN 409 WHEN 12 THEN 307
                         ELSE 230 END * delta) // 256)
      FROM (
        SELECT r.doc_id, r.n, r.c, r.cidx, r.t, r.s1, r.s2, r.delta,
               CASE WHEN (r.doc_id * 11 + (2 * (r.t - 1) + r.c) * 5) % 64 < 16
                    THEN (r.doc_id * 11 + (2 * (r.t - 1) + r.c) * 5) % 64
                    ELSE ((r.doc_id * 11 + (2 * (r.t - 1) + r.c) * 5) % 64) % 4
               END AS nib,
               CAST(trunc((r.s1 * cf.c1 + r.s2 * cf.c2) / 256.0) AS BIGINT)
                 AS base
        FROM dec r JOIN coefs cf ON cf.cidx = r.cidx
      )
      WHERE t + 1 < n
    ),
    allsamp AS (
      SELECT doc_id, n, c, 0 AS t, s2_0 AS out FROM seeds
      UNION ALL
      SELECT doc_id, n, c, t, out FROM dec
    ),
    mixed AS (
      SELECT l.doc_id, l.n, l.t,
             CAST(trunc((l.out + r.out) / 2.0) AS BIGINT) AS m
      FROM allsamp l JOIN allsamp r
        ON r.doc_id = l.doc_id AND r.t = l.t AND r.c = 1
      WHERE l.c = 0
    )
    SELECT doc_id, (102 + n)::BIGINT AS n_bytes,
           ((t * 8) // n)::INT AS win, sum(abs(m))::DOUBLE AS abs_sum
    FROM mixed GROUP BY doc_id, n, (t * 8) // n
    """,
)
def multimodal_msadpcm_stereo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the STEREO Microsoft ADPCM decoder (WAV
    tag 2, ch=2 — operators/multimodal.synth_wav_msadpcm_stereo /
    _decode_ms_adpcm): the 14-byte FIELD-interleaved block header runs
    each channel on a DIFFERENT coefficient pair ((doc+c) % 7), and the
    HIGH-first nibbles alternate channels nibble by nibble (high =
    left). The oracle runs both second-order predictor recursions with
    the channel as a recursion column — each channel's nibble stream is
    the even/odd subsequence of the global fixture formula — joins the
    channels by frame, and mirrors `wav_decode`'s truncate-toward-zero
    mono mix. A decoder with swapped nibble-to-channel routing, shared
    delta state, or field-sequential header parsing cannot match.
    Per-sample recursion, so 50x sweeps SKIP-list this baseline like
    the other ADPCM oracles."""
    from financedatabase_spark.operators.multimodal import synth_wav_msadpcm_stereo

    return _synth_decode_features(
        spark, sf_dir, synth_wav_msadpcm_stereo, "audio/wav",
        "n_bytes", ("win", "abs_sum"),
    )


def _gsm_oracle_sql() -> str:
    """Build the GSM 06.10 oracle: a recursive CTE that re-runs the
    ENTIRE RPE-LTP decode chain (ETSI EN 300 961) sample by sample in
    SQL — APCM inverse quantization, RPE grid positioning, long-term
    synthesis against a 120-sample history list, the 8-stage short-term
    lattice (reflection coefficients precomputed per interpolation
    zone in the ``rp`` CTE), de-emphasis, and the upscale/truncate —
    using DuckDB's ARITHMETIC ``>>`` everywhere the spec's SASR/MULT_R
    floor-shifts appear (``//`` truncates toward zero and would differ
    on negatives). Generated programmatically: the lattice unrolls into
    8 nested subquery layers so text growth stays linear."""
    from financedatabase_spark.operators.multimodal import (
        GSM_LAR_B,
        GSM_LAR_INVA,
        GSM_LAR_MIC,
    )

    mults, rng = (17, 29, 13, 7, 11, 23, 5, 3), (64, 64, 32, 32, 16, 16, 8, 8)

    def sat(x: str) -> str:
        return f"greatest(-32768, least(32767, {x}))"

    def mult_r(a: str, b: str) -> str:
        # the spec's mult_r(-32768, -32768) special case cannot fire
        # here: rp > -32768 always and brp/INVA/FAC/28180 are positive
        return sat(f"((({a}) * ({b}) + 16384) >> 15)")

    def larpp(i: int) -> str:
        larc = f"((doc_id * {mults[i]}) % {rng[i]})"
        x = sat(f"({larc} + {GSM_LAR_MIC[i]}) * 1024 - {2 * GSM_LAR_B[i]}")
        return sat(f"2 * ({mult_r(str(GSM_LAR_INVA[i]), x)})")

    def rp_of(l: str) -> str:
        a = f"(CASE WHEN {l} = -32768 THEN 32767 ELSE abs({l}) END)"
        v = (f"(CASE WHEN {a} < 11059 THEN {a} * 2 "
             f"WHEN {a} < 20070 THEN {a} + 11059 "
             f"ELSE least(32767, (({a}) >> 2) + 26112) END)")
        return f"(CASE WHEN {l} < 0 THEN -{v} ELSE {v} END)"

    def zone_mix(zone: int, old: str, new: str) -> str:
        quarters = sat(f"(({old}) >> 2) + (({new}) >> 2)")
        if zone == 0:
            return sat(f"{quarters} + (({old}) >> 1)")
        if zone == 1:
            return sat(f"(({old}) >> 1) + (({new}) >> 1)")
        if zone == 2:
            return sat(f"{quarters} + (({new}) >> 1)")
        return new

    lar_cols = ",\n             ".join(f"{larpp(i)} AS la{i}" for i in range(8))
    # 7 phases: 0-2 = frame-0 zones 1-3 (previous LARpp = 0), 3 = zone 4
    # (= LARpp), 4-6 = steady-state zones 1-3 (old = new)
    phase_rows = []
    for ph in range(7):
        if ph < 3:
            cols = ", ".join(
                f"{rp_of(zone_mix(ph, '0', f'la{i}'))} AS rp{i}" for i in range(8))
        elif ph == 3:
            cols = ", ".join(f"{rp_of(f'la{i}')} AS rp{i}" for i in range(8))
        else:
            cols = ", ".join(
                f"{rp_of(zone_mix(ph - 4, f'la{i}', f'la{i}'))} AS rp{i}"
                for i in range(8))
        phase_rows.append(f"SELECT doc_id, {ph} AS phase, {cols} FROM lar")
    rp_cte = "\n      UNION ALL\n      ".join(phase_rows)

    j = "((r.t + 1) // 40)"   # global subframe 0..7 (two frames)
    k = "((r.t + 1) % 40)"    # sample within the subframe
    mc = f"((r.doc_id * 3 + {j}) % 4)"
    xmaxc = f"(16 + (r.doc_id * 7 + {j} * 11) % 48)"
    nc = f"(40 + (r.doc_id * 5 + {j} * 17) % 81)"
    brp = (f"(CASE (r.doc_id + {j}) % 4 WHEN 0 THEN 3277 WHEN 1 THEN 11469 "
           f"WHEN 2 THEN 21299 ELSE 32767 END)")
    fac = (f"(CASE {xmaxc} % 8 WHEN 0 THEN 18431 WHEN 1 THEN 20479 "
           f"WHEN 2 THEN 22527 WHEN 3 THEN 24575 WHEN 4 THEN 26623 "
           f"WHEN 5 THEN 28671 WHEN 6 THEN 30719 ELSE 32767 END)")
    # fixture keeps xmaxc >= 16: exponent = xmaxc//8 - 1, mantissa field
    # unnormalized -> FAC index = xmaxc % 8 (sub-16 normalization is the
    # Python decoder's general path, unit-tested separately)
    temp2 = f"(7 - {xmaxc} // 8)"
    temp3 = f"(CASE WHEN {temp2} = 0 THEN 0 ELSE (1 << ({temp2} - 1)) END)"
    pulse = f"({k} - {mc})"
    xmc = f"((r.doc_id * 11 + {j} * 7 + ({pulse} // 3) * 5) % 8)"
    dq = sat(f"{mult_r(fac, f'({xmc} * 2 - 7) * 4096')} + {temp3}")
    erp = (f"(CASE WHEN {pulse} >= 0 AND {pulse} % 3 = 0 AND {pulse} <= 36 "
           f"THEN (({dq}) >> {temp2}) ELSE 0 END)")
    drp = sat(f"{erp} + {mult_r(brp, f'r.hist[121 - {nc}]')}")
    tif = "((r.t + 1) % 160)"
    phase_new = (f"(CASE WHEN {tif} >= 40 THEN 3 "
                 f"WHEN (r.t + 1) < 160 THEN (CASE WHEN {tif} < 13 THEN 0 "
                 f"WHEN {tif} < 27 THEN 1 ELSE 2 END) "
                 f"ELSE (CASE WHEN {tif} < 13 THEN 4 WHEN {tif} < 27 THEN 5 "
                 f"ELSE 6 END) END)")

    layers = f"""
        SELECT r.doc_id, r.t + 1 AS t, r.msr AS msr0, r.v AS v,
               {drp} AS wt,
               list_append(r.hist[2:], {drp}) AS hist2,
               p.rp0, p.rp1, p.rp2, p.rp3, p.rp4, p.rp5, p.rp6, p.rp7
        FROM dec r JOIN rp p
          ON p.doc_id = r.doc_id AND p.phase = {phase_new}
        WHERE r.t < 319
      """
    prev = "wt"
    for i in range(7, -1, -1):
        s = sat(f"{prev} - {mult_r(f'rp{i}', f'v[{i + 1}]')}")
        layers = f"SELECT *, {s} AS s{i} FROM (\n{layers}) L{i}"
        prev = f"s{i}"
    vparts = ["s0"] + [
        sat(f"v[{i + 1}] + {mult_r(f'rp{i}', f's{i}')}") for i in range(8)
    ]
    msr1 = sat(f"s0 + {mult_r('msr0', '28180')}")
    up = sat(f"({msr1}) + ({msr1})")

    return f"""
    WITH RECURSIVE
    lar AS (
      SELECT doc_id,
             {lar_cols}
      FROM documents
    ),
    rp AS (
      {rp_cte}
    ),
    dec AS (
      SELECT doc_id, -1 AS t, 0 AS sro,
             (SELECT list(0::BIGINT) FROM range(120)) AS hist,
             (SELECT list(0::BIGINT) FROM range(9)) AS v,
             0 AS msr
      FROM lar
      UNION ALL
      SELECT doc_id, t,
             (({up}) - ((({up}) % 8 + 8) % 8)) AS sro,
             hist2 AS hist,
             [{", ".join(vparts)}] AS v,
             {msr1} AS msr
      FROM (
{layers}
      ) q
    )
    SELECT doc_id, 125::BIGINT AS n_bytes, (t // 40)::INT AS win,
           sum(abs(sro))::DOUBLE AS abs_sum
    FROM dec WHERE t >= 0
    GROUP BY doc_id, t // 40
    """


@register("multimodal_gsm_features", oracle=_gsm_oracle_sql())
def multimodal_gsm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the GSM 06.10 full-rate decoder (WAV
    format tag 49 — operators/multimodal.synth_wav_gsm / _decode_gsm):
    every doc ships a one-block mono container (two 260-bit RPE-LTP
    frames, 320 samples) whose parameters sweep the codec — all four
    QLB long-term gains, every legal LTP lag 40..120, all four RPE
    grids, every mantissa field and 3-bit pulse code, and doc-keyed LAR
    codes driving the 8-stage short-term lattice through all four
    interpolation zones. The oracle (see `_gsm_oracle_sql`) replays the
    entire ETSI decode chain as a recursive CTE — every one of the 320
    decoded samples per doc verified bit-exact. Like the ADPCM and
    tick-bar oracles the per-sample recursion is the BASELINE's cost —
    SKIP-listed at 50x — while the Spark side stays linear (one
    mapInPandas decode)."""
    from financedatabase_spark.operators.multimodal import synth_wav_gsm

    return _synth_decode_features(
        spark, sf_dir, synth_wav_gsm, "audio/wav", "n_bytes", ("win", "abs_sum")
    )


@register(
    "multimodal_image_resize",
    oracle="""
    WITH d AS (
      SELECT doc_id, 16 + (doc_id % 3) * 8 AS w FROM documents
    ),
    px AS (
      SELECT doc_id, w, x, y,
             (((doc_id*17 + (y // 8)*31 + (x // 8)*7) % 251 + 2)
              + CASE WHEN y >= 8
                     THEN ((doc_id + (x // 8)) % 5 - 2)
                          * (CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                     ELSE 0 END) AS p
      FROM d,
           UNNEST(generate_series(0, 15)) uy(y),
           UNNEST(generate_series(0, w - 1)) ux(x)
    )
    SELECT doc_id,
           (y // 2)::INT AS by,
           (x // (w // 8))::INT AS bx,
           (sum(p) // ((w // 8) * 2))::BIGINT AS px_mean
    FROM px GROUP BY doc_id, w, y // 2, x // (w // 8)
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's RESIZE stage, pure stdlib: decode each doc's JPEG
    (all eight container variants of the synth_jpeg mix) and box-average
    the luma plane down to an 8x8 grid (multimodal.grid_resize — integer
    floor means over [bx*w//8, (bx+1)*w//8) x [by*2, by*2+2) boxes, so
    the oracle recomputes every cell exactly from the pixel formula).
    The standard thumbnail/patch-embedding preprocessing shape: decode +
    resize fused in ONE mapInPandas pass so full-resolution pixels never
    leave the worker.

    Scale shape: scan → mapInPandas synth+decode+resize → posexplode;
    one id-only shuffle (spread_ids) before the Python stage; payloads
    and raw pixels never shuffle — only the 64-cell grids do."""
    import pandas as _pd

    from financedatabase_spark.operators.jpeg import jpeg_planes, synth_jpeg
    from financedatabase_spark.operators.multimodal import grid_resize

    docs = spread_ids(load_table(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, planes = jpeg_planes(synth_jpeg(i))
                rows.append({"doc_id": i, "cells": grid_resize(planes[0], w, h)})
            yield _pd.DataFrame(rows)

    grids = docs.mapInPandas(gen, "doc_id long, cells array<long>")
    return grids.select(
        "doc_id", F.posexplode("cells").alias("_pos", "px_mean")
    ).select(
        "doc_id",
        F.expr("_pos div 8").cast("int").alias("by"),
        (F.col("_pos") % 8).cast("int").alias("bx"),
        "px_mean",
    )


@register(
    "ivf_build_assign",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
      FROM flat GROUP BY label, pos
    ),
    centroids AS (
      SELECT label AS c_label, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    probes AS (SELECT vec_id, label, emb FROM v WHERE vec_id % 25 = 0),
    scored AS (
      SELECT p.vec_id, p.label AS true_label, c.c_label,
             round(list_cosine_similarity(p.emb, c.cvec), 6) AS sim
      FROM probes p CROSS JOIN centroids c
    )
    SELECT vec_id, true_label, c_label AS assigned_label, sim FROM (
      SELECT vec_id, true_label, c_label, sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def ivf_build_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BUILD path: construct the coarse quantizer in-engine
    (per-cell element-wise centroid via posexplode + exact integer-unit means)
    and assign probe vectors to their nearest centroid by cosine. With the
    assignment written back as a partition column, probes become
    partition-pruned scans (the ivf_topk query's precondition)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = sim._spread(emb).select(
        "vec_id", "label", F.posexplode(sim._vec("embedding")).alias("pos", "x")
    )
    cmeans = flat.groupBy("label", "pos").agg(
        (F.sum(F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e6) / F.count("*")).alias("m")
    )
    centroids = cmeans.groupBy(F.col("label").alias("c_label")).agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm")
    ).select(
        "c_label", F.transform(F.col("_pm"), lambda s: s.getField("m")).alias("cvec")
    )
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.col("label").alias("true_label"), sim._vec("embedding").alias("emb")
    )
    scored = probes.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "true_label",
        "c_label",
        F.round(sim.cosine(F.col("emb"), F.col("cvec")), 6).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("c_label").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("assigned_label"), "sim")
    )


#: The IVF codebook is an index artifact: built once per corpus, reused by
#: every search (FAISS trains centroids offline; a production deployment
#: would persist them as a parquet table). Memoize + cache per
#: (session, corpus) so repeated searches don't rebuild it.
def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financedatabase_spark.session import session_memo

    def build() -> DataFrame:
        cen = sim.cell_centroids(load_table(spark, sf_dir, "embeddings"), dim=64).cache()
        cen.count()  # materialize now: searches pay a broadcast, not a rebuild
        return cen

    return session_memo(spark, ("codebook", sf_dir), build)


@register(
    "ivf_multiprobe_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
      FROM flat GROUP BY label, pos
    ),
    centroids AS (
      SELECT label AS cell, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id % 100 = 0),
    probe_scored AS (
      SELECT qv.query_id, qv.v, cen.cell,
             round(list_dot_product(qv.v, cen.cvec) /
                   (sqrt(list_dot_product(qv.v, qv.v))
                    * sqrt(list_dot_product(cen.cvec, cen.cvec))), 6) AS csim
      FROM qv CROSS JOIN centroids cen
    ),
    probes AS (
      SELECT query_id, v, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, cell ASC) AS pn
        FROM probe_scored
      ) WHERE pn <= 2
    ),
    c AS (SELECT vec_id AS corpus_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.query_id, c.corpus_id, {_COS} AS score
      FROM probes q JOIN c ON q.cell = c.label
    ),
    ranked AS (
      SELECT query_id, corpus_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, corpus_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, corpus_id, score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ivf_multiprobe_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN — each query visits its 2 nearest codebook
    cells (operators/similarity.ivf_multiprobe_topk over in-engine
    centroids from cell_centroids): the FAISS nprobe recall knob with the
    same partition-prunable cell equi-join shape as single-probe IVF."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _codebook(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    return sim.ivf_multiprobe_topk(queries, corpus, centroids, k=5, n_probe=2)


def _components_sql(rounds: int = dd.CC_MAX_ITERATIONS) -> str:
    """Connected components as ``rounds`` chained min-label propagation
    CTEs over the mh_pairs edge list (expects the `edges` CTE). A
    recursive-CTE transitive closure enumerates every reachable PAIR —
    quadratic per clique, and 50x replication makes ~500-member cliques
    (timed out at scale verification). Label propagation is one
    aggregation join per round; the round count is the SAME
    CC_MAX_ITERATIONS constant the Spark operator iterates to (so the
    two sides cannot drift), and the final round is
    convergence-POISONED: if labels still moved on the last round every
    rep comes back NULL, which can never silently match the engine."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    # round references the previous one twice -> exponential expansion
    # (observed as a file-handle explosion before it even runs)
    parts = ["l0 AS MATERIALIZED (SELECT DISTINCT a AS doc_id, a AS lbl FROM edges)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"l{i} AS MATERIALIZED (\n"
            f"      SELECT p.doc_id, LEAST(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl\n"
            f"      FROM l{i - 1} p\n"
            f"      LEFT JOIN edges e ON e.a = p.doc_id\n"
            f"      LEFT JOIN l{i - 1} q ON q.doc_id = e.b\n"
            f"      GROUP BY p.doc_id, p.lbl\n"
            f"    )"
        )
    parts.append(
        f"comp AS (\n"
        f"      SELECT a.doc_id,\n"
        f"             CASE WHEN bool_and(a.lbl = b.lbl) OVER () THEN a.lbl END AS cluster_rep\n"
        f"      FROM l{rounds} a JOIN l{rounds - 1} b USING (doc_id)\n"
        f"    )"
    )
    return ",\n    ".join(parts)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH {_MINHASH_PAIRS_WITH},
    edges AS MATERIALIZED (
      SELECT doc1 AS a, doc2 AS b FROM mh_pairs
      UNION
      SELECT doc2, doc1 FROM mh_pairs
    ),
    {_components_sql()}
    SELECT doc_id, cluster_rep FROM comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup story: MinHash-LSH verified pairs clustered
    into duplicate groups via iterative min-label propagation
    (operators/dedup_docs.connected_components) — (doc_id, cluster_rep)
    where the rep (component-min id) is what a keep-list retains. The
    oracle runs the SAME propagation as CC_MAX_ITERATIONS chained SQL rounds with a
    convergence poison (non-converged labels surface as NULL reps and
    fail the comparison); the Spark loop is the distributed formulation
    (rounds = graph diameter, star-capped pairs keep it 2-3)."""
    pairs = dd.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"), num_hashes=16, bands=4, threshold=0.2
    )
    return dd.connected_components(pairs)


# --------------------------------------------------------------------------
# deterministic sampling (corpus curation)
# --------------------------------------------------------------------------

from financedatabase_spark.operators import sampling as smp  # noqa: E402

#: corpus-rebalancing spec: downsample the high-resource language, keep
#: the low-resource tail.
_MIX = {"en": 0.3, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 1.0}
_MIX_VALUES = ", ".join(
    f"('{lang}', '{smp.fraction_threshold_hex(p)}')" for lang, p in _MIX.items()
)


@register(
    "stratified_sample_docs",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (VALUES {_MIX_VALUES}) AS s(lang, thr) ON d.lang = s.lang
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < s.thr
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus rebalancing
    (operators/sampling.stratified_sample): keep 30% of English, 80% of
    de/fr/es, all of zh — selected by md5 hash bucket of doc_id, so the
    sample is identical across runs, engines, and partition layouts
    (unlike seeded-RNG `sampleBy`). Map-side filter; no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return smp.stratified_sample(docs, _MIX, stratum_col="lang")


@register(
    "bm25_search",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n, sum(len(words))::BIGINT AS dl_sum,
             sum(CASE WHEN list_contains(words, 'spark') THEN 1 ELSE 0 END)::BIGINT AS df0,
             sum(CASE WHEN list_contains(words, 'vector') THEN 1 ELSE 0 END)::BIGINT AS df1,
             sum(CASE WHEN list_contains(words, 'stream') THEN 1 ELSE 0 END)::BIGINT AS df2
      FROM w
    ),
    tf AS (
      SELECT doc_id, len(words)::DOUBLE AS dl,
             len(list_filter(words, x -> x = 'spark'))::DOUBLE AS tf0,
             len(list_filter(words, x -> x = 'vector'))::DOUBLE AS tf1,
             len(list_filter(words, x -> x = 'stream'))::DOUBLE AS tf2
      FROM w
    ),
    scored AS (
      SELECT doc_id,
             round(
               ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
                 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
                 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0)
                 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             , 6) AS score
      FROM tf, stats
    )
    SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT 15
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the query "spark vector stream"
    (operators/retrieval.bm25_topk, Lucene idf form): corpus stats from
    one conditional-sum aggregate pass, map-side scoring, top-k via
    limit (TakeOrderedAndProject). The lexical half of hybrid search
    next to `embedding_cosine_topk`/`embedding_ivf_topk`; scores
    rounded at 1e-6 before ranking so both engines order identically."""
    from financedatabase_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "vector", "stream"], k=15)


@register(
    "hybrid_search_rrf",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n, sum(len(words))::BIGINT AS dl_sum,
             sum(CASE WHEN list_contains(words, 'spark') THEN 1 ELSE 0 END)::BIGINT AS df0,
             sum(CASE WHEN list_contains(words, 'vector') THEN 1 ELSE 0 END)::BIGINT AS df1,
             sum(CASE WHEN list_contains(words, 'stream') THEN 1 ELSE 0 END)::BIGINT AS df2
      FROM w
    ),
    tf AS (
      SELECT doc_id, len(words)::DOUBLE AS dl,
             len(list_filter(words, x -> x = 'spark'))::DOUBLE AS tf0,
             len(list_filter(words, x -> x = 'vector'))::DOUBLE AS tf1,
             len(list_filter(words, x -> x = 'stream'))::DOUBLE AS tf2
      FROM w
    ),
    lex_scored AS (
      SELECT doc_id,
             round(
               ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
                 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
                 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0)
                 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (dl_sum / n)))
             , 6) AS score
      FROM tf, stats
    ),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
      FROM lex_scored WHERE score > 0
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS v FROM embeddings),
    dense_scored AS (
      SELECT c.corpus_id,
             round(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
      FROM q CROSS JOIN c
    ),
    dense AS (
      SELECT corpus_id AS doc_id, row_number() OVER (ORDER BY score DESC, corpus_id)::BIGINT AS rank
      FROM dense_scored ORDER BY score DESC, corpus_id LIMIT 20
    ),
    fused AS (
      SELECT doc_id,
             round(sum(1.0::DOUBLE / (60.0::DOUBLE + rank)), 6) AS rrf_score,
             count(*)::BIGINT AS n_lists
      FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
      GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_lists,
           row_number() OVER (ORDER BY rrf_score DESC, doc_id)::BIGINT AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion of the lexical BM25
    top-20 ("spark vector stream") with the dense cosine top-20 for the
    vec_id=0 query embedding (operators/retrieval.rrf_fuse). The two
    ranked lists are k-row frames, so fusion costs one tiny union +
    groupBy + TakeOrderedAndProject regardless of corpus size; rank
    fusion never mixes the incomparable BM25/cosine score scales.
    With document chunking, BM25, and IVF ANN in place this closes the
    retrieval stack a RAG data pipeline needs."""
    from financedatabase_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "vector", "stream"], k=20).select("doc_id", "rank")
    dense = sim.cosine_topk(
        emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("corpus_id"), "embedding"),
        k=20,
    ).select(F.col("corpus_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, dense], k=10)


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH tot AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tot
      FROM documents GROUP BY source
    ),
    w(source, wgt) AS (VALUES ('src0', 0.5), ('src1', 0.2), ('src2', 0.2), ('src3', 0.1)),
    thr AS (
      SELECT t.source,
             CASE WHEN (w.wgt * 20000) / t.tot >= 1.0 THEN 'gggggggg'
                  ELSE printf('%08x', CAST(trunc(least(1.0, (w.wgt * 20000) / t.tot)
                                               * 4294967296.0) AS BIGINT))
             END AS thr
      FROM tot t JOIN w USING (source)
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN thr USING (source)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixing to a 20k-token budget
    (operators/sampling.corpus_mixture): per-source acceptance
    min(1, weight·budget/available) — src0's 50% share oversubscribes
    its supply and clamps to keep-all, the others thin deterministically
    by md5 bucket. The oracle re-derives the rates and the exact hex
    thresholds (trunc(rate·16^8) printf'd) in SQL, so membership is
    bit-identical."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return smp.corpus_mixture(
        docs, {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.1}, token_budget=20000
    )


@register(
    "fixed_size_sample_docs",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ASC,
                        doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def fixed_size_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-stratum sample
    (operators/sampling.fixed_size_sample): exactly 10 docs per language
    chosen by hash order — a reproducible reservoir whose membership is
    stable under row order, partitioning, and appends (only hash-rank
    evictions change it). One shuffle on the stratum key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return smp.fixed_size_sample(docs, 10, stratum_col="lang")


@register(
    "corpus_curation_pipeline",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
             len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
             len(regexp_extract_all(text, '[0-9]')) AS n_digit,
             len(regexp_extract_all(lower(text),
                 '\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as|at|by)\b')) AS n_stop,
             len(regexp_extract_all(lower(text), '[一-鿿]')) AS zh,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with)\b')) AS en,
             len(regexp_extract_all(lower(text), '\b(el|la|los|las|de|que|y|en)\b')) AS es,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit)\b')) AS de,
             len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|est|pour|dans)\b')) AS fr
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tok,
             0.25 * least(n_tok / 64.0, 1.0)
           + 0.25 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0, 1.0))
           + 0.25 * least((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 4.0, 1.0)
           + 0.25 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END) * 4.0, 1.0))
             AS quality,
             CASE WHEN zh > 0 THEN 'zh'
                  WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en'
                  WHEN es > 0 AND es > en AND es >= de AND es >= fr THEN 'es'
                  WHEN de > 0 AND de > en AND de > es AND de >= fr THEN 'de'
                  WHEN fr > 0 AND fr > en AND fr > es AND fr > de THEN 'fr'
                  ELSE 'und' END AS lang_guess
      FROM base
    ),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
            FROM documents)
      GROUP BY h
    ),
    filtered AS (
      SELECT s.doc_id, s.lang_guess, s.quality, s.n_tok::BIGINT AS n_tokens_ws
      FROM scored s JOIN keep k ON s.doc_id = k.doc_id
      WHERE s.quality >= 0.7
    )
    SELECT f.doc_id, f.lang_guess, f.quality, f.n_tokens_ws
    FROM filtered f
    JOIN (VALUES {_MIX_VALUES}) AS m(lang, thr) ON f.lang_guess = m.lang
    WHERE substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8) < m.thr
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation in one DAG — the composite the
    individual document operators exist for: exact-dedup keep-list
    (canonical copy per content hash) ⨝ per-doc stats → quality gate
    (>= 0.7) + in-engine language ID → deterministic per-language
    rebalancing sample. Two shuffles total (content-hash group, keep-list
    join); the quality/lang/sample stages are all map-side."""
    docs = load_table(spark, sf_dir, "documents")
    stats = tx.doc_stats(docs).select("doc_id", "lang_guess", "quality", "n_tokens_ws")
    keep = dd.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    filtered = stats.join(keep, "doc_id").filter(F.col("quality") >= 0.7)
    return smp.stratified_sample(filtered, _MIX, stratum_col="lang_guess")


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    flat AS (
      SELECT vec_id, u.pos - 1 AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    rng AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM flat GROUP BY pos)
    SELECT f.vec_id, f.pos::INT AS pos,
           (CASE WHEN r.hi = r.lo THEN 0
                 ELSE floor((f.x - r.lo) / (r.hi - r.lo) * 255) END)::INT AS code
    FROM flat f JOIN rng r ON f.pos = r.pos
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 scalar quantization
    (operators/similarity.scalar_quantize_int8): per-dim [min,max]
    codebook -> uint8 codes, 4x storage cut for the column that
    dominates bytes at scale. All-integer output; the oracle evaluates
    the identical element-wise code formula."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.scalar_quantize_int8(emb)


# --------------------------------------------------------------------------
# privacy scrub + decontamination
# --------------------------------------------------------------------------

#: Deterministic PII injection (the synthetic corpus ships clean): every
#: third doc gains one hit per category, so the scrub has real spans to
#: find and the driver verifies counts, redacted length, and redacted
#: hash bit-for-bit. Identical expression in both engines.
_SEEDED = """
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' contact user' || doc_id || '@example.com tel 555-867-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' ip 10.0.' || (doc_id % 256) || '.7 ssn 123-45-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS t
  FROM documents
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
_PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "pii_redaction",
    oracle=f"""
    WITH seeded AS ({_SEEDED}),
    r1 AS (SELECT doc_id, len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
                  regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t FROM seeded),
    r2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '{_PII_SSN}')) AS n_ssn,
                  regexp_replace(t, '{_PII_SSN}', '[SSN]', 'g') AS t FROM r1),
    r3 AS (SELECT doc_id, n_email, n_ssn,
                  len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
                  regexp_replace(t, '{_PII_PHONE}', '[PHONE]', 'g') AS t FROM r2),
    r4 AS (SELECT doc_id, n_email, n_ssn, n_phone,
                  len(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ipv4,
                  regexp_replace(t, '{_PII_IPV4}', '[IPV4]', 'g') AS t FROM r3)
    SELECT doc_id, n_email::BIGINT AS n_email, n_ssn::BIGINT AS n_ssn,
           n_phone::BIGINT AS n_phone, n_ipv4::BIGINT AS n_ipv4,
           length(t)::BIGINT AS n_redacted_chars, md5(t) AS redacted_hash
    FROM r4
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-scrub stage (operators/text.pii_redact): seed deterministic
    PII into every third doc, then redact emails/SSNs/phones/IPs with the
    RE2-and-Java-common-subset patterns and report per-category counts
    plus the redacted text's length and md5. Pure regexp_* column
    expressions — codegen'd, shuffle-free, one corpus scan at any SF."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com tel 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 ssn 123-45-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    return seeded.select(
        "doc_id",
        *tx.pii_counts("t"),
        F.length(tx.pii_redact("t")).cast("long").alias("n_redacted_chars"),
        F.md5(tx.pii_redact("t")).alias("redacted_hash"),
    )


@register(
    "benchmark_contamination",
    oracle="""
    WITH base AS (
      -- corpus + seeded verbatim train copies of every benchmark doc
      -- (clones live in the negative id namespace, -doc_id-1: disjoint
      -- from genuine nonnegative ids at any corpus size, and -97k-1 is
      -- never ≡ 0 mod 97, so no clone re-enters bench)
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
             FROM base),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) >= 8
             THEN list_transform(generate_series(1, len(w) - 7),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                      || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
                                      || ' ' || w[i+6] || ' ' || w[i+7])
             ELSE [] END)) AS shingle
      FROM toks
    ),
    bench AS (SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % 97 = 0),
    bsize AS (SELECT bench_doc, count(*) AS bench_shingles FROM bench GROUP BY 1),
    shared AS (
      SELECT t.doc_id AS train_doc, b.bench_doc, count(*) AS shared_shingles
      FROM sh t JOIN bench b ON t.shingle = b.shingle AND t.doc_id <> b.bench_doc
      GROUP BY 1, 2
    )
    SELECT s.train_doc, s.bench_doc, s.shared_shingles::BIGINT AS shared_shingles,
           z.bench_shingles::BIGINT AS bench_shingles,
           CAST(s.shared_shingles AS DOUBLE) / CAST(z.bench_shingles AS DOUBLE)
             AS contamination
    FROM shared s JOIN bsize z USING (bench_doc)
    WHERE CAST(s.shared_shingles AS DOUBLE) / CAST(z.bench_shingles AS DOUBLE) >= 0.2
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup_docs.contamination_pairs):
    8-gram overlap ratio between every train doc and a held-out benchmark
    slice (doc_id % 97). The benchmark shingle table broadcasts, so the
    corpus pays one scan and a map-side join — the pre-training
    contamination audit at 100 TB.

    POSITIVE CONTROL: the train side is the corpus plus a verbatim
    clone of every benchmark doc, in the NEGATIVE id namespace
    (clone_id = -doc_id - 1): genuine doc ids are nonnegative, so
    clones can never collide with a real train doc at ANY corpus size
    (a fixed +1e7 offset would collide past ~10M docs), and a bench
    doc's id is 97k so its clone -97k-1 is ≡ -1 (mod 97) and never
    re-enters the benchmark slice. Each clone of a bench doc with
    >= 8 tokens scores contamination 1.0, so the result is guaranteed
    NONZERO at sf0.01 — the oracle row proves the shared-shingle join
    and the ratio arithmetic agree, not merely that both engines
    return empty."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    clones = bench.select(
        (-F.col("doc_id") - F.lit(1)).alias("doc_id"), "text"
    )
    train = docs.select("doc_id", "text").unionByName(clones)
    return dd.contamination_pairs(train, bench, k=8, min_ratio=0.2)


@register(
    "kmeans_lloyd_refine",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    flat0 AS (
      SELECT label AS cell, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cm0 AS (SELECT cell, pos,
                   CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
            FROM flat0 GROUP BY cell, pos),
    cen0 AS (SELECT cell, list(m ORDER BY pos) AS cvec FROM cm0 GROUP BY cell),
    s1 AS (
      SELECT v.vec_id, v.emb, c.cell,
             round(list_dot_product(v.emb, c.cvec) /
                   (sqrt(list_dot_product(v.emb, v.emb))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
      FROM v CROSS JOIN cen0 c
    ),
    a1 AS (
      SELECT vec_id, emb, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cell ASC) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    flat1 AS (
      SELECT a.cell, u.pos AS pos, u.x AS x
      FROM a1 a, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cm1 AS (SELECT cell, pos,
                   CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
            FROM flat1 GROUP BY cell, pos),
    cen1 AS (SELECT cell, list(m ORDER BY pos) AS cvec FROM cm1 GROUP BY cell),
    s2 AS (
      SELECT v.vec_id, c.cell,
             round(list_dot_product(v.emb, c.cvec) /
                   (sqrt(list_dot_product(v.emb, v.emb))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
      FROM v CROSS JOIN cen1 c
    )
    SELECT vec_id, cell AS assigned_label, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, cell ASC) AS rn
      FROM s2
    ) WHERE rn = 1
    """,
)
def kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer TRAINING: two Lloyd iterations refining the label-
    seeded codebook (operators/similarity.kmeans_refine) — the iterative
    k-means loop FAISS runs before IVF search, as chained DataFrame
    stages: broadcast codebook -> map-side cosine argmax -> decimal-exact
    centroid update. The corpus is never shuffled whole; per-iteration
    cost is linear in corpus bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_refine(emb, iters=2)


@register(
    "token_shard_packing",
    oracle=r"""
    WITH toks AS (
      SELECT lang, doc_id,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, tok,
             sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT lang, CAST(floor((cum - tok) / 4096.0) AS BIGINT) AS shard_idx,
           count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def token_shard_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-loader layout stage (operators/sampling.token_shard_packing):
    pack docs into 4096-token shards per language by prefix-sum bucketing
    — one window + one agg sharing a single shuffle on the stratum key,
    the same plan shape as the activity bars."""
    docs = load_table(spark, sf_dir, "documents")
    with_tok = docs.select(
        "lang", "doc_id", tx.bpe_token_count("text").alias("tok")
    )
    return smp.token_shard_packing(
        with_tok, "tok", budget=4096, order_col="doc_id", key_cols=["lang"]
    )


@register(
    "deterministic_shuffle",
    oracle="""
    SELECT doc_id, lang,
           (row_number() OVER (
              ORDER BY md5('42|' || doc_id::VARCHAR) || '|'
                       || lpad(doc_id::VARCHAR, 20, '0')) - 1)::BIGINT AS pos
    FROM documents
    """,
)
def deterministic_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global example order
    (operators/sampling.deterministic_shuffle): every doc gets a dense
    0-based position in md5(seed‖id) order — the same permutation on
    every run/engine/partitioning, a different one per seed. Runs the
    hierarchical two-level scan (range exchange + map-side slice
    cumcounts), bit-identical to the oracle's monolithic window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return smp.deterministic_shuffle(docs, seed=42)


@register(
    "shuffled_shard_packing",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok
      FROM documents
    ),
    pos AS (
      SELECT lang, tok,
             (row_number() OVER (
                ORDER BY md5('42|' || doc_id::VARCHAR) || '|'
                         || lpad(doc_id::VARCHAR, 20, '0')) - 1)::BIGINT AS pos
      FROM toks
    ),
    c AS (
      SELECT lang, pos, tok,
             sum(tok) OVER (PARTITION BY lang ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM pos
    )
    SELECT lang, CAST(floor((cum - tok) / 4096.0) AS BIGINT) AS shard_idx,
           count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
           min(pos) AS first_doc, max(pos) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def shuffled_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual loader-layout path: deterministic_shuffle assigns the
    reproducible global example order, token_shard_packing cuts
    4096-token shards per language IN that order — two hierarchical
    two-level scans composed in one DAG. The packed frame carries
    payload columns the totals branch never references, so this is also
    the living regression query for the prune-divergence bug the scan
    once had (SCALE.md r11)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tx.bpe_token_count("text").alias("tok")
    )
    shuffled = smp.deterministic_shuffle(docs, seed=42)
    return smp.token_shard_packing(
        shuffled, "tok", budget=4096, order_col="pos", key_cols=["lang"]
    )


_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
_T_TRAIN = smp.fraction_threshold_hex(0.9)
_T_VAL = smp.fraction_threshold_hex(0.95)


@register(
    "dataset_split_counts",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_T_TRAIN}' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_T_VAL}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS n_chars_total
    FROM assigned GROUP BY 1, 2
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split
    (operators/sampling.dataset_split): md5-bucket interval assignment —
    same row, same split on every run/engine/partitioning, so eval sets
    stay stable as the corpus is re-processed. Zero shuffle to assign;
    the per-(lang, split) audit aggregate here is the pipeline's split
    report."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = smp.dataset_split(docs, _SPLITS)
    return assigned.groupBy("lang", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH {_MINHASH_PAIRS_WITH},
    edges AS MATERIALIZED (
      SELECT doc1 AS a, doc2 AS b FROM mh_pairs
      UNION
      SELECT doc2, doc1 FROM mh_pairs
    ),
    {_components_sql()},
    ranked AS (
      SELECT c.cluster_rep, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_rep
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.cluster_rep) AS n_members
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT cluster_rep, doc_id AS keep_doc, n_chars::BIGINT AS keep_n_chars,
           n_members::BIGINT AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup story's last stage: inside each near-dup cluster keep the
    BEST member (longest text, id-asc tie-break) rather than an arbitrary
    one — what a curation pipeline actually retains. Clusters from the
    distributed min-label components over star-capped LSH pairs; the
    keeper is one window rank over cluster members. Only clustered docs
    appear (singletons keep themselves by definition)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(docs, num_hashes=16, bands=4, threshold=0.2)
    comp = dd.connected_components(pairs)
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("cluster_rep")))
    )
    return ranked.filter(F.col("_rn") == 1).select(
        "cluster_rep",
        F.col("doc_id").alias("keep_doc"),
        F.col("n_chars").cast("long").alias("keep_n_chars"),
        F.col("n_members").cast("long").alias("n_members"),
    )


@register(
    "document_chunks",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, words,
             unnest(range(1, greatest(len(words) - 6, 1) + 1, 18)) AS st
      FROM w
    )
    SELECT doc_id,
           ((st - 1) // 18)::BIGINT AS chunk_idx,
           array_to_string(words[st:st + 23], ' ') AS chunk_text,
           least(len(words) - st + 1, 24)::BIGINT AS chunk_tokens
    FROM s
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for RAG/pretraining prep
    (operators/text.with_document_chunks, max_tokens=24, overlap=6):
    each document splits into overlapping token-bounded chunks — the
    map-only stage every retrieval/packing pipeline starts from. One
    scan, zero shuffle; the oracle re-derives identical chunks with
    range + list slicing."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.with_document_chunks(docs, "text", max_tokens=24, overlap=6).drop("text")


@register(
    "unigram_lm_quality",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(words) AS t FROM w
    ),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    counts AS (SELECT t, count(*)::BIGINT AS c FROM tok2 GROUP BY t),
    vocab AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT 4096),
    tot AS (SELECT sum(c)::BIGINT AS n_kept, count(*)::BIGINT AS v FROM vocab)
    SELECT k.doc_id,
           count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN vb.c IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
           round(sum(log10((coalesce(vb.c, 0) + 0.5)
                           / (tot.n_kept + 0.5 * (tot.v + 1))))
                 / count(*), 6) AS avg_logprob
    FROM tok2 k LEFT JOIN vocab vb ON k.t = vb.t CROSS JOIN tot
    GROUP BY k.doc_id
    """,
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores (operators/lm.unigram_lm_scores):
    corpus-trained add-alpha unigram model with a top-4096 capped
    vocabulary, per-doc mean log10-probability + OOV count. Train pass
    = one token-count shuffle + a TakeOrderedAndProject vocabulary cap;
    score pass = broadcast vocab join + one per-doc shuffle — the
    keep/drop perplexity filter every crawl-curation pipeline runs
    before pretraining."""
    from financedatabase_spark.operators.lm import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_scores(docs, vocab_size=4096, alpha=0.5)


@register(
    "vocab_topk",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(words) AS token FROM w),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dt AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, token),
    v AS (
      SELECT token, sum(tf)::BIGINT AS term_freq, count(*)::BIGINT AS doc_freq
      FROM dt GROUP BY token
    )
    SELECT token, term_freq, doc_freq
    FROM v ORDER BY term_freq DESC, token LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 (operators/lm.vocab_topk): the
    tokenizer-training / corpus-profiling word count. Two combine-heavy
    aggregates (doc-term, then term) and a TakeOrderedAndProject top-k —
    no global sort, no count-distinct expansion."""
    from financedatabase_spark.operators.lm import vocab_topk as vt

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vt(docs, k=100)


@register(
    "tfidf_keywords",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(words) AS term FROM w),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, term),
    tdf AS (SELECT term, count(*)::BIGINT AS dfc FROM dt GROUP BY term HAVING count(*) >= 2),
    n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM documents),
    scored AS (
      SELECT dt.doc_id, dt.term, dt.tf,
             round(dt.tf * ln(n.n::DOUBLE / tdf.dfc), 6) AS score
      FROM dt JOIN tdf USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)::BIGINT AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, score, rank FROM ranked WHERE rank <= 5
    """,
)
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (operators/lm.tfidf_keywords,
    min_df=2): doc-term counts -> term document frequency -> idf join ->
    per-doc top-k window. Three combine-heavy key-partitioned shuffles,
    no collect/broadcast of unbounded state — the topic-tagging stage
    next to the unigram-LM quality filter."""
    from financedatabase_spark.operators.lm import tfidf_keywords as tk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tk(docs, k=5, min_df=2)


@register(
    "domain_blocklist_filter",
    oracle=r"""
    WITH urls AS (
      SELECT doc_id, source,
             'https://' || CASE WHEN doc_id % 11 = 0 THEN 'cdn.' ELSE 'www.' END
             || source
             || CASE WHEN doc_id % 7 = 0 THEN '.spamfarm.example' ELSE '.example.org' END
             || '/d/' || doc_id AS url
      FROM documents
    ),
    hosts AS (
      SELECT doc_id, source,
             lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
      FROM urls
    ),
    bl(domain) AS (
      VALUES ('spamfarm.example'), ('src1.example.org'), ('www.src2.example.org')
    )
    SELECT doc_id, host, source
    FROM hosts h
    WHERE NOT EXISTS (
      SELECT 1 FROM bl b
      WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain
    )
    """,
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain quarantine (curation stage): documents whose
    URL host is a blocked registrable domain — or any subdomain of one —
    are dropped. URLs are derived deterministically from (source, doc_id)
    since the synthetic corpus carries no URL column; the blocklist mixes
    an apex domain (suffix-blocks every subdomain), a source-level apex,
    and one exact host. Engine side: distinct hosts explode into bounded
    dot-suffix chains, semi-join the broadcast blocklist, and the blocked
    set broadcasts back as a map-side anti-join (operators/corrections.py
    filter_blocked_domains) — the corpus rows themselves never shuffle.
    The oracle states the same semantics relationally (NOT EXISTS with an
    exact-or-LIKE suffix probe) for an independent formulation."""
    from financedatabase_spark.operators.corrections import (
        domain_blocklist_dim,
        filter_blocked_domains,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("cdn.")).otherwise(F.lit("www.")),
            F.col("source"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(".spamfarm.example")).otherwise(
                F.lit(".example.org")
            ),
            F.lit("/d/"),
            F.col("doc_id").cast("string"),
        ),
    )
    bl = domain_blocklist_dim(
        spark, ["spamfarm.example", "src1.example.org", "www.src2.example.org"]
    )
    from financedatabase_spark.operators.corrections import registrable_host

    # extract the host ONCE and hand it to the filter via host_col — the
    # kept rows then reuse it instead of paying a second regex pass
    urls = urls.withColumn("host", registrable_host(F.col("url")))
    kept = filter_blocked_domains(urls, bl, url_col="url", host_col="host")
    return kept.select("doc_id", "host", "source")


@register(
    "exact_substring_dedup",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, """ + _NORM + r""" AS nt FROM documents
    ),
    w AS (SELECT doc_id, nt, string_split(nt, ' ') AS wl FROM norm),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(wl[i : i + 7], ' ')) AS h
      FROM w, unnest(generate_series(1, greatest(len(wl) - 7, 0))) AS t(i)
    ),
    dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    starts AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
    rem AS (
      SELECT DISTINCT doc_id, pos + j AS rp
      FROM starts, unnest(generate_series(0, 7)) AS s(j)
    ),
    tok AS (
      SELECT doc_id, i AS p, wl[i] AS word
      FROM w, unnest(generate_series(1, len(wl))) AS t(i)
    ),
    kept AS (
      SELECT t.doc_id, t.p, t.word
      FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.p = r.rp
      WHERE r.rp IS NULL
    ),
    agg AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS cleaned_text,
             count(*)::BIGINT AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT n.doc_id,
           coalesce(a.cleaned_text, '') AS cleaned_text,
           (len(string_split(n.nt, ' ')) - coalesce(a.n_kept, 0))::BIGINT AS n_removed_tokens,
           (length(n.nt) - length(coalesce(a.cleaned_text, '')))::BIGINT AS n_removed_chars
    FROM norm n LEFT JOIN agg a USING (doc_id)
    """,
)
def exact_substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2021 ExactSubstr) over the
    documents corpus, k=8 tokens: every 8-gram occurring twice anywhere
    in the corpus marks its span duplicated; spans union per doc and the
    cleaned text is re-emitted (operators/dedup_docs.py
    exact_substring_dedup — one gram-hash shuffle, window count, in-row
    reassembly). The oracle restates the span arithmetic relationally
    (explode-join-distinct over positions)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.exact_substring_dedup(docs, k=8, min_count=2)


@register(
    "ivf_pq_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
      FROM flat GROUP BY label, pos
    ),
    centroids AS (
      SELECT label AS cell, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    subcb AS (
      SELECT s.sub, cen.cell AS cid, cen.cvec[s.sub*8+1 : s.sub*8+8] AS cv
      FROM centroids cen, (SELECT unnest(generate_series(0, 7)) AS sub) s
    ),
    csubs AS (
      SELECT v.vec_id AS corpus_id, v.label, s.sub, v.emb[s.sub*8+1 : s.sub*8+8] AS sv
      FROM v, (SELECT unnest(generate_series(0, 7)) AS sub) s
    ),
    enc_scored AS (
      SELECT c.corpus_id, c.label, c.sub, b.cid,
             CAST(floor((list_dot_product(c.sv, c.sv) + list_dot_product(b.cv, b.cv)
                         - 2 * list_dot_product(c.sv, b.cv)) * 1e6 + 0.5e0) AS BIGINT) AS d
      FROM csubs c JOIN subcb b USING (sub)
    ),
    codes AS (
      SELECT corpus_id, label, sub, cid AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY corpus_id, sub
                                     ORDER BY d ASC, cid ASC) AS rn
        FROM enc_scored
      ) WHERE rn = 1
    ),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
           FROM embeddings WHERE vec_id % 100 = 0),
    probe_scored AS (
      SELECT qv.query_id, cen.cell,
             round(list_dot_product(qv.q, cen.cvec) /
                   (sqrt(list_dot_product(qv.q, qv.q))
                    * sqrt(list_dot_product(cen.cvec, cen.cvec))), 6) AS csim
      FROM qv CROSS JOIN centroids cen
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, cell ASC) AS pn
        FROM probe_scored
      ) WHERE pn <= 2
    ),
    qtab AS (
      SELECT qv.query_id, b.sub, b.cid,
             CAST(floor((list_dot_product(qv.q[b.sub*8+1 : b.sub*8+8], qv.q[b.sub*8+1 : b.sub*8+8])
                         + list_dot_product(b.cv, b.cv)
                         - 2 * list_dot_product(qv.q[b.sub*8+1 : b.sub*8+8], b.cv)) * 1e6 + 0.5e0) AS BIGINT) AS d
      FROM qv CROSS JOIN subcb b
    ),
    scored AS (
      SELECT p.query_id, c.corpus_id,
             CAST(sum(t.d) AS DOUBLE) / 1e6 AS approx_dist
      FROM probes p
      JOIN codes c ON c.label = p.cell
      JOIN qtab t ON t.query_id = p.query_id AND t.sub = c.sub AND t.cid = c.code
      GROUP BY p.query_id, c.corpus_id
    )
    SELECT query_id, corpus_id, approx_dist, rank::BIGINT AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist ASC, corpus_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN search (Jégou et al. 2011) — the 100 TB index layout:
    coarse IVF cells (in-engine centroids) hold 8-subspace PQ codes; each
    query probes its 2 nearest cells and ranks candidates by asymmetric
    distance through a broadcast per-query lookup table, never touching
    raw corpus floats (operators/similarity.ivf_pq_topk). Exact 1e-6
    integer-unit distances make ranks engine-portable; the oracle
    restates the table-lookup fold relationally (join on (sub, code) +
    group sum)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _codebook(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    return sim.ivf_pq_topk(queries, corpus, centroids, m=8, dim=64, k=5, n_probe=2)


@register(
    "gopher_quality_filter",
    oracle="""
    WITH norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             string_split(t, ' ') AS w,
             len(regexp_extract_all(text, '#|\\.\\.\\.'))::BIGINT AS sym
      FROM norm
    ),
    m AS (
      SELECT doc_id,
             len(w)::BIGINT AS n_words,
             list_sum(list_transform(w, x -> len(x)))::BIGINT AS len_sum,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS alpha,
             (list_contains(w, 'the')::INT + list_contains(w, 'be')::INT
              + list_contains(w, 'to')::INT + list_contains(w, 'of')::INT
              + list_contains(w, 'and')::INT + list_contains(w, 'that')::INT
              + list_contains(w, 'have')::INT + list_contains(w, 'with')::INT
             )::BIGINT AS stopword_hits,
             sym
      FROM w
    ),
    r AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN len_sum / n_words ELSE 0e0 END AS mean_word_len,
             CASE WHEN n_words > 0 THEN sym / n_words ELSE 0e0 END AS symbol_ratio,
             CASE WHEN n_words > 0 THEN alpha / n_words ELSE 0e0 END AS alpha_word_ratio,
             stopword_hits
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           stopword_hits,
           n_words BETWEEN 50 AND 100000 AS ok_n_words,
           mean_word_len BETWEEN 3.0e0 AND 10.0e0 AS ok_word_len,
           symbol_ratio <= 0.1e0 AS ok_symbols,
           alpha_word_ratio >= 0.8e0 AS ok_alpha,
           stopword_hits >= 2 AS ok_stopwords,
           (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0e0 AND 10.0e0)
             AND symbol_ratio <= 0.1e0 AND alpha_word_ratio >= 0.8e0
             AND stopword_hits >= 2 AS pass
    FROM r
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021) as per-rule flags + overall
    keep/drop verdict — operators/text.gopher_quality. Whole corpus, one
    codegen projection, no shuffle (tests/test_plan_quality gates it)."""
    return tx.gopher_quality(load_table(spark, sf_dir, "documents"))


@register(
    "bigram_lm_quality",
    oracle="""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    bi AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM w, UNNEST(generate_series(1, len(w) - 1)) u(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
    top AS (SELECT w1, w2, c12 FROM bc ORDER BY c12 DESC, w1, w2 LIMIT 4096),
    ctx AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
    v AS (SELECT count(*) AS n FROM ctx),
    sc AS (
      SELECT b.doc_id, (t.c12 IS NULL)::INT AS oov,
             log10((coalesce(t.c12, 0) + 0.5e0)
                   / (c.c1 + 0.5e0 * ((SELECT n FROM v) + 1))) AS lp
      FROM bi b
      JOIN ctx c USING (w1)
      LEFT JOIN top t ON b.w1 = t.w1 AND b.w2 = t.w2
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(oov)::BIGINT AS oov_bigrams,
           round(sum(lp) / count(*), 6) AS avg_logprob
    FROM sc GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter, bigram upgrade: per-doc mean
    log10 P(w2|w1) under a corpus-trained add-alpha bigram model with a
    top-4096 capped bigram table (operators/lm.bigram_lm_scores)."""
    from financedatabase_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


def _v28_of(expr: str) -> str:
    """DuckDB twin of Spark's conv(substring(md5(x),1,7),16,10): expand
    the first 7 hex digits positionally (same move as the MinHash
    oracle's _V28, parametrized on the hashed expression)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (6 - i)}"
        for i in range(7)
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, (lang = 'en') AS tgt,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    w AS (SELECT doc_id, tgt, string_split(t, ' ') AS w FROM norm),
    f AS (
      SELECT doc_id, tgt,
             ({_v28_of("w[i] || ' ' || w[i + 1]")})::BIGINT % 64 AS bucket
      FROM w, UNNEST(generate_series(1, len(w) - 1)) u(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    pd AS (SELECT doc_id, tgt, bucket, count(*) AS nf FROM f GROUP BY 1, 2, 3),
    h AS (
      SELECT bucket, sum(nf)::BIGINT AS cq,
             sum(CASE WHEN tgt THEN nf ELSE 0 END)::BIGINT AS cp
      FROM pd GROUP BY 1
    ),
    tot AS (SELECT sum(cq)::BIGINT AS nraw, sum(cp)::BIGINT AS ntgt FROM h),
    sc AS (
      SELECT pd.doc_id, pd.nf,
             log10((h.cp + 1) / ((SELECT ntgt FROM tot) + 64e0))
             - log10((h.cq + 1) / ((SELECT nraw FROM tot) + 64e0)) AS lw
      FROM pd JOIN h USING (bucket)
    )
    SELECT doc_id, sum(nf)::BIGINT AS n_feats,
           round(sum(nf * lw), 6) AS log_weight
    FROM sc GROUP BY doc_id
    """,
)
def dsir_importance_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): log-space likelihood
    ratio of hashed-bigram features under the English target slice vs
    the raw corpus (operators/sampling.dsir_importance_weights);
    resampling proportional to exp(weight) shifts the mixture toward
    the target domain."""
    return smp.dsir_importance_weights(
        load_table(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


@register(
    "semdedup_keep_list",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS m
      FROM flat GROUP BY label, pos
    ),
    cen AS (
      SELECT label AS cl, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    scored AS MATERIALIZED (
      -- slim (vec_id, cl, sim) projection, materialized: a window over
      -- the raw cross product carries both 64-double lists into the
      -- sort and cannot spill in DuckDB 1.0 (observed: 22 GB+ at 50x);
      -- the max-agg reformulation below streams in O(groups) state
      SELECT v.vec_id, c.cl,
             round(list_cosine_similarity(v.emb, c.cvec), 6) AS sim
      FROM v CROSS JOIN cen c
    ),
    best AS (SELECT vec_id, max(sim) AS msim FROM scored GROUP BY vec_id),
    assign AS MATERIALIZED (
      SELECT s.vec_id, min(s.cl) AS cluster, b.msim AS csim
      FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.sim = b.msim
      GROUP BY s.vec_id, b.msim
    ),
    assign_e AS MATERIALIZED (
      -- vectors attached ONCE per row before the per-cluster self-join:
      -- joining v twice onto the pair table puts a pairs-count-sized
      -- list-carrying intermediate on a hash-join build side (observed
      -- 55 GB+ spill at 50x); this keeps every build side corpus-sized
      SELECT a.vec_id, a.cluster, v.emb
      FROM assign a JOIN v ON v.vec_id = a.vec_id
    ),
    p AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM assign_e x
      JOIN assign_e y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= 0.4e0
    ),
    edges AS MATERIALIZED (SELECT a, b FROM p UNION SELECT b, a FROM p),
    {_components_sql()},
    labeled AS (
      SELECT a.vec_id, a.cluster, a.csim,
             coalesce(c.cluster_rep, a.vec_id) AS group_rep
      FROM assign a LEFT JOIN comp c ON c.doc_id = a.vec_id
    )
    SELECT vec_id, cluster, csim AS cosine_to_centroid, group_rep,
           row_number() OVER (PARTITION BY group_rep
                              ORDER BY csim ASC, vec_id ASC) = 1 AS keep
    FROM labeled
    """,
)
def semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning decisions (Abbas et al. 2023,
    operators/similarity.semdedup): nearest-centroid assignment →
    within-cluster cosine >= 0.4 duplicate groups (connected
    components) → keep the group member FARTHEST from its centroid.
    The oracle runs the same min-label propagation via the shared
    convergence-poisoned _components_sql, whose round count is the
    operator's own CC_MAX_ITERATIONS (6 inline rounds
    failed at 10x: identical copies chain the groups into longer
    diameters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = sim.cell_centroids(emb, dim=64)
    return sim.semdedup(emb, centroids, tau=0.4)


@register(
    "ccnet_quality_tertiles",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(words) AS t FROM w),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    counts AS (SELECT t, count(*)::BIGINT AS c FROM tok2 GROUP BY t),
    vocab AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT 4096),
    tot AS (SELECT sum(c)::BIGINT AS n_kept, count(*)::BIGINT AS v FROM vocab),
    sc AS (
      SELECT k.doc_id,
             round(sum(log10((coalesce(vb.c, 0) + 0.5)
                             / (tot.n_kept + 0.5 * (tot.v + 1))))
                   / count(*), 6) AS avg_logprob
      FROM tok2 k LEFT JOIN vocab vb ON k.t = vb.t CROSS JOIN tot
      GROUP BY k.doc_id
    )
    SELECT s.doc_id, d.lang, s.avg_logprob,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY s.avg_logprob DESC, s.doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM sc s JOIN documents d USING (doc_id)
    """,
)
def ccnet_quality_tertiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's published corpus split (Wenzek et al. 2020): per-language
    head/middle/tail tertiles by unigram-LM score
    (operators/lm.ccnet_tertiles) — the keep/drop boundary used by the
    original CommonCrawl curation and its descendants."""
    from financedatabase_spark.operators.lm import ccnet_tertiles

    return ccnet_tertiles(load_table(spark, sf_dir, "documents"))


def _cms_bucket_sql(row: int, width: int = 1024, col: str = "token") -> str:
    v28 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{row}:' || {col}), {i + 1}, 1)) - 1) * {16 ** (6 - i)}"
        for i in range(7)
    )
    return f"({v28})::BIGINT % {width}"


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH norm AS (
      SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents
    ),
    tok AS (
      SELECT unnest(string_split(t, ' ')) AS token FROM norm
    ),
    counts AS (
      SELECT token, count(*)::BIGINT AS c FROM tok WHERE token <> '' GROUP BY token
    ),
    cells AS (
      {" UNION ALL ".join(f"SELECT {r} AS row, {_cms_bucket_sql(r)} AS bucket, c FROM counts" for r in range(4))}
    ),
    sketch AS (
      SELECT row, bucket, sum(c)::BIGINT AS counter FROM cells GROUP BY 1, 2
    ),
    cand AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 50),
    probes AS (
      {" UNION ALL ".join(f"SELECT token, {r} AS row, {_cms_bucket_sql(r)} AS bucket FROM cand" for r in range(4))}
    )
    SELECT p.token, any_value(cd.c) AS exact_c,
           min(coalesce(s.counter, 0))::BIGINT AS cms_est
    FROM probes p
    JOIN cand cd USING (token)
    LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
    GROUP BY p.token
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketch.py): build the
    4x1024 counter grid vocab-first (one token shuffle, d*|vocab| cells,
    never d*occurrences), then point-estimate the exact top-50 tokens
    against it. Output carries exact_c beside cms_est, making the
    sketch's one-sided error auditable row-by-row (cms_est >= exact_c
    always; equality when no collision). The grid itself is <= 4096
    rows — broadcastable, mergeable by addition across partitions,
    streams, or days."""
    from financedatabase_spark.operators.sketch import cms_build, cms_estimate, token_counts

    from financedatabase_spark.session import barrier

    counts = barrier(token_counts(load_table(spark, sf_dir, "documents")))
    sketch = cms_build(counts, depth=4, width=1024)
    cand = counts.orderBy(F.col("c").desc(), "token").limit(50)
    est = cms_estimate(sketch, cand, depth=4, width=1024)
    return cand.select("token", F.col("c").alias("exact_c")).join(est, "token")


_HLL_H = "(strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 1048576 * 16 + " + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(token), {i + 1}, 1)) - 1) * {16 ** (6 - i)}"
    for i in range(1, 7)
)


@register(
    "hll_token_cardinality",
    oracle=f"""
    WITH norm AS (
      SELECT lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    tok AS (
      SELECT lang, unnest(string_split(t, ' ')) AS token FROM norm
    ),
    tok2 AS (SELECT lang, token FROM tok WHERE token <> ''),
    hashed AS (
      SELECT lang,
             ({_HLL_H})::BIGINT // 4194304 AS bucket,
             ({_HLL_H})::BIGINT % 4194304 AS w
      FROM tok2
    ),
    regs AS (
      SELECT lang, bucket,
             max(CASE WHEN w = 0 THEN 23 ELSE 23 - length(bin(w)) END) AS r
      FROM hashed GROUP BY 1, 2
    ),
    est AS (
      SELECT lang,
             sum(1e0 / (1::BIGINT << r)) AS s,
             count(*)::BIGINT AS nb
      FROM regs GROUP BY lang
    ),
    exact AS (SELECT lang, count(DISTINCT token)::BIGINT AS exact_distinct FROM tok2 GROUP BY lang)
    SELECT e.lang,
           round(0.709e0 * 64 * 64 / (s + (64 - nb)), 6) AS hll_est,
           (64 - nb)::BIGINT AS zero_buckets,
           x.exact_distinct
    FROM est e JOIN exact x USING (lang)
    """,
)
def hll_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality per language
    (operators/sketch.hll_registers/hll_estimate): 64 integer registers
    per group — mergeable by MAX across partitions/streams/days — with
    the raw estimate's dyadic-rational harmonic sum exact in double on
    both engines. exact_distinct rides along so the sketch's error is
    auditable per row; at 100 TB the registers replace a
    count(DISTINCT) whose exact form needs a full shuffle of every
    token."""
    from financedatabase_spark.operators.sketch import hll_estimate, hll_registers
    from financedatabase_spark.operators.text import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("lang", F.explode_outer(F.split(normalized_text("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    regs = hll_registers(toks, ["lang"], "token")
    est = hll_estimate(regs, ["lang"])
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return est.join(exact, "lang")


def _bloom_pos_sql(i: int, m: int = 65536, col: str = "h") -> str:
    v28 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{i}:' || {col}), {j + 1}, 1)) - 1) * {16 ** (6 - j)}"
        for j in range(7)
    )
    return f"({v28})::BIGINT % {m}"


@register(
    "bloom_decontamination_prefilter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
      FROM documents
    ),
    bench AS (SELECT h FROM d WHERE doc_id % 97 = 0),
    bpos AS (
      {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(i)} AS pos FROM bench" for i in range(3))}
    ),
    bloom AS (
      SELECT pos // 32 AS word_idx, bit_or(1::BIGINT << (pos % 32)::INT) AS bits
      FROM bpos GROUP BY 1
    ),
    ppos AS (
      {" UNION ALL ".join(f"SELECT doc_id, h, {_bloom_pos_sql(i)} AS pos FROM d" for i in range(3))}
    ),
    hit AS (
      SELECT p.doc_id, p.h,
             (coalesce(b.bits, 0) & (1::BIGINT << (p.pos % 32)::INT)) <> 0 AS s
      FROM ppos p LEFT JOIN bloom b ON b.word_idx = p.pos // 32
    ),
    verdict AS (
      SELECT doc_id, h, min(s::INT)::INT = 1 AS might_contain
      FROM hit GROUP BY doc_id, h
    )
    SELECT v.doc_id, v.might_contain,
           EXISTS (SELECT 1 FROM bench b WHERE b.h = v.h) AS is_member
    FROM verdict v
    """,
)
def bloom_decontamination_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination PRE-filter (operators/sketch.
    bloom_build/bloom_might_contain): the benchmark set's content
    hashes pack into a 65536-bit bitmap (2048 32-bit words, bit_or-merged,
    broadcast); every corpus doc probes it map-side and only
    'might_contain' rows would pay the exact membership join. The exact
    verdict rides along per row, making false positives auditable and
    false negatives provably absent (the pytest pins both)."""
    from financedatabase_spark.operators.sketch import bloom_build, bloom_might_contain
    from financedatabase_spark.operators.text import doc_hash

    from financedatabase_spark.session import barrier

    d = barrier(load_table(spark, sf_dir, "documents").select(
        "doc_id", doc_hash("text").alias("h")
    ))
    bench = d.filter(F.col("doc_id") % 97 == 0).select("h")
    bloom = bloom_build(bench, "h")
    probed = bloom_might_contain(d, bloom, "h")
    return probed.join(
        F.broadcast(bench.distinct().withColumn("is_member", F.lit(True))), "h", "left"
    ).select(
        "doc_id",
        "might_contain",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )


@register(
    "pmi_collocations",
    oracle=r"""
    WITH norm AS (
      SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents
    ),
    w AS (SELECT string_split(t, ' ') AS w FROM norm),
    bi AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM w, UNNEST(generate_series(1, len(w) - 1)) u(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    tok AS (SELECT unnest(w) AS t FROM w),
    uni AS (SELECT t, count(*)::BIGINT AS c FROM tok WHERE t <> '' GROUP BY t),
    n AS (SELECT sum(c)::BIGINT AS n FROM uni),
    bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bi GROUP BY 1, 2),
    b AS (SELECT sum(c12)::BIGINT AS b FROM bc),
    scored AS (
      SELECT bc.w1, bc.w2, bc.c12,
             round(log10((bc.c12 / (SELECT b FROM b)::DOUBLE)
                         / ((u1.c / (SELECT n FROM n)::DOUBLE)
                            * (u2.c / (SELECT n FROM n)::DOUBLE))), 6) AS pmi
      FROM bc
      JOIN uni u1 ON u1.t = bc.w1
      JOIN uni u2 ON u2.t = bc.w2
      WHERE bc.c12 >= 5
    )
    SELECT w1, w2, c12, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (operators/lm.pmi_collocations): the top-50
    adjacent word pairs whose co-occurrence exceeds their unigram
    expectation — word2vec-style phrase detection ahead of tokenizer
    training. Rounded-score ordering keeps the cut engine-portable."""
    from financedatabase_spark.operators.lm import pmi_collocations

    return pmi_collocations(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# end-to-end curation composite v2 (r10)
# --------------------------------------------------------------------------


@register(
    "corpus_curation_pipeline_v2",
    oracle=rf"""
    WITH hosts AS (
      SELECT doc_id,
             lower(CASE WHEN doc_id % 11 = 0 THEN 'cdn.' ELSE 'www.' END
                   || source
                   || CASE WHEN doc_id % 7 = 0 THEN '.spamfarm.example'
                           ELSE '.example.org' END) AS host
      FROM documents
    ),
    bl(domain) AS (
      VALUES ('spamfarm.example'), ('src1.example.org'), ('www.src2.example.org')
    ),
    s1 AS (
      SELECT d.doc_id, d.text, d.lang
      FROM documents d JOIN hosts h USING (doc_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM bl b
        WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain
      )
    ),
    gn AS (
      SELECT doc_id, text, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM s1
    ),
    gw AS (
      SELECT doc_id, text, lang, string_split(t, ' ') AS w,
             len(regexp_extract_all(text, '#|\.\.\.'))::BIGINT AS sym
      FROM gn
    ),
    gm AS (
      SELECT doc_id, text, lang,
             len(w)::BIGINT AS n_words,
             list_sum(list_transform(w, x -> len(x)))::BIGINT AS len_sum,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS alpha,
             sym
      FROM gw
    ),
    s2 AS (
      SELECT doc_id, text, lang FROM gm
      WHERE (n_words BETWEEN 50 AND 100000)
        AND (CASE WHEN n_words > 0 THEN len_sum / n_words ELSE 0e0 END
             BETWEEN 3.0e0 AND 10.0e0)
        AND (CASE WHEN n_words > 0 THEN sym / n_words ELSE 0e0 END <= 0.1e0)
        AND (CASE WHEN n_words > 0 THEN alpha / n_words ELSE 0e0 END >= 0.8e0)
    ),
    cw AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM s2
    ),
    ctok AS (SELECT doc_id, unnest(words) AS t FROM cw),
    ctok2 AS (SELECT doc_id, t FROM ctok WHERE t <> ''),
    ccounts AS (SELECT t, count(*)::BIGINT AS c FROM ctok2 GROUP BY t),
    cvocab AS (SELECT t, c FROM ccounts ORDER BY c DESC, t LIMIT 4096),
    ctot AS (SELECT sum(c)::BIGINT AS n_kept, count(*)::BIGINT AS v FROM cvocab),
    csc AS (
      SELECT k.doc_id,
             round(sum(log10((coalesce(vb.c, 0) + 0.5)
                             / (ctot.n_kept + 0.5 * (ctot.v + 1))))
                   / count(*), 6) AS avg_logprob
      FROM ctok2 k LEFT JOIN cvocab vb ON k.t = vb.t CROSS JOIN ctot
      GROUP BY k.doc_id
    ),
    cbuck AS (
      SELECT s.doc_id,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.avg_logprob DESC, s.doc_id ASC) AS nt
      FROM csc s JOIN s2 d USING (doc_id)
    ),
    s3 AS (
      SELECT s2.doc_id, s2.text, s2.lang
      FROM s2 JOIN cbuck USING (doc_id) WHERE nt <> 3
    ),
    dn AS (SELECT doc_id, {_NORM} AS nt FROM s3),
    dw AS (SELECT doc_id, nt, string_split(nt, ' ') AS wl FROM dn),
    dg AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(wl[i : i + 7], ' ')) AS h
      FROM dw, unnest(generate_series(1, greatest(len(wl) - 7, 0))) AS t(i)
    ),
    ddup AS (SELECT h FROM dg GROUP BY h HAVING count(*) >= 2),
    dstarts AS (SELECT dg.doc_id, dg.pos FROM dg JOIN ddup USING (h)),
    drem AS (
      SELECT DISTINCT doc_id, pos + j AS rp
      FROM dstarts, unnest(generate_series(0, 7)) AS s(j)
    ),
    dtok AS (
      SELECT doc_id, i AS p, wl[i] AS word
      FROM dw, unnest(generate_series(1, len(wl))) AS t(i)
    ),
    dkept AS (
      SELECT t.doc_id, t.p, t.word
      FROM dtok t LEFT JOIN drem r ON t.doc_id = r.doc_id AND t.p = r.rp
      WHERE r.rp IS NULL
    ),
    dagg AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS cleaned_text
      FROM dkept GROUP BY doc_id
    ),
    cleaned AS (
      SELECT n.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text
      FROM dn n LEFT JOIN dagg a USING (doc_id)
    ),
    v AS (
      SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS emb
      FROM embeddings e JOIN s3 ON e.vec_id = s3.doc_id
    ),
    vflat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS m
      FROM vflat GROUP BY label, pos
    ),
    cen AS (
      SELECT label AS cl, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    vscored AS MATERIALIZED (
      -- slim projection + max-agg assignment (same reformulation as the
      -- semdedup_keep_list oracle: a window over the cross product
      -- cannot spill its list payloads in DuckDB 1.0)
      SELECT v.vec_id, c.cl,
             round(list_cosine_similarity(v.emb, c.cvec), 6) AS sim
      FROM v CROSS JOIN cen c
    ),
    vbest AS (SELECT vec_id, max(sim) AS msim FROM vscored GROUP BY vec_id),
    assign AS MATERIALIZED (
      SELECT s.vec_id, min(s.cl) AS cluster, b.msim AS csim
      FROM vscored s JOIN vbest b ON s.vec_id = b.vec_id AND s.sim = b.msim
      GROUP BY s.vec_id, b.msim
    ),
    assign_e AS MATERIALIZED (
      SELECT a.vec_id, a.cluster, v.emb
      FROM assign a JOIN v ON v.vec_id = a.vec_id
    ),
    p AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM assign_e x
      JOIN assign_e y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= 0.4e0
    ),
    edges AS MATERIALIZED (SELECT a, b FROM p UNION SELECT b, a FROM p),
    {_components_sql()},
    slab AS (
      SELECT a.vec_id, a.csim,
             coalesce(c.cluster_rep, a.vec_id) AS group_rep
      FROM assign a LEFT JOIN comp c ON c.doc_id = a.vec_id
    ),
    s5 AS (
      SELECT vec_id AS doc_id FROM (
        SELECT vec_id,
               row_number() OVER (PARTITION BY group_rep
                                  ORDER BY csim ASC, vec_id ASC) AS krn
        FROM slab
      ) WHERE krn = 1
    ),
    ftok AS (
      SELECT s3.lang, cl.doc_id,
             len(regexp_extract_all(cl.cleaned_text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS tok
      FROM cleaned cl JOIN s5 USING (doc_id) JOIN s3 USING (doc_id)
    ),
    fcum AS (
      SELECT lang, doc_id, tok,
             sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM ftok
    )
    SELECT lang, CAST(floor((cum - tok) / 4096.0) AS BIGINT) AS shard_idx,
           count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM fcum GROUP BY 1, 2
    """,
)
def corpus_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production curation pass in ONE DAG — every r9 stage
    chained the way a real corpus run composes them, so cross-stage
    contracts (normalized-vs-raw text, id propagation, survivor-trained
    models) are exercised end to end:

      domain blocklist (operators/corrections.filter_blocked_domains)
      → Gopher rules, the 4 language-agnostic ones (text.gopher_quality;
        the English-stopword rule is deliberately excluded — this is a
        5-language corpus)
      → CCNet head/middle keep (lm.ccnet_tertiles — the unigram LM is
        trained on the SURVIVORS, the composition effect per-stage
        oracles cannot see)
      → exact substring dedup over the surviving corpus
        (dedup_docs.exact_substring_dedup, k=8)
      → SemDeDup keep-one-per-group over the survivors' embeddings
        (similarity.semdedup, centroids recomputed on the subset)
      → 4096-token shard packing of the CLEANED text per language
        (sampling.token_shard_packing).

    Scale shape: stages 1-2 are map-side (broadcast blocked-host set,
    codegen rule projection); CCNet adds the capped-vocab LM (bounded
    collect → broadcast) + one ntile window per language; substring
    dedup one gram-hash shuffle; SemDeDup bounds its quadratic per
    cluster; packing reuses one range exchange. Survivor joins are
    doc-id equi-joins that AQE sizes. The oracle restates all six
    stages as one CTE chain over the same parquet."""
    from financedatabase_spark.operators.corrections import (
        domain_blocklist_dim,
        filter_blocked_domains,
        registrable_host,
    )
    from financedatabase_spark.operators.lm import ccnet_tertiles

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("cdn.")).otherwise(F.lit("www.")),
            F.col("source"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(".spamfarm.example")).otherwise(
                F.lit(".example.org")
            ),
            F.lit("/d/"),
            F.col("doc_id").cast("string"),
        ),
    ).withColumn("host", registrable_host(F.col("url")))
    bl = domain_blocklist_dim(
        spark, ["spamfarm.example", "src1.example.org", "www.src2.example.org"]
    )
    s1 = filter_blocked_domains(urls, bl, url_col="url", host_col="host").select(
        "doc_id", "text", "lang"
    )

    flags = tx.gopher_quality(s1, keep_cols=["text", "lang"])
    s2 = flags.filter(
        F.col("ok_n_words")
        & F.col("ok_word_len")
        & F.col("ok_symbols")
        & F.col("ok_alpha")
    ).select("doc_id", "text", "lang")
    # Stage-boundary materialization (r15): s2 feeds FOUR subtrees — the
    # CCNet vocab train (a bounded collect at build time), the LM scoring
    # pass, ccnet_tertiles' lang join, and the s3 survivor join. Unchecked,
    # Catalyst plans each reference separately and the blocklist+Gopher
    # text subtree (regex normalize + split over every doc) executes 4x
    # per run; checkpointing runs it once. Same production rationale as
    # the s3 checkpoint below — at 100 TB this is 3 fewer full corpus
    # scans, at sf0.1 it was measured as ~15% of the query's wall time.
    from financedatabase_spark.session import barrier

    s2 = barrier(s2)

    keep3 = (
        ccnet_tertiles(s2)
        .filter(F.col("bucket") != "tail")
        .select(F.col("doc_id").alias("_k3"))
    )
    # Stage-boundary materialization: s3 (the admitted corpus) feeds three
    # downstream consumers (substring dedup, the embeddings join, the final
    # lang join); checkpointing here is the production move — pay the
    # blocklist+Gopher+CCNet subtree once, not per consumer.
    s3 = barrier(s2.join(keep3, F.col("doc_id") == F.col("_k3")).drop("_k3"))

    cleaned = dd.exact_substring_dedup(
        s3.select("doc_id", "text"), k=8, min_count=2
    ).select("doc_id", "cleaned_text")

    emb = load_table(spark, sf_dir, "embeddings")
    emb_s = emb.join(
        s3.select(F.col("doc_id").alias("_k5")), F.col("vec_id") == F.col("_k5")
    ).drop("_k5")
    sd = sim.semdedup(emb_s, sim.cell_centroids(emb_s, dim=64), tau=0.4)
    keep5 = sd.filter("keep").select(F.col("vec_id").alias("_kid"))

    final = (
        cleaned.join(keep5, F.col("doc_id") == F.col("_kid"))
        .drop("_kid")
        .join(
            s3.select(F.col("doc_id").alias("_kl"), "lang"),
            F.col("doc_id") == F.col("_kl"),
        )
        .drop("_kl")
    )
    with_tok = final.select(
        "lang", "doc_id", tx.bpe_token_count("cleaned_text").alias("tok")
    )
    # Stage-boundary materialization (r15): token_shard_packing's
    # hierarchical prefix sum has TWO consumers of its range exchange
    # (the per-slice prefix map and the slice-totals branch). For this
    # composite the exchange is NOT runtime-reused (measured: the whole
    # substring-dedup + SemDeDup subtree executed twice in the final
    # job; a fresh-session A/B put materialize at 2.0 s unbarriered vs
    # 1.05 s ckpt + 0.7 s pack). with_tok is one (lang, id, tok) row per
    # surviving doc — the cheapest possible barrier, and at 100 TB it
    # halves the number of full-pipeline executions.
    with_tok = barrier(with_tok)
    return smp.token_shard_packing(
        with_tok, "tok", budget=4096, order_col="doc_id", key_cols=["lang"]
    )


@register(
    "ivf_pq_residual_rerank_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    flat AS (
      SELECT vec_id, label, u.pos AS pos, u.x AS x
      FROM v, LATERAL (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS pos) u
    ),
    cmeans AS (
      SELECT label, pos,
             CAST(CAST(sum(CAST(floor(x * 1e6 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS m
      FROM flat GROUP BY label, pos
    ),
    centroids AS (
      SELECT label AS cell, list(m ORDER BY pos) AS cvec FROM cmeans GROUP BY label
    ),
    res AS (
      SELECT f.vec_id, f.label, list(f.x - c.m ORDER BY f.pos) AS remb
      FROM flat f JOIN cmeans c ON c.label = f.label AND c.pos = f.pos
      GROUP BY f.vec_id, f.label
    ),
    subcb AS (
      SELECT s.sub, a.vec_id AS cid, a.remb[s.sub*8+1 : s.sub*8+8] AS cv
      FROM res a, (SELECT unnest(generate_series(0, 7)) AS sub) s
      WHERE a.vec_id < 8
    ),
    csubs AS (
      SELECT r.vec_id AS corpus_id, r.label, s.sub,
             r.remb[s.sub*8+1 : s.sub*8+8] AS sv
      FROM res r, (SELECT unnest(generate_series(0, 7)) AS sub) s
    ),
    enc_scored AS (
      SELECT c.corpus_id, c.label, c.sub, b.cid,
             CAST(floor((list_dot_product(c.sv, c.sv) + list_dot_product(b.cv, b.cv)
                         - 2 * list_dot_product(c.sv, b.cv)) * 1e6 + 0.5e0) AS BIGINT) AS d
      FROM csubs c JOIN subcb b USING (sub)
    ),
    codes AS (
      SELECT corpus_id, label, sub, cid AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY corpus_id, sub
                                     ORDER BY d ASC, cid ASC) AS rn
        FROM enc_scored
      ) WHERE rn = 1
    ),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
           FROM embeddings WHERE vec_id % 100 = 0),
    probe_scored AS (
      SELECT qv.query_id, cen.cell,
             round(list_dot_product(qv.q, cen.cvec) /
                   (sqrt(list_dot_product(qv.q, qv.q))
                    * sqrt(list_dot_product(cen.cvec, cen.cvec))), 6) AS csim
      FROM qv CROSS JOIN centroids cen
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, cell ASC) AS pn
        FROM probe_scored
      ) WHERE pn <= 2
    ),
    qflat AS (
      SELECT query_id, u.pos AS pos, u.x AS x
      FROM qv, LATERAL (SELECT unnest(q) AS x, generate_subscripts(q, 1) AS pos) u
    ),
    qres AS (
      SELECT p.query_id, p.cell, list(f.x - c.m ORDER BY f.pos) AS rq
      FROM probes p
      JOIN qflat f ON f.query_id = p.query_id
      JOIN cmeans c ON c.label = p.cell AND c.pos = f.pos
      GROUP BY p.query_id, p.cell
    ),
    qtab AS (
      SELECT r.query_id, r.cell, b.sub, b.cid,
             CAST(floor((list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8], r.rq[b.sub*8+1 : b.sub*8+8])
                         + list_dot_product(b.cv, b.cv)
                         - 2 * list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8], b.cv)) * 1e6 + 0.5e0) AS BIGINT) AS d
      FROM qres r CROSS JOIN subcb b
    ),
    adc AS (
      SELECT t.query_id, c.corpus_id, sum(t.d) AS units
      FROM qtab t
      JOIN codes c ON c.label = t.cell AND c.sub = t.sub AND t.cid = c.code
      GROUP BY t.query_id, c.corpus_id
    ),
    cand AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY units ASC, corpus_id ASC) AS rn
        FROM adc
      ) WHERE rn <= 20
    ),
    exact AS (
      SELECT d.query_id, d.corpus_id,
             round(list_dot_product(q.q, c.emb) /
                   (sqrt(list_dot_product(q.q, q.q))
                    * sqrt(list_dot_product(c.emb, c.emb))), 6) AS score
      FROM cand d
      JOIN qv q ON q.query_id = d.query_id
      JOIN v c ON c.vec_id = d.corpus_id
    )
    SELECT query_id, corpus_id, score, rank::BIGINT AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, corpus_id ASC) AS rank
      FROM exact
    ) WHERE rank <= 5
    """,
)
def ivf_pq_residual_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL codes + exact top-R re-rank — the full FAISS
    IVFPQ+refine retrieval stack (operators/similarity.ivf_pq_topk with
    residuals=True, rerank=20): corpus residuals (x - centroid(cell))
    are PQ-encoded, queries probe their 2 nearest cells with per-cell
    residual ADC tables, the codes nominate top-20 candidates, and one
    exact cosine pass over the fetched raw vectors re-ranks to the final
    top-5. Codebooks here are deterministic sampled anchors (the
    residuals of vec_id 0-7, sliced per subspace — the standard
    random-sample PQ baseline, chosen because every stage of the
    machinery then has an exact SQL twin); tests/test_ann_recall.py
    separately gates recall >= 0.9 with k-means-trained codebooks at
    100k vectors. Scale shape: codebooks/ADC tables broadcast, the
    encoded corpus joins probes on its cell key, the rerank fetch
    broadcasts the (queries x 20) candidate list into a map-side probe
    of the raw corpus — nothing rescans per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the centroid frame is tiny (n_cells rows) and — with the r15
    # literal-pack paths — is never executed as a FRAME at all: every
    # consumer reads the pre-collected rows below and touches the frame
    # only for its dtypes. The former localCheckpoint here was a whole
    # extra Spark job per run (materialize, then collect from the
    # cache); collecting straight off the lazy aggregate runs the same
    # wide agg exactly once (r15)
    cen = sim.cell_centroids(emb, dim=64)
    # one collect of the 8-row centroid table feeds EVERY literal builder
    # (anchor residual map, corpus residual map, packed probe array) —
    # one driver job instead of three (r15; the literal-pack rewrite left
    # each builder collecting its own copy of the same checkpoint)
    cen_rows = cen.select("cell", "cvec").collect()
    anchors = sim.residual_vectors(
        emb.filter(F.col("vec_id") < 8), cen, centroid_rows=cen_rows
    )
    # no checkpoint on the codebooks: their ONLY consumer is the one-time
    # 64-row collect inside ivf_pq_topk (the literal pack), so an eager
    # materialization job here bought nothing (r15; saved one Spark job)
    cbs = sim.pq_codebooks(
        anchors.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")),
        m=8,
        dim=64,
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    return sim.ivf_pq_topk(
        queries, corpus, cen, m=8, dim=64, k=5, n_probe=2,
        codebooks=cbs, residuals=True, rerank=20, centroid_rows=cen_rows,
    )
