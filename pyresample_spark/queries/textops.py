"""Text-pipeline queries (SURVEY.md §2.10): dedup family + text
analysis over the documents table."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyresample_spark.operators.dedup import (
    md5_bigint,
    md5_bigint_sql,
    minhash_candidates,
    shingles,
    shingles_sql,
    simhash,
    simhash_sql,
    words_col,
)
from pyresample_spark.queries import lut_src_hash, register, rnd, table

N_HASHES = 16
BAND = 4


@register(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text_hash
    """,
    tags=("bench",),
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: groupBy(sha256(text)) keeping the min doc_id as
    representative. At 100 TB: hash map-side so the shuffle carries
    8-byte keys, not documents."""
    # spread=False: one sha256 per row then a high-reduction agg — the
    # spread exchange ships full text the map-side partial would have
    # reduced to 8-byte keys (measured 0.27→0.50 s wall at sf0.1)
    d = table(spark, sf_dir, "documents", spread=False)
    return d.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.min("doc_id").alias("rep_doc"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_MINHASH_ORACLE = f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    )
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    GROUP BY doc1, doc2
"""


@register("q_dedup_minhash", oracle=_MINHASH_ORACLE, tags=("bench",))
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dedup: word-3-shingles → 16 portable hashes →
    min per seed → 4 banded signatures → band equi-self-join (the
    cell-join pattern of the geo kNN, applied to hash space)."""
    d = table(spark, sf_dir, "documents")
    return minhash_candidates(d, n=3)


@register("q_dedup_simhash", oracle=simhash_sql())
def q_dedup_simhash(spark, sf_dir):
    """SimHash document fingerprints: 16-bit sign-of-bit-sum over word
    hashes — one groupBy with conditional sums (map-side combinable)."""
    d = table(spark, sf_dir, "documents")
    return simhash(d)


@register(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH dw AS (
      SELECT DISTINCT doc_id, lang, n_chars,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words
              FROM dw GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM dw a JOIN dw b
        ON a.word = b.word AND a.lang = b.lang
       AND a.doc_id < b.doc_id
       AND abs(a.n_chars - b.n_chars) <= 4
      GROUP BY doc1, doc2
    )
    SELECT doc1, doc2,
           ROUND(CAST(n_common AS DOUBLE) / (s1.n_words + s2.n_words - n_common), 6) + 0.0 AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(n_common AS DOUBLE) / (s1.n_words + s2.n_words - n_common) >= 0.3
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """N-gram (word-set) Jaccard near-dup with cheap blocking (same
    lang, |Δn_chars| ≤ 4) — block-join → intersection count → Jaccard
    filter. At scale the blocking key bounds the quadratic self-join."""
    d = table(spark, sf_dir, "documents")
    dw = (
        d.select(
            "doc_id", "lang", "n_chars", F.explode(words_col()).alias("word")
        )
        .distinct()
    )
    sizes = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = dw.select(
        F.col("doc_id").alias("doc1"),
        F.col("lang").alias("lang1"),
        F.col("n_chars").alias("nc1"),
        "word",
    )
    b = dw.select(
        F.col("doc_id").alias("doc2"),
        F.col("lang").alias("lang2"),
        F.col("n_chars").alias("nc2"),
        "word",
    )
    inter = (
        a.join(b, "word")
        .filter(
            (F.col("lang1") == F.col("lang2"))
            & (F.col("doc1") < F.col("doc2"))
            & (F.abs(F.col("nc1") - F.col("nc2")) <= 4)
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_words").alias("nw1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_words").alias("nw2"))
    jac = F.col("n_common").cast("double") / (
        F.col("nw1") + F.col("nw2") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(s1), "doc1")
        .join(F.broadcast(s2), "doc2")
        .filter(jac >= 0.3)
        .select("doc1", "doc2", rnd(jac, 6).alias("jaccard"))
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS sum_words,
           ROUND(CAST(SUM(length(text)) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 6) + 0.0 AS avg_len
    FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-language corpus stats: doc counts, char/word sums, exact
    integer-sum average length (SURVEY §2.10 q_text_stats)."""
    # spread=False: two length() calls per row then a 5-group agg —
    # cheaper to reduce map-side in the scan task than to exchange
    # full text first (measured 0.31→0.43 s wall at sf0.1)
    d = table(spark, sf_dir, "documents", spread=False)
    n_words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(n_words).alias("sum_words"),
        rnd(F.sum(F.length("text")) / F.count(F.lit(1)), 6).alias("avg_len"),
    )


_MARKERS = {
    "en": (" the ", " and "),
    "de": (" der ", " und "),
    "es": (" el ", " la "),
    "fr": (" le ", " et "),
    "zh": (" zh ", " wu "),
}


def _marker_count_sql(m):
    return (
        f"CAST((length(padded) - length(replace(padded, '{m}', ''))) / {len(m)} AS BIGINT)"
    )


@register(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["en"])} AS s_en,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["de"])} AS s_de,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["es"])} AS s_es,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["fr"])} AS s_fr,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["zh"])} AS s_zh
      FROM (SELECT doc_id, ' ' || text || ' ' AS padded FROM documents)
    )
    SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
           CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh, 1) THEN 'en'
                WHEN s_de >= GREATEST(s_es, s_fr, s_zh, 1) THEN 'de'
                WHEN s_es >= GREATEST(s_fr, s_zh, 1) THEN 'es'
                WHEN s_fr >= GREATEST(s_zh, 1) THEN 'fr'
                WHEN s_zh >= 1 THEN 'zh'
                ELSE 'und' END AS lang_guess
    FROM scored
    """,
)
def q_lang_id(spark, sf_dir):
    """Language-ID by stopword-marker counting (n-gram heuristic,
    SURVEY §2.10): substring-occurrence scores per language, ordered
    CASE for a deterministic argmax."""
    d = table(spark, sf_dir, "documents").withColumn(
        "padded", F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    )

    def count_m(m):
        return (
            (F.length("padded") - F.length(F.regexp_replace("padded", m, "")))
            / len(m)
        ).cast("bigint")

    scores = {
        lang: sum(
            (count_m(m) for m in ms), F.lit(0).cast("bigint")
        ).alias(f"s_{lang}")
        for lang, ms in _MARKERS.items()
    }
    sc = d.select("doc_id", *scores.values())
    s = {k: F.col(f"s_{k}") for k in _MARKERS}
    guess = (
        F.when(s["en"] >= F.greatest(s["de"], s["es"], s["fr"], s["zh"], F.lit(1)), "en")
        .when(s["de"] >= F.greatest(s["es"], s["fr"], s["zh"], F.lit(1)), "de")
        .when(s["es"] >= F.greatest(s["fr"], s["zh"], F.lit(1)), "es")
        .when(s["fr"] >= F.greatest(s["zh"], F.lit(1)), "fr")
        .when(s["zh"] >= 1, "zh")
        .otherwise("und")
    )
    return sc.select("doc_id", "s_en", "s_de", "s_es", "s_fr", "s_zh", guess.alias("lang_guess"))


@register(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / (length(text) - length(replace(text, ' ', '')) + 1), 6) + 0.0 AS avg_word_len,
           ROUND(CAST(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', '')) AS DOUBLE) / 3.0
                 / (length(text) - length(replace(text, ' ', '')) + 1), 6) + 0.0 AS stopword_ratio,
           ROUND(LEAST(1.0, CAST(length(text) AS DOUBLE) / 400.0), 6) + 0.0 AS length_score
    FROM documents
    """,
)
def q_quality_score(spark, sf_dir):
    """Document quality features: word counts, avg word length,
    stopword ratio, saturating length score (SURVEY §2.10) — all
    length/replace column math, no UDF."""
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    no_sp = F.regexp_replace("text", " ", "")
    n_words = F.length(text) - F.length(no_sp) + 1
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    a_count = (
        F.length(padded) - F.length(F.regexp_replace(padded, " a ", ""))
    ).cast("double") / 3.0
    return d.select(
        "doc_id",
        F.length(text).cast("bigint").alias("n_chars_actual"),
        n_words.cast("bigint").alias("n_words"),
        rnd(F.length(no_sp).cast("double") / n_words, 6).alias("avg_word_len"),
        rnd(a_count / n_words, 6).alias("stopword_ratio"),
        rnd(F.least(F.lit(1.0), F.length(text).cast("double") / 400.0), 6).alias(
            "length_score"
        ),
    )


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    count (SURVEY §2.10 q_token_count)."""
    d = table(spark, sf_dir, "documents")
    ws = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    bpe = F.expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')")
    return d.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_ish_tokens"),
    )


_FP_MOD = (1 << 31) - 1


@register(
    "q_fingerprint",
    oracle=f"""
    WITH rolled AS (
      SELECT doc_id,
             CAST(list_aggregate(
               list_transform(range(len(string_split(text, ' '))),
                 i -> (i + 1) * ({md5_bigint_sql("string_split(text, ' ')[i + 1]")} % 1048576)),
               'sum') % {_FP_MOD} AS BIGINT) AS rolling_fp
      FROM documents
    )
    SELECT d.doc_id,
           {md5_bigint_sql('text')} AS fp64,
           CAST({md5_bigint_sql('text')} % 1024 AS BIGINT) AS fp_bucket,
           r.rolling_fp
    FROM documents d JOIN rolled r ON d.doc_id = r.doc_id
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting (SURVEY §2.10): whole-content 60-bit md5
    fingerprint + LSH bucket + an order-sensitive rolling hash
    (position-weighted word-hash sum mod 2³¹−1 — unlike a bag-of-words
    hash, word reordering changes it)."""
    d = table(spark, sf_dir, "documents")
    fp = md5_bigint(F.col("text"))
    rolling = (
        d.select("doc_id", F.posexplode(words_col()).alias("i", "word"))
        .withColumn("h", (F.col("i") + 1) * (md5_bigint(F.col("word")) % 1048576))
        .groupBy("doc_id")
        .agg((F.sum("h") % _FP_MOD).cast("bigint").alias("rolling_fp"))
    )
    return d.select(
        "doc_id",
        fp.alias("fp64"),
        (fp % 1024).cast("bigint").alias("fp_bucket"),
    ).join(rolling, "doc_id")


@register(
    "q_hash_split",
    oracle=f"""
    WITH h AS (
      SELECT lang, n_chars,
             {md5_bigint_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM h GROUP BY 1, 2
    """,
)
def q_hash_split(spark, sf_dir):
    """Deterministic train/validation/test split by content-stable hash
    (80/10/10): the standard held-out-split idiom for training-data
    pipelines. Hash of the document id — not rand() — so the assignment
    is reproducible across runs, engines, and re-partitionings; purely
    map-side at any scale (the only shuffle is the final tiny agg)."""
    d = table(spark, sf_dir, "documents")
    bucket = md5_bigint(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
    )
    return d.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_domain_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_bigint_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, doc_id, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 20
    """,
)
def q_domain_quota(spark, sf_dir):
    """Per-domain quota sampling: keep at most N=20 documents per source
    domain, chosen by deterministic hash order (an unbiased, reproducible
    down-sample that caps over-represented domains — a core balancing op
    in web-scale training pipelines). Top-k-per-group window; at scale
    the partial ordering stays inside each source's hash partition."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        md5_bigint(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id", "rn")
    )


@register(
    "q_seq_pack",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT lang, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tok)
                  // 2048 AS BIGINT) AS bin
      FROM toks
    )
    SELECT lang, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY lang, bin
    """,
)
def q_seq_pack(spark, sf_dir):
    """Sequence packing for training shards: order documents
    deterministically within each language, run a cumulative token count,
    and assign each doc to bin = floor(preceding_tokens / 2048) — the
    contiguous-fill packing used to build fixed-budget context shards.
    Window cumulative sum; per-lang partitions keep the prefix-scan local
    to one shuffle partition at scale."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    n_tok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("bigint")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    t = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    packed = t.withColumn(
        "bin",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048).cast("bigint"),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )


_CAND_INNER = f"""
    sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
"""


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CAND_INNER},
    edges AS (
      SELECT doc1 AS src, doc2 AS dst FROM cand
      UNION ALL SELECT doc2, doc1 FROM cand
    ),
    reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT comp AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT src, MIN(dst) AS comp FROM reach GROUP BY src)
    GROUP BY comp
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assembly: MinHash/LSH candidate pairs form an
    edge set; connected components (operators/components.py) merge them
    into clusters, keeping min doc_id as the canonical representative —
    the step real dedup pipelines need after pair generation (keep one
    doc per cluster, drop the rest). At scale the CC rounds join only
    the candidate-pair edges — orders of magnitude smaller than the
    corpus."""
    from pyresample_spark.operators.components import connected_components

    d = table(spark, sf_dir, "documents")
    pairs = minhash_candidates(d).select("doc1", "doc2")
    labels = connected_components(pairs, src="doc1", dst="doc2")
    return labels.groupBy(F.col("comp").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "q_unigram_logprob",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           (ROUND(SUM(CAST(ROUND(ln(cnt / (1.0 * total)) * 1000000) AS BIGINT))
                  / (1000000.0 * COUNT(*)), 6) + 0.0) AS avg_logprob
    FROM w JOIN c USING (word) CROSS JOIN t
    GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Corpus-statistics quality scoring: unigram language-model average
    log-probability per document (the perplexity-filter idiom of
    training-data pipelines). Two aggregations — global word counts,
    then per-doc mean log p(word) — with the count table broadcast back
    onto the token stream. Per-token logprobs are 1e-6-quantized and
    integer-summed so the cross-engine mean is order-independent."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col()).alias("word"))
    c = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.sum("cnt").cast("bigint").alias("total"))
    scored = (
        w.join(F.broadcast(c), "word")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "lp_q",
            F.round(F.log(F.col("cnt") / (1.0 * F.col("total"))) * 1e6, 0)
            .cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.sum("lp_q") / (1e6 * F.count(F.lit(1))), 6).alias("avg_logprob"),
    )


@register(
    "q_bm25",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    q AS (SELECT DISTINCT word FROM w WHERE doc_id = 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
    ad AS (SELECT SUM(dl) / (1.0 * COUNT(*)) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w JOIN q USING (word) GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM w GROUP BY 1
    ),
    contrib AS (
      SELECT t.doc_id,
             CAST(FLOOR(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               * 1000000 + 0.5) AS BIGINT) AS c_q
      FROM tf t JOIN dfreq USING (word)
      JOIN dl ON dl.doc_id = t.doc_id
      CROSS JOIN stats CROSS JOIN ad
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
           (CAST(SUM(c_q) AS DOUBLE) / 1000000.0) + 0.0 AS bm25
    FROM contrib GROUP BY doc_id
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus against a
    deterministic query term set (doc 1's vocabulary) — the lexical
    retrieval rung between raw tf·idf and the embedding scorers, and
    the standard relevance filter for targeted corpus selection.
    Per-(doc, term) contributions are 1e-6 floor(x+0.5)-quantized and
    integer-summed so the document score is summation-order independent
    across engines and partitionings. Scale shape: the query vocabulary
    broadcasts (it's a query, not a corpus), df/idf is the broadcast
    vocabulary agg of q_tfidf, doc lengths are a map-side count, and
    the score is one hash agg over (doc, hit-term) rows — the corpus
    token stream is filtered to query hits inside its scan task."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col()).alias("word"))
    q = w.filter(F.col("doc_id") == 1).select("word").distinct()
    n_docs = d.count()
    dl = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = w.count()
    avgdl = tot / n_docs  # IEEE double, identical to SQL SUM/COUNT
    tf = (
        w.join(F.broadcast(q), "word")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = w.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    norm_tf = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(avgdl))
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .withColumn(
            "c_q",
            F.floor(idf * norm_tf * 1e6 + 0.5).cast("bigint"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        (F.sum("c_q").cast("double") / 1e6).alias("bm25"),
    )


@register(
    "q_curation_pipeline",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, lang, source,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_words
      FROM documents
    ),
    filt AS (
      SELECT * FROM base
      WHERE lang = 'en' AND doc_id % 37 <> 0
        AND n_words >= 10 AND length(text) >= 120
    ),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM filt GROUP BY sha256(text)
    ),
    kept AS (SELECT f.* FROM filt f JOIN survivors USING (doc_id)),
    sh_kept AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(ws) - 2),
                    i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM kept)
      WHERE len(ws) >= 3
    ),
    ev AS (
      SELECT DISTINCT
             unnest(list_transform(range(0, len(ws) - 2),
                    i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE doc_id % 37 = 0)
      WHERE len(ws) >= 3
    ),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh_kept s JOIN ev USING (shingle)
    ),
    final AS (
      SELECT k.* FROM kept k LEFT JOIN contaminated c USING (doc_id)
      WHERE c.doc_id IS NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM final GROUP BY source
    """,
)
def q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation — the composition a training-data
    pipeline actually ships, as ONE declarative plan: language filter →
    quality gate (min words, min length) → exact-dedup survivors (min
    doc_id per content hash) → benchmark decontamination (anti-join on
    shared 3-grams with the held-out set) → per-source yield report
    (docs and tokens kept). Every stage is a previously-oracled
    operator; composing them costs no new shuffle classes: content
    hashes shuffle as 8-byte keys, the eval n-gram set broadcasts, and
    the final report is one k-row hash agg. Catalyst pipelines the
    filters into the scan."""
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    n_words = F.length(text) - F.length(F.regexp_replace("text", " ", "")) + 1
    filt = (
        d.withColumn("n_words", n_words)
        .filter(
            (F.col("lang") == "en")
            & (F.col("doc_id") % 37 != 0)
            & (F.col("n_words") >= 10)
            & (F.length(text) >= 120)
        )
    )
    # Exact-dedup survivors as a WINDOW over one content-hash exchange
    # (r18-opt, the span-dedup idiom; replaces groupBy(sha2) + a
    # shuffle_hash join back onto filt): `kept` is consumed twice
    # below (the shingle branch and the final anti-join), and the
    # join form re-planned the whole scan → filter → sha256 → agg →
    # join subtree once per consumer (profiled: three ~2 cpu-s
    # 1743-row stages at sf0.1). The window form leaves both
    # consumers sitting on byte-identical exchange subtrees — the
    # planner computes the exchange once (ReusedExchange) and only
    # the cheap window + filter replays per consumer. min() over the
    # unordered hash partition is order-insensitive, so results are
    # engine-exact as before.
    from pyspark.sql.window import Window as W

    kept = (
        filt.withColumn(
            "_mn",
            F.min("doc_id").over(W.partitionBy(F.sha2("text", 256))),
        )
        .filter(F.col("doc_id") == F.col("_mn"))
        .drop("_mn")
    )
    # Pin the column set with a Generate barrier: without it, column
    # pruning projects DIFFERENT schemas into the two consumers'
    # exchanges (the shingle branch drops source/n_words) and the
    # subtrees stop being byte-identical — no ReusedExchange, the
    # scan + hash exchange run twice. The barrier makes both
    # consumers read the same 4 columns, so the exchange plans once;
    # only the cheap window + rank filter replay per consumer.
    kept = kept.selectExpr(
        "explode(array(named_struct("
        "'doc_id', doc_id, 'text', text, "
        "'source', source, 'n_words', n_words))) AS z"
    ).select("z.doc_id", "z.text", "z.source", "z.n_words")
    sh_kept = shingles(kept, 3).select("doc_id", "shingle")
    # ev reads an UNSPREAD scan (r18-opt): the eval set is ~1/37 of the
    # corpus (136 docs at sf0.1), and spreading it over the session's
    # cores made the distinct's partial HashAggregate pay its per-task
    # setup 32× for ~4 rows each — measured 3.5-4.7 cpu-s for the
    # spread+distinct branch vs 0.07-0.11 unspread (50×). The heavy
    # branches (sha256 window, kept-side shingles) keep the spread.
    d_ev = table(spark, sf_dir, "documents", spread=False)
    ev = (
        shingles(d_ev.filter(F.col("doc_id") % 37 == 0), 3)
        .select("shingle")
        .distinct()
    )
    # no .distinct() before the anti join (r17-opt): LEFT ANTI drops a
    # doc on ANY match, and the shuffle_hash build dedups keys in its
    # hash relation anyway — the explicit distinct only added an
    # exchange + aggregate of the same doc_id stream
    contaminated = sh_kept.join(F.broadcast(ev), "shingle").select("doc_id")
    final = kept.join(
        contaminated.hint("shuffle_hash"), "doc_id", "left_anti"
    )
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
    )


@register(
    "q_dup_span",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {md5_bigint_sql('shingle')} AS h
      FROM ({shingles_sql(5)})
    ),
    c AS (SELECT h, COUNT(*) AS cnt FROM sh GROUP BY h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_shingles,
           CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_shingles,
           (ROUND(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END)
                  / (1.0 * COUNT(*)), 6) + 0.0) AS dup_fraction
    FROM sh JOIN c USING (h)
    GROUP BY doc_id
    """,
)
def q_dup_span(spark, sf_dir):
    """Cross-document duplicated-span fraction — the token-level
    approximation of exact-substring dedup (Lee et al. suffix-array
    style): fraction of each doc's 5-gram shingles that occur ≥2 times
    in the whole corpus. Complements q_repetition_ratio (intra-doc) —
    this one catches boilerplate shared ACROSS documents. Shingles are
    md5-hashed before the count join, so both shuffles carry 8-byte
    keys, never the n-gram strings (at 100 TB the string shuffle is
    the cost; the hash collision rate at 60 bits is negligible for
    counting)."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    sh = shingles(d, 5).select(
        "doc_id", md5_bigint(F.col("shingle")).alias("h")
    )
    # corpus count as a WINDOW over h (one exchange of (doc_id, h) int
    # rows, shingle pass computed once) instead of groupBy + join,
    # whose count side re-runs the whole split + shingle + md5 subtree
    # (same restructure as q_dedup_span_mask, r17-opt)
    dup = F.when(F.col("cnt") >= 2, 1).otherwise(0)
    return (
        sh.withColumn("cnt", F.count(F.lit(1)).over(W.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.sum(dup).cast("long").alias("dup_shingles"),
        )
        .select(
            "doc_id",
            "total_shingles",
            "dup_shingles",
            rnd(
                F.col("dup_shingles") / (1.0 * F.col("total_shingles")), 6
            ).alias("dup_fraction"),
        )
    )


@register(
    "q_bigram_logprob",
    oracle="""
    WITH l AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(wl)),
                                   i -> wl[i] || ' ' || wl[i + 1])) AS bg
      FROM l
    ),
    c2 AS (SELECT bg, COUNT(*) AS cnt2 FROM b GROUP BY bg),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cnt1
           FROM b GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           (ROUND(SUM(CAST(ROUND(ln(cnt2 / (1.0 * cnt1)) * 1000000) AS BIGINT))
                  / (1000000.0 * COUNT(*)), 6) + 0.0) AS avg_logprob
    FROM b JOIN c2 USING (bg)
    JOIN c1 ON split_part(bg, ' ', 1) = c1.w1
    GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark, sf_dir):
    """Bigram language-model quality score: per-doc mean
    ``log P(w_i | w_{i-1})`` with conditional probabilities estimated
    from the corpus itself (c(w1 w2) / c(w1·) over bigram prefixes) —
    the conditional-LM step beyond :func:`q_unigram_logprob` in a
    perplexity-filter ladder. Bigrams are built in-row with
    ``zip_with(slice, slice)`` (no positional self-join); the two count
    tables broadcast back onto the bigram stream; per-bigram logprobs
    are 1e-6-quantized and integer-summed so the mean is
    order-independent across engines and partitionings."""
    d = table(spark, sf_dir, "documents")
    wl = words_col()
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(wl, 1, F.greatest(F.size(wl) - 1, F.lit(0))),
                F.slice(wl, 2, F.greatest(F.size(wl) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt2"))
    # prefix counts derived from the bigram-count table — c(w1·) is
    # exactly Σ_w2 c(w1 w2), an integer sum over the ~|distinct
    # bigrams| aggregate instead of a SECOND full tokenize+zip_with
    # pass over every document (r17-opt: was one of this query's three
    # corpus bigram walks)
    c1 = (
        c2.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("cnt2").alias("cnt1"))
    )
    scored = (
        bg.join(F.broadcast(c2), "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(c1), "w1")
        .withColumn(
            "lp_q",
            F.round(F.log(F.col("cnt2") / (1.0 * F.col("cnt1"))) * 1e6, 0)
            .cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd(F.sum("lp_q") / (1e6 * F.count(F.lit(1))), 6).alias("avg_logprob"),
    )


@register(
    "q_stratified_sample",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, lang, source, n_chars,
             CASE lang WHEN 'en' THEN 15 WHEN 'de' THEN 40
                       WHEN 'fr' THEN 40 ELSE 75 END AS rate
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM rated
    WHERE {md5_bigint_sql("CAST(doc_id AS VARCHAR)")} % 100 < rate
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling — the corpus-rebalancing op of
    a training-data pipeline (downsample the dominant language,
    upsample the rare ones). Per-stratum keep-rates live in a tiny
    dimension broadcast onto the scan; the keep decision is a
    content-stable hash threshold (NOT rand(): reproducible across
    runs, engines, partitionings — same idiom as q_hash_split). Purely
    map-side at 100 TB: broadcast join + filter, no shuffle at all."""
    rates = spark.createDataFrame(
        [("en", 15), ("de", 40), ("fr", 40)], "lang string, rate int"
    )
    d = table(spark, sf_dir, "documents")
    keyed = d.join(F.broadcast(rates), "lang", "left").withColumn(
        "rate", F.coalesce(F.col("rate"), F.lit(75))
    )
    return keyed.filter(
        md5_bigint(F.col("doc_id").cast("string")) % 100 < F.col("rate")
    ).select("doc_id", "lang", "source", F.col("n_chars").cast("bigint"))


@register(
    "q_repetition_ratio",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    pw AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) + 0.0
             AS dup_word_ratio,
           ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) + 0.0
             AS top_word_frac
    FROM pw GROUP BY doc_id
    """,
)
def q_repetition_ratio(spark, sf_dir):
    """Repetition-based quality signals (the Gopher-rules family the
    length/stopword features of q_quality_score don't capture):
    duplicate-word fraction 1 − distinct/total and top-word dominance
    max(count)/total per document. Two stacked hash aggregations —
    (doc, word) then doc — both map-side-combinable; with documents
    hash-partitioned by doc_id the first agg is shuffle-free, so the
    op costs one scan + one tiny shuffle at any corpus size."""
    d = table(spark, sf_dir, "documents")
    pw = (
        d.select("doc_id", F.explode(words_col()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_words = F.sum("c")
    n_distinct = F.count(F.lit(1))
    return pw.groupBy("doc_id").agg(
        n_words.cast("bigint").alias("n_words"),
        n_distinct.cast("bigint").alias("n_distinct"),
        rnd(
            1.0 - n_distinct.cast("double") / n_words.cast("double"), 6
        ).alias("dup_word_ratio"),
        rnd(F.max("c").cast("double") / n_words.cast("double"), 6).alias(
            "top_word_frac"
        ),
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0)
    SELECT s.doc_id, CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS n_shared_ngrams
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % 37 <> 0
    GROUP BY s.doc_id
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with the held-out eval set (here doc_id % 37 == 0; in a
    real pipeline, the benchmark suite). Production uses 13-grams — the
    synthetic docs are short, so 3-grams keep the check non-vacuous.

    Scale shape: the eval side is tiny by construction (benchmarks are
    KBs against a 100 TB corpus), so its distinct n-gram set is
    BROADCAST — the training corpus is never shuffled; the only
    exchange is the per-doc count-distinct over surviving (doc, gram)
    pairs, a vanishing fraction of the corpus."""
    from pyresample_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents")
    sh = shingles(d, 3)
    # eval branch reads an UNSPREAD scan (r18-opt): ~1/37 of the
    # corpus spread over 32 tasks paid the distinct partial-agg's
    # per-task setup 32× for a handful of rows each (measured 3.5-4.7
    # vs 0.07-0.11 cpu-s at sf0.1 — see q_curation_pipeline)
    d_ev = table(spark, sf_dir, "documents", spread=False)
    ev = (
        shingles(d_ev.filter(F.col("doc_id") % 37 == 0), 3)
        .select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 37 != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_ngrams"))
    )


@register(
    "q_tfidf",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
    dfreq AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT doc_id, word, tf, df, ROUND(tf * n / df, 6) + 0.0 AS tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf * n / df DESC, word) AS BIGINT) AS rank
    FROM tf JOIN dfreq USING (word) CROSS JOIN n
    QUALIFY rank <= 3
    """,
)
def q_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by tf·idf. idf is kept
    as the exact rational tf·N/df (no log): the ranking is identical
    and the score is a single IEEE division, so both engines compute
    bit-equal doubles — a log-based idf could flip ranks at the last
    ulp (FIXTURES.md §4 discipline).

    Scale shape: tf is a (doc, word) hash agg (map-side combinable);
    df is a word-keyed agg whose result — the vocabulary — is orders of
    magnitude smaller than the corpus and is BROADCAST back; N is a
    scalar. The final per-doc top-3 ranks only each doc's own distinct
    words (bounded by doc length), never a global sort."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col()).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = w.groupBy("word").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n = d.count()  # scalar, folded into the plan as a literal
    score = F.col("tf") * F.lit(n) / F.col("df")
    from pyspark.sql.window import Window as W

    ranked = (
        tf.join(F.broadcast(dfreq), "word")
        .withColumn("tfidf", rnd(score, 6))
        .withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy("doc_id").orderBy(score.desc(), F.col("word")))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= 3)
    )
    return ranked.select("doc_id", "word", "tf", "df", "tfidf", "rank")


@register(
    "q_mix_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, toks,
             CAST(ROUND(sqrt(CAST(toks AS DOUBLE)) * 1000000, 0) AS BIGINT) AS r6
      FROM tok
    ),
    t AS (SELECT CAST(SUM(r6) AS BIGINT) AS tot, CAST(SUM(toks) AS BIGINT) AS tot_toks FROM r)
    SELECT source, toks,
           ROUND(CAST(toks AS DOUBLE) / tot_toks, 6) + 0.0 AS share_proportional,
           ROUND(CAST(r6 AS DOUBLE) / tot, 6) + 0.0 AS share_sqrt,
           CAST(ROUND(1000000000 * CAST(r6 AS DOUBLE) / tot, 0) AS BIGINT) AS epoch_tokens
    FROM r CROSS JOIN t
    """,
)
def q_mix_weights(spark, sf_dir):
    """Source-mixing weights for training-data sampling: per-source
    token totals → proportional share and temperature-flattened share
    ∝ tokens^0.5 (the standard alpha-sampling that up-weights small
    sources), plus the per-source token budget of a 1B-token epoch.

    Hash-stability: sqrt is correctly-rounded IEEE so both engines get
    the same double; it is then fixed-pointed to integer micro-units so
    the normalizing SUM is order-insensitive; each share is a single
    integer division. One map-side-combinable agg over the corpus, then
    arithmetic on a #sources-row table."""
    d = table(spark, sf_dir, "documents")
    ws = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    tok = d.groupBy("source").agg(F.sum(ws).cast("bigint").alias("toks"))
    r = tok.withColumn(
        "r6",
        F.round(F.sqrt(F.col("toks").cast("double")) * 1e6, 0).cast("bigint"),
    )
    t = r.agg(
        F.sum("r6").cast("bigint").alias("tot"),
        F.sum("toks").cast("bigint").alias("tot_toks"),
    )
    return r.crossJoin(F.broadcast(t)).select(
        "source",
        "toks",
        rnd(F.col("toks").cast("double") / F.col("tot_toks"), 6).alias(
            "share_proportional"
        ),
        rnd(F.col("r6").cast("double") / F.col("tot"), 6).alias("share_sqrt"),
        F.round(1e9 * F.col("r6").cast("double") / F.col("tot"), 0)
        .cast("bigint")
        .alias("epoch_tokens"),
    )


@register(
    "q_pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST((length(text) - length(replace(text, 'customer', ''))) / 8 AS BIGINT) AS hits_customer,
           CAST((length(text) - length(replace(text, 'vector', ''))) / 6 AS BIGINT) AS hits_vector,
           CAST(length(replace(replace(text, 'customer', '<PII>'), 'vector', '<PII>')) AS BIGINT) AS scrubbed_len,
           (length(text) <> length(replace(replace(text, 'customer', ''), 'vector', ''))) AS was_scrubbed
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII-style scrub: replace every occurrence of target terms with a
    redaction token, reporting per-document hit counts, scrubbed length,
    and a was-scrubbed flag. In production the term list is the PII
    lexicon/regex set (emails, phones, SSNs); the synthetic corpus has
    no digit runs, so two lexicon words stand in — the plumbing
    (pure map-side string kernel, no shuffle, no UDF) is identical.
    Counts are derived from length deltas so the scrub itself is the
    only string scan."""
    d = table(spark, sf_dir, "documents")
    hits = lambda term: (
        (F.length("text") - F.length(F.regexp_replace("text", term, "")))
        / len(term)
    ).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", "customer", "<PII>"), "vector", "<PII>"
    )
    return d.select(
        "doc_id",
        hits("customer").alias("hits_customer"),
        hits("vector").alias("hits_vector"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
        ((hits("customer") + hits("vector")) > 0).alias("was_scrubbed"),
    )


@register(
    "q_vocab_stats",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tot AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS tf_total FROM w GROUP BY word),
    dw AS (SELECT DISTINCT doc_id, word FROM w)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS df, ANY_VALUE(t.tf_total) AS tf_total,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',') AS sample_postings
    FROM dw JOIN tot t USING (word)
    GROUP BY word
    """,
)
def q_vocab_stats(spark, sf_dir):
    """Inverted-index vocabulary statistics: per word, document
    frequency, total term frequency, and the first 10 postings (sorted
    doc_ids, comma-joined so the column hash-compares across engines).

    Scale shape: both aggs are word-keyed and map-side combinable; the
    postings sample is capped so no group buffer grows with corpus
    size (a full postings list for a stopword would be corpus-sized —
    real index builds shard postings by (word, doc-range), which is
    this same agg with a composite key)."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col()).alias("word"))
    tot = w.groupBy("word").agg(F.count(F.lit(1)).alias("tf_total"))
    dw = w.distinct()
    return (
        dw.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, 10), ","
            ).alias("sample_postings"),
        )
        .join(tot, "word")
        .select("word", "df", "tf_total", "sample_postings")
    )


@register(
    "q_token_histogram",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    )
    SELECT CAST(FLOOR(ln(n_tokens) / ln(2)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY log2_bucket
    """,
)
def q_token_histogram(spark, sf_dir):
    """Document-length distribution in power-of-two buckets — the
    planning input for sequence packing and curriculum phases (how many
    docs and tokens land in each length class). One map-side-combined
    hash agg over a pure column expression; the bucket key is
    ``floor(log2(n_tokens))`` computed as ln/ln(2) identically in both
    engines (n_tokens ≥ 1 always: split('') yields one token)."""
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = (
        F.length(text) - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    t = d.select(n_tokens.alias("n_tokens"))
    bucket = F.floor(F.log(F.col("n_tokens").cast("double")) / F.log(F.lit(2.0)))
    return t.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


_CMS_SEEDS = __import__(
    "pyresample_spark.operators.dedup", fromlist=["seed_constants_sql"]
).seed_constants_sql(4)


@register(
    "q_countmin",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    seeds(j, c) AS (VALUES {_CMS_SEEDS}),
    cells AS (
      SELECT j, xor({md5_bigint_sql('word')}, c) % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM w CROSS JOIN seeds GROUP BY j, bucket
    ),
    probes AS (SELECT DISTINCT word FROM w WHERE doc_id = 2),
    truth AS (
      SELECT p.word, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM w JOIN probes p USING (word) GROUP BY p.word
    ),
    est AS (
      SELECT p.word, MIN(cells.cnt) AS est_cnt
      FROM probes p CROSS JOIN seeds s
      JOIN cells ON cells.j = s.j
       AND cells.bucket = xor({md5_bigint_sql('p.word')}, s.c) % 64
      GROUP BY p.word
    )
    SELECT t.word, t.true_cnt, CAST(e.est_cnt AS BIGINT) AS est_cnt,
           CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overcount
    FROM truth t JOIN est e USING (word)
    """,
)
def q_countmin(spark, sf_dir):
    """Count-Min sketch (d=4 hash rows × w=64 buckets) over the corpus
    word stream, with the estimate-vs-truth audit for a probe
    vocabulary — the charter's "novel sketch" slot, built EXPLICITLY
    (portable md5⊕seed hashes, plain hash aggs) so, unlike HLL, the
    sketch itself is bit-identical across engines and fully
    oracle-checkable. The sketch build is one 4×-amplified map-side
    hash agg to 256 cells; estimates never exceed d lookups per probe.
    CMS guarantees est ≥ truth — the ``overcount`` column exposes the
    collision error a deployment monitors."""
    from pyresample_spark.operators.dedup import _seed_constants

    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col()).alias("word"))
    seeds = [(j, c) for j, c in enumerate(_seed_constants(4))]
    sdf = F.broadcast(
        spark.createDataFrame(seeds, "j int, c long")
    )
    h = md5_bigint(F.col("word"))
    cells = (
        w.withColumn("h0", h)
        .crossJoin(sdf)
        .select("j", F.expr("(h0 ^ c) % 64").alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = (
        w.filter(F.col("doc_id") == 2).select("word").distinct()
    )
    truth = (
        w.join(F.broadcast(probes), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    est = (
        probes.withColumn("h0", h)
        .crossJoin(sdf)
        .select("word", "j", F.expr("(h0 ^ c) % 64").alias("bucket"))
        # the sketch is ≤ d·w = 256 rows BY CONSTRUCTION — broadcast
        # it instead of letting the lookup plan a SortMergeJoin
        # (EXPLAINS r10 flag)
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("word")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return truth.join(est, "word").select(
        "word",
        "true_cnt",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias(
            "overcount"
        ),
    )


@register(
    "q_quantile_bin",
    oracle="""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
               FROM documents),
    h AS (SELECT n_tokens, COUNT(*) AS cnt FROM t GROUP BY n_tokens),
    c AS (SELECT n_tokens,
                 SUM(cnt) OVER (ORDER BY n_tokens) AS cum,
                 SUM(cnt) OVER () AS total
          FROM h),
    b AS (SELECT n_tokens,
                 LEAST(CAST((cum * 10) // total AS BIGINT), 9) AS bin
          FROM c)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(t.n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(t.n_tokens) AS BIGINT) AS max_tokens,
           CAST((SUM(t.n_tokens) * 1000) // COUNT(*) AS BIGINT) AS avg_tokens_milli
    FROM t JOIN b USING (n_tokens)
    GROUP BY bin
    """,
)
def q_quantile_bin(spark, sf_dir):
    """Exact decile binning by token count WITHOUT a global sort: the
    quantile assignment runs on the tiny (n_tokens → count) histogram
    — cumulative count over a few hundred aggregated rows, integer
    ``cum·10 div total`` (cume_dist in exact integer arithmetic, ties
    share a bin) — then broadcast-joins back onto the documents. The
    usual ntile(10) OVER (ORDER BY …) forces every row through ONE
    sorted partition; this plan's only per-doc work is a hash agg and
    a broadcast equi-join, so it survives 100 TB unchanged. Per-bin
    output: doc count, token min/max/mean (curation length-balance
    diagnostics)."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(words_col()).alias("n_tokens"))
    h = t.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    b = h.select(
        "n_tokens",
        F.least(
            F.expr(
                "(sum(cnt) over (order by n_tokens "
                "rows unbounded preceding) * 10) div "
                "(sum(cnt) over ())"
            ),
            F.lit(9),
        ).alias("bin"),
    )
    return (
        t.join(F.broadcast(b), "n_tokens")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            # exact integer milli-tokens: AVG+ROUND of an integer
            # column can land on a half-way boundary where engines'
            # double→decimal rounding disagrees (bit us at sf0.1 in
            # q_sessionize_gap); integer div is bit-identical
            F.expr("sum(n_tokens) * 1000 div count(*)").alias(
                "avg_tokens_milli"
            ),
        )
    )


@register(
    "q_ngram_lm_ppl",
    oracle="""
    WITH l AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(wl)),
                                   i -> wl[i] || ' ' || wl[i + 1])) AS bg
      FROM l
    ),
    c2 AS (SELECT bg, COUNT(*) AS cnt2 FROM b GROUP BY bg),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cnt1
           FROM b GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT word) AS vsize
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)),
    lp AS (
      SELECT doc_id,
             CAST(ROUND(ln((cnt2 + 1.0) / (1.0 * cnt1 + vsize)) * 1000000)
                  AS BIGINT) AS lp_q
      FROM b JOIN c2 USING (bg)
      JOIN c1 ON split_part(bg, ' ', 1) = c1.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           (ROUND(exp(-SUM(lp_q) / (1000000.0 * COUNT(*))), 4) + 0.0) AS ppl
    FROM lp GROUP BY doc_id
    """,
)
def q_ngram_lm_ppl(spark, sf_dir):
    """Per-document bigram-LM PERPLEXITY with add-one (Laplace)
    smoothing over the corpus vocabulary — the actual filter statistic
    of perplexity-based curation ladders (CCNet-style): ppl =
    exp(−mean ln P(w_i|w_{i−1})), P = (c(w1w2)+1)/(c(w1·)+|V|).
    Distinct from q_bigram_logprob (unsmoothed MLE mean): smoothing
    makes unseen continuations finite, so the score works as a
    THRESHOLD on out-of-domain docs. Per-bigram logprobs are
    1e-6-quantized and integer-summed before the exp, so the mean is
    order-independent across engines; |V| is one broadcast scalar.
    At 100 TB: two count tables (bigram, prefix) broadcast back onto
    the bigram stream — same shuffle profile as q_bigram_logprob."""
    d = table(spark, sf_dir, "documents")
    wl = words_col()
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(wl, 1, F.greatest(F.size(wl) - 1, F.lit(0))),
                F.slice(wl, 2, F.greatest(F.size(wl) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt2"))
    # prefix counts from the bigram-count table (c(w1·) = Σ_w2
    # c(w1 w2)) — replaces a full tokenize+zip_with corpus pass with an
    # integer sum over the distinct-bigram aggregate (r17-opt; same
    # derivation as q_bigram_logprob)
    c1 = (
        c2.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("cnt2").alias("cnt1"))
    )
    v = (
        d.select(F.explode(wl).alias("word"))
        .agg(F.countDistinct("word").alias("vsize"))
    )
    scored = (
        bg.join(F.broadcast(c2), "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "lp_q",
            F.round(
                F.log(
                    (F.col("cnt2") + 1.0)
                    / (1.0 * F.col("cnt1") + F.col("vsize"))
                )
                * 1e6,
                0,
            ).cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd(
            F.exp(-F.sum("lp_q") / (1e6 * F.count(F.lit(1)))), 4
        ).alias("ppl"),
    )


@register(
    "q_dedup_span_mask",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
    tok AS (SELECT doc_id, CAST(len(wl) AS BIGINT) AS n_tokens FROM ws),
    sh AS (
      SELECT doc_id, unnest(range(0, len(wl) - 4)) AS s, wl
      FROM ws WHERE len(wl) >= 5
    ),
    shh AS (
      SELECT doc_id, s,
             {md5_bigint_sql("wl[s + 1] || ' ' || wl[s + 2] || ' ' || wl[s + 3] || ' ' || wl[s + 4] || ' ' || wl[s + 5]")} AS h
      FROM sh
    ),
    c AS (SELECT h, COUNT(*) AS cnt FROM shh GROUP BY h),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(s, s + 5)) AS pos
      FROM shh JOIN c USING (h) WHERE cnt >= 2
    ),
    masked AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked
               FROM covered GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           COALESCE(m.n_masked, 0) AS n_masked,
           (ROUND(1.0 - COALESCE(m.n_masked, 0) / (1.0 * t.n_tokens), 6)
            + 0.0) AS keep_fraction
    FROM tok t LEFT JOIN masked m ON t.doc_id = m.doc_id
    """,
)
def q_dedup_span_mask(spark, sf_dir):
    """Token-level duplicated-SPAN MASK — the removal step of exact-
    substring dedup (Lee et al. 2022 'Deduplicating Training Data
    Makes Language Models Better': drop the duplicated span, keep the
    rest of the doc): a token is masked iff ANY corpus-duplicated
    5-gram covers it. Where q_dup_span reports the per-doc duplicated
    fraction, this query materializes which tokens go — shingle starts
    explode to their 5 covered positions, distinct per (doc, pos),
    count vs doc length. Shuffles carry only (8-byte hash) and
    (doc_id, pos) ints — never text; the positions explode is 5× rows
    of ints, collapsed by the distinct's map-side partial."""
    d = table(spark, sf_dir, "documents")
    return span_mask(d.select("doc_id", words_col().alias("wl")))


def span_mask(base):
    """The span mask of q_dedup_span_mask over a ``(doc_id, wl)`` frame
    of per-document word arrays: (doc_id, n_tokens, n_masked,
    keep_fraction). ``tools/scale_probe_soak.py`` runs it on an
    amplified frame."""
    from pyspark.sql.window import Window as W

    tok = base.select(
        "doc_id", F.size("wl").cast("long").alias("n_tokens")
    )
    # array_join(slice(...)) builds the identical 'w1 w2 w3 w4 w5'
    # string with 2 interpreted lambda nodes instead of 9 (higher-order
    # transform() is CodegenFallback, so every node inside the lambda
    # is evaluated interpreted per shingle — guide §4.1/r17-opt)
    sh = (
        base.filter(F.size("wl") >= 5)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(wl) - 5), i -> "
                    "array_join(slice(wl, i + 1, 5), ' '))"
                )
            ).alias("s", "shingle"),
        )
        .select("doc_id", "s", md5_bigint(F.col("shingle")).alias("h"))
    )
    # corpus-wide shingle count as a WINDOW over h, not groupBy + join:
    # the join form plans the count side as an independent subtree that
    # re-scans documents and re-runs the whole split + shingle + md5
    # pass (the query's dominant cost — guide §2.4 "duplicated
    # subtrees"); the window computes shingles ONCE behind a single
    # exchange of (doc_id, s, h) int rows. COUNT(*) OVER (PARTITION BY
    # h) equals the joined groupBy count row-for-row.
    cnt_w = F.count(F.lit(1)).over(W.partitionBy("h"))
    covered = (
        sh.withColumn("cnt", cnt_w)
        .filter(F.col("cnt") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + 4)).alias("pos"),
        )
    )
    # count_distinct folds the overlap dedup and the per-doc count into
    # ONE aggregation (partial distinct runs map-side) — the separate
    # .distinct() + groupBy spent an extra exchange on (doc_id, pos)
    masked = covered.groupBy("doc_id").agg(
        F.count_distinct("pos").cast("long").alias("n_masked")
    )
    return (
        tok.join(masked, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
            rnd(
                1.0
                - F.coalesce("n_masked", F.lit(0))
                / (1.0 * F.col("n_tokens")),
                6,
            ).alias("keep_fraction"),
        )
    )


@register(
    "q_near_dup_rank",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ),
    shs AS (SELECT DISTINCT doc_id, {md5_bigint_sql('shingle')} AS h FROM sh),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
           FROM shs GROUP BY doc_id),
    inter AS (
      SELECT c.doc1, c.doc2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN shs a ON a.doc_id = c.doc1
      JOIN shs b ON b.doc_id = c.doc2 AND b.h = a.h
      GROUP BY c.doc1, c.doc2
    ),
    scored AS (
      SELECT doc1, doc2,
             CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) AS jac
      FROM inter
      JOIN sz s1 ON s1.doc_id = doc1
      JOIN sz s2 ON s2.doc_id = doc2
    )
    SELECT CAST(row_number() OVER (ORDER BY jac DESC, doc1, doc2) AS BIGINT)
             AS rank,
           doc1, doc2, ROUND(jac, 6) + 0.0 AS jaccard
    FROM scored ORDER BY jac DESC, doc1, doc2 LIMIT 20
    """,
)
def q_near_dup_rank(spark, sf_dir):
    """RANKED near-duplicate pairs: MinHash-LSH band candidates
    (never all-pairs) re-scored with EXACT 3-shingle-set Jaccard,
    global top-20 by (jaccard desc, ids). The triage view a curation
    operator reviews before choosing a dedup threshold — q_dedup_*
    apply a fixed τ; this query shows the similarity SPECTRUM around
    it. Scale: the candidate table is band-join-pruned (tiny vs
    corpus), the exact re-rank joins 8-byte shingle hashes only, and
    the final row_number orders just the scored candidates, not the
    corpus — same layering as the ANN recall diagnostics."""
    d = table(spark, sf_dir, "documents")
    cand = minhash_candidates(d, n=3).select("doc1", "doc2")
    shs = shingles(d, 3).select(
        "doc_id", md5_bigint(F.col("shingle")).alias("h")
    ).distinct()
    sz = shs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shs.select(F.col("doc_id").alias("doc1"), "h")
    b = shs.select(F.col("doc_id").alias("doc2"), "h")
    inter = (
        cand.join(a, "doc1")
        .join(b, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sz.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sz.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    from pyspark.sql.window import Window as W

    scored = (
        inter.join(F.broadcast(s1), "doc1")
        .join(F.broadcast(s2), "doc2")
        .select("doc1", "doc2", jac.alias("jac"))
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.orderBy(F.col("jac").desc(), "doc1", "doc2")
        ).cast("long"),
    ).filter(F.col("rank") <= 20)
    return ranked.select(
        "rank", "doc1", "doc2", rnd(F.col("jac"), 6).alias("jaccard")
    )


@register(
    "q_minhash_jaccard_est",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc1, c.doc2,
             CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cand c
      JOIN mh a ON a.doc_id = c.doc1
      JOIN mh b ON b.doc_id = c.doc2 AND b.j = a.j
      GROUP BY c.doc1, c.doc2
    ),
    shs AS (SELECT DISTINCT doc_id, {md5_bigint_sql('shingle')} AS h FROM sh),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
           FROM shs GROUP BY doc_id),
    inter AS (
      SELECT c.doc1, c.doc2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN shs a ON a.doc_id = c.doc1
      JOIN shs b ON b.doc_id = c.doc2 AND b.h = a.h
      GROUP BY c.doc1, c.doc2
    )
    SELECT e.doc1, e.doc2,
           (ROUND(e.n_agree / {float(N_HASHES)!r}, 6) + 0.0) AS est_jaccard,
           (ROUND(CAST(i.n_common AS DOUBLE)
                  / (s1.n_sh + s2.n_sh - i.n_common), 6) + 0.0)
             AS exact_jaccard
    FROM est e
    JOIN inter i ON i.doc1 = e.doc1 AND i.doc2 = e.doc2
    JOIN sz s1 ON s1.doc_id = e.doc1
    JOIN sz s2 ON s2.doc_id = e.doc2
    """,
)
def q_minhash_jaccard_est(spark, sf_dir):
    """MinHash ACCURACY diagnostic: for every LSH candidate pair, the
    sketch's Jaccard estimate (fraction of agreeing minhash components,
    an unbiased estimator with σ = √(J(1−J)/16)) side-by-side with the
    exact shingle-set Jaccard — the dedup family's analog of
    q_ann_recall (how much does the 16-permutation sketch distort the
    similarity a threshold is applied to?). Scale: the estimate costs
    one (doc, j) equi-join over candidates only; the exact column is
    the audit, computed on the band-pruned candidate set, never
    all-pairs."""
    from pyresample_spark.operators.dedup import minhash_signatures

    d = table(spark, sf_dir, "documents")
    cand = minhash_candidates(d, n=3).select("doc1", "doc2")
    sh = shingles(d, 3)
    mh = minhash_signatures(sh, N_HASHES)
    a = mh.select(F.col("doc_id").alias("doc1"), "j", F.col("mh").alias("mh1"))
    b = mh.select(F.col("doc_id").alias("doc2"), "j", F.col("mh").alias("mh2"))
    est = (
        cand.join(a, "doc1")
        .join(b, ["doc2", "j"])
        .groupBy("doc1", "doc2")
        .agg(
            F.sum(
                F.when(F.col("mh1") == F.col("mh2"), 1).otherwise(0)
            ).cast("long").alias("n_agree")
        )
    )
    shs = sh.select("doc_id", md5_bigint(F.col("shingle")).alias("h")).distinct()
    sz = shs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ia = shs.select(F.col("doc_id").alias("doc1"), "h")
    ib = shs.select(F.col("doc_id").alias("doc2"), "h")
    inter = (
        cand.join(ia, "doc1")
        .join(ib, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sz.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sz.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2"))
    exact = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return (
        # shuffle_hash: both sides are candidate-bounded aggregates;
        # hash-building one avoids SortMergeJoin's two sorts
        est.join(inter.hint("shuffle_hash"), ["doc1", "doc2"])
        .join(F.broadcast(s1), "doc1")
        .join(F.broadcast(s2), "doc2")
        .select(
            "doc1",
            "doc2",
            rnd(F.col("n_agree") / float(N_HASHES), 6).alias("est_jaccard"),
            rnd(exact, 6).alias("exact_jaccard"),
        )
    )


@register(
    "q_bpe_pairs",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, CAST(i AS INT), 2)))
               AS pair
      FROM w WHERE length(word) >= 2
    ),
    counts AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
               FROM pairs GROUP BY pair)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT)
             AS rank,
           pair, n
    FROM counts ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training inner loop at corpus scale: the top
    merge candidates = most frequent ADJACENT SYMBOL PAIRS within
    whitespace-pretokenized words (Sennrich et al. 2016 iteration 0 —
    production tokenizer training is this count-rank-merge loop run to
    vocab size). Pairs are built IN-ROW with
    ``transform(sequence(…), i -> substr(word, i, 2))`` — no character
    explode, no self-join; the only shuffle is the map-side-combined
    pair count (distinct pairs ≤ alphabet², a few KB of state no matter
    the corpus size), and the final rank orders that tiny table. This
    is the plan shape that makes tokenizer training feasible on the
    full 100 TB corpus rather than a sample."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    w = d.select(F.explode(words_col()).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("pair").asc()))
        .cast("long"),
    ).filter(F.col("rank") <= 20)
    return ranked.select("rank", "pair", "n")


@register(
    "q_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["en"])} AS s_en,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["de"])} AS s_de,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["es"])} AS s_es,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["fr"])} AS s_fr,
             {" + ".join(_marker_count_sql(m) for m in _MARKERS["zh"])} AS s_zh
      FROM (SELECT doc_id, ' ' || text || ' ' AS padded FROM documents)
    ),
    guesses AS (
      SELECT doc_id,
             CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh, 1) THEN 'en'
                  WHEN s_de >= GREATEST(s_es, s_fr, s_zh, 1) THEN 'de'
                  WHEN s_es >= GREATEST(s_fr, s_zh, 1) THEN 'es'
                  WHEN s_fr >= GREATEST(s_zh, 1) THEN 'fr'
                  WHEN s_zh >= 1 THEN 'zh'
                  ELSE 'und' END AS lang_guess
      FROM scored
    )
    SELECT d.lang AS true_lang, g.lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents d JOIN guesses g USING (doc_id)
    GROUP BY true_lang, lang_guess
    """,
)
def q_langid_confusion(spark, sf_dir):
    """Language-ID CONFUSION MATRIX: the heuristic classifier's guess
    (q_lang_id) against the stored ground-truth ``lang`` column —
    (true, guess, count) cells. The accuracy diagnostic of the curation
    filter family (same layering as q_ann_recall / q_minhash_jaccard_est:
    every approximate operator ships with the query that measures its
    error). Scale: classification is per-row column math; the matrix
    agg has ≤ |langs|² groups — pure map-side combine."""
    d = table(spark, sf_dir, "documents")
    guesses = q_lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    return (
        d.select("doc_id", F.col("lang").alias("true_lang"))
        .join(guesses, "doc_id")
        .groupBy("true_lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- q_bloom_filter: portable Bloom membership sketch ----------------

_BLOOM_K = 4        # hash functions (partitioned rows)
_BLOOM_M = 1024     # buckets per row (sized to EXPOSE collisions: the
                    # eval bigram set fills ~50% of each row, so the
                    # false-positive audit below exercises real FPs)


@register(
    "q_bloom_filter",
    oracle=f"""
    WITH s AS ({shingles_sql(2)}),
    seeds(j, c) AS (VALUES {{seeds}}),
    members AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 20 = 0),
    bits AS (
      SELECT DISTINCT j, xor({md5_bigint_sql('shingle')}, c) % {_BLOOM_M} AS bucket
      FROM members CROSS JOIN seeds
    ),
    probes AS (SELECT DISTINCT shingle FROM s),
    hits AS (
      SELECT p.shingle,
             CAST(COUNT(bits.bucket) AS BIGINT) = {_BLOOM_K} AS bloom_hit
      FROM probes p CROSS JOIN seeds sd
      LEFT JOIN bits ON bits.j = sd.j
       AND bits.bucket = xor({md5_bigint_sql('p.shingle')}, sd.c) % {_BLOOM_M}
      GROUP BY p.shingle
    ),
    flagged AS (
      SELECT h.shingle, h.bloom_hit,
             m.shingle IS NOT NULL AS is_member
      FROM hits h LEFT JOIN members m USING (shingle)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(CASE WHEN is_member THEN 1 END) AS BIGINT) AS n_members,
           CAST(COUNT(CASE WHEN is_member AND bloom_hit THEN 1 END) AS BIGINT)
             AS n_member_hits,
           CAST(COUNT(CASE WHEN bloom_hit AND NOT is_member THEN 1 END)
                AS BIGINT) AS n_false_positives
    FROM flagged
    """.replace("{seeds}", _CMS_SEEDS),
)
def q_bloom_filter(spark, sf_dir):
    """Partitioned Bloom filter (k=4 hash rows × m=1024 buckets) over
    the eval set's word-bigram vocabulary, audited against exact
    membership — the sketch-based form of q_decontaminate's anti-join:
    at 100 TB the eval vocabulary's Bloom bits (k·m booleans, here
    4 KiB) broadcast to every task and the corpus n-gram stream is
    filtered map-side with NO join or shuffle; only flagged candidates
    go to the exact verification join. Like q_countmin (and unlike
    HLL), the hashes are portable md5⊕seed, so the sketch is
    bit-identical across engines and fully oracle-checked: the output
    row asserts the Bloom guarantee (n_member_hits == n_members — zero
    false negatives) and exposes the real false-positive count a
    deployment monitors (m is deliberately small enough that FPs
    occur)."""
    from pyresample_spark.operators.dedup import _seed_constants

    d = table(spark, sf_dir, "documents")
    s = shingles(d, n=2)
    seeds = [(j, c) for j, c in enumerate(_seed_constants(_BLOOM_K))]
    sdf = F.broadcast(spark.createDataFrame(seeds, "j int, c long"))
    h = md5_bigint(F.col("shingle"))

    members = (
        s.filter(F.col("doc_id") % 20 == 0).select("shingle").distinct()
    )
    bits = (
        members.withColumn("h0", h)
        .crossJoin(sdf)
        .select("j", F.expr(f"(h0 ^ c) % {_BLOOM_M}").alias("bucket"))
        .distinct()
    )
    probes = s.select("shingle").distinct()
    hits = (
        probes.withColumn("h0", h)
        .crossJoin(sdf)
        .select(
            "shingle", "j", F.expr(f"(h0 ^ c) % {_BLOOM_M}").alias("bucket")
        )
        .join(
            F.broadcast(bits.withColumn("hit", F.lit(1))),
            ["j", "bucket"],
            "left",
        )
        .groupBy("shingle")
        .agg((F.count("hit") == _BLOOM_K).alias("bloom_hit"))
    )
    flagged = hits.join(
        F.broadcast(members.withColumn("is_member", F.lit(True))),
        "shingle",
        "left",
    ).withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(False)))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.count(F.when(F.col("is_member"), 1)).alias("n_members"),
        F.count(F.when(F.col("is_member") & F.col("bloom_hit"), 1)).alias(
            "n_member_hits"
        ),
        F.count(
            F.when(F.col("bloom_hit") & ~F.col("is_member"), 1)
        ).alias("n_false_positives"),
    )


@register(
    "q_edit_distance_rank",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc1, c.doc2,
             CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS edit_dist,
             1.0 - CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
                 / GREATEST(length(t1.text), length(t2.text)) AS sim
      FROM cand c
      JOIN documents t1 ON t1.doc_id = c.doc1
      JOIN documents t2 ON t2.doc_id = c.doc2
    )
    SELECT CAST(row_number() OVER (ORDER BY sim DESC, doc1, doc2) AS BIGINT)
             AS rank,
           doc1, doc2, edit_dist, ROUND(sim, 6) + 0.0 AS edit_sim
    FROM scored ORDER BY sim DESC, doc1, doc2 LIMIT 20
    """,
)
def q_edit_distance_rank(spark, sf_dir):
    """Edit-distance re-scoring of LSH candidates — the
    character-level twin of q_near_dup_rank's set-Jaccard re-rank
    (fuzzy dedup's second stage: shingle Jaccard is blind to
    within-shingle typo edits; Levenshtein counts them exactly). Both
    engines use their BUILT-IN classic Levenshtein
    (insert/delete/substitute, cost 1 — Spark `levenshtein` ≡ DuckDB
    `levenshtein`), so the integer distances hash-match exactly.
    Scale: O(|a|·|b|) dynamic programming runs ONLY on the
    band-pruned candidate pairs (hundreds, never the corpus
    cross-product), and document text moves once per pair via the
    two dimension joins — the layering every fuzzy-dedup deployment
    uses."""
    d = table(spark, sf_dir, "documents")
    cand = minhash_candidates(d, n=3).select("doc1", "doc2")
    t1 = d.select(F.col("doc_id").alias("doc1"), F.col("text").alias("ta"))
    t2 = d.select(F.col("doc_id").alias("doc2"), F.col("text").alias("tb"))
    lev = F.levenshtein(F.col("ta"), F.col("tb"))
    sim = 1.0 - lev.cast("double") / F.greatest(
        F.length("ta"), F.length("tb")
    )
    scored = (
        cand.join(t1, "doc1")
        .join(t2, "doc2")
        .select(
            "doc1", "doc2",
            lev.cast("long").alias("edit_dist"),
            sim.alias("sim"),
        )
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.col("sim").desc(), "doc1", "doc2")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc1", "doc2", "edit_dist",
                rnd(F.col("sim"), 6).alias("edit_sim"))
    )


@register(
    "q_bloom_decontaminate",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0)
    SELECT s.doc_id, CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS n_shared_ngrams
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % 37 <> 0
    GROUP BY s.doc_id
    """,
)
def q_bloom_decontaminate(spark, sf_dir):
    """The PRODUCTION decontamination plan: q_decontaminate's exact
    semantics (same oracle — the result must be IDENTICAL) but with
    the Bloom front end from q_bloom_filter actually wired in. The
    eval set's n-gram Bloom bits (k=4 × m=1024, packed into 4×16
    bigint words) are collected once — benchmarks are KBs against a
    100 TB corpus — and embedded as plan literals, so the corpus
    n-gram stream is prefiltered MAP-SIDE with no join at all; only
    Bloom-flagged shingles (true matches + the filter's false
    positives) reach the broadcast verification join that removes the
    FPs. Zero false negatives (the Bloom guarantee) + exact verify ⇒
    cell-for-cell equality with the plain anti-join plan, which the
    shared oracle enforces."""
    from pyresample_spark.operators.dedup import bloom_literal_flag, shingles

    d = table(spark, sf_dir, "documents")
    sh = shingles(d, 3)
    # eval branch reads an UNSPREAD scan (r18-opt; see
    # q_curation_pipeline): the spread+distinct combination paid
    # ~0.1 cpu-s of per-task aggregate setup × 32 tasks for ~4 rows
    # each — and here the branch ALSO runs as a plan-time collect job
    # on every build, so the overhead was paid twice per run
    d_ev = table(spark, sf_dir, "documents", spread=False)
    ev = (
        shingles(d_ev.filter(F.col("doc_id") % 37 == 0), 3)
        .select("shingle").distinct()
    )
    # plan-time: collect the eval set's portable hashes (tiny by
    # construction) and embed the packed Bloom words as plan literals
    hashes = [
        r.h0 for r in ev.select(md5_bigint(F.col("shingle")).alias("h0"))
        .collect()
    ]
    flagged = (
        sh.filter(F.col("doc_id") % 37 != 0)
        .withColumn("h0", md5_bigint(F.col("shingle")))
        .filter(bloom_literal_flag(hashes))  # map-side: no join here
    )
    return (
        flagged.join(F.broadcast(ev), "shingle")  # exact verify: drop FPs
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_ngrams"))
    )


@register(
    "q_token_entropy",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w GROUP BY doc_id, word
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM tf GROUP BY doc_id
    )
    SELECT t.doc_id, tot.n AS n_tokens, tot.n_distinct,
           ROUND(-SUM((CAST(t.c AS DOUBLE) / tot.n)
                      * ln(CAST(t.c AS DOUBLE) / tot.n)), 6) + 0.0
             AS entropy_nats
    FROM tf t JOIN tot USING (doc_id)
    GROUP BY t.doc_id, tot.n, tot.n_distinct
    """,
)
def q_token_entropy(spark, sf_dir):
    """Per-document unigram token entropy H = −Σ p·ln p — the
    information-density quality signal (low-entropy docs are
    repetitive/templated; the Shannon rung above
    q_repetition_ratio's duplicate-word fraction). Two stacked
    map-side-combinable hash aggs — (doc, word) counts then the
    per-doc fold — no window, no join beyond the per-doc total
    broadcast-sized rollup; identical double math on both engines,
    ROUND(6) absorbing aggregation-order ulps."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words_col()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(rnd(-F.sum(p * F.log(p)), 6).alias("entropy_nats"))
        .select(
            "doc_id", F.col("n").alias("n_tokens"), "n_distinct",
            "entropy_nats",
        )
    )


@register(
    "q_contamination_frac",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    tr AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 37 <> 0)
    SELECT tr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(ev.shingle) AS BIGINT) AS n_shared,
           ROUND(CAST(COUNT(ev.shingle) AS DOUBLE) / COUNT(*), 6) + 0.0
             AS contamination_frac,
           (COUNT(ev.shingle) * 10 >= COUNT(*)) AS contaminated
    FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
    GROUP BY tr.doc_id
    """,
)
def q_contamination_frac(spark, sf_dir):
    """Graded benchmark contamination (the GPT-3-appendix refinement
    of q_decontaminate's binary flag): per training document, the
    FRACTION of its distinct word n-grams that appear in the held-out
    eval set (doc_id % 37 here; 13-grams in production — the
    synthetic docs are short so 3-grams keep it non-vacuous), plus a
    ≥10% contamination flag. The flag compares integers
    (n_shared·10 ≥ n_ngrams) so the cut is exact on both engines.

    Scale shape: identical to q_decontaminate — the eval n-gram set is
    KBs against a 100 TB corpus, so it broadcasts and the corpus never
    shuffles; the per-doc fraction is one map-side-combinable hash agg
    over the (doc, gram) stream. The left join keeps UNcontaminated
    docs in the output (fraction 0), which the anti-join form of
    q_decontaminate cannot report."""
    from pyresample_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents")
    sh = shingles(d, 3).select("doc_id", "shingle").distinct()
    ev = sh.filter(F.col("doc_id") % 37 == 0).select("shingle").distinct()
    tr = sh.filter(F.col("doc_id") % 37 != 0)
    n_tot = F.count(F.lit(1))
    n_hit = F.count("_hit")
    return (
        tr.join(
            F.broadcast(ev.withColumn("_hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            n_tot.alias("n_ngrams"),
            n_hit.alias("n_shared"),
            rnd(n_hit.cast("double") / n_tot, 6).alias("contamination_frac"),
            (n_hit * 10 >= n_tot).alias("contaminated"),
        )
    )


@register(
    "q_line_dedup",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS line_no,
             array_to_string(w[i * 8 + 1 : i * 8 + 8], ' ') AS line
      FROM ws, UNNEST(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS t(i)
    ),
    firsts AS (
      SELECT line, MIN(doc_id) AS min_doc FROM lines GROUP BY line
    ),
    flagged AS (
      SELECT l.doc_id, l.line_no, l.line,
             (l.doc_id = f.min_doc) AS keep
      FROM lines l JOIN firsts f ON l.line = f.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS kept_frac,
           COALESCE(string_agg(line, ' ' ORDER BY line_no)
                      FILTER (WHERE keep), '') AS kept_text
    FROM flagged GROUP BY doc_id
    """,
)
def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide span dedup at fixed 8-word line
    granularity (Raffel et al. discard duplicated three-sentence
    spans; the synthetic docs carry no sentence punctuation, so fixed
    word windows stand in): every line that appears anywhere else in
    the corpus survives ONLY in its lowest-doc_id document; each doc
    reports kept-line count/fraction and its reconstructed kept text
    in original line order.

    Scale shape: the global first-occurrence pass groups the line
    stream by the line itself (at 100 TB: by a 64-bit line hash, the
    q_dedup_exact trick) — one map-side-combinable agg whose shuffle
    carries one row per DISTINCT line; the verdict joins back on the
    same key (co-partitioned with the agg, no extra exchange under
    AQE) and the per-doc rebuild is one hash agg over (doc, line_no)
    rows. Nothing quadratic, no window over the corpus."""
    d = table(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(w) / 8.0) as int) - 1),"
                " i -> array_join(slice(w, i * 8 + 1, 8), ' '))"
            )
        ).alias("line_no", "line"),
    )
    firsts = lines.groupBy("line").agg(F.min("doc_id").alias("min_doc"))
    flagged = lines.join(firsts, "line").withColumn(
        "keep", F.col("doc_id") == F.col("min_doc")
    )
    n_kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    kept_struct = F.when(
        F.col("keep"), F.struct("line_no", "line")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        n_kept.cast("bigint").alias("n_kept"),
        rnd(n_kept.cast("double") / F.count(F.lit(1)), 6).alias("kept_frac"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "  CASE WHEN keep THEN struct(line_no, line) END)),"
                " x -> x.line)"
            ),
            " ",
        ).alias("kept_text"),
    )


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents
    ),
    base AS (
      SELECT doc_id, n_chars,
             CAST(len(w) AS BIGINT) AS n_words,
             (CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w))
               AS mean_word_len,
             (CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
               AS DOUBLE) / len(w)) AS frac_alpha,
             CAST(len(list_intersect(list_distinct(w),
                  ['the', 'a', 'and', 'of', 'to', 'in'])) AS BIGINT)
               AS n_stopwords
      FROM ws
    ),
    g2 AS (SELECT doc_id, shingle, COUNT(*) AS cnt
           FROM ({shingles_sql(2)}) GROUP BY 1, 2),
    mx2 AS (SELECT doc_id, MAX(cnt) AS mx FROM g2 GROUP BY 1),
    top2 AS (SELECT g.doc_id, MIN(len(g.shingle)) AS glen, MAX(g.cnt) AS cnt
             FROM g2 g JOIN mx2 m ON g.doc_id = m.doc_id AND g.cnt = m.mx
             GROUP BY g.doc_id),
    g3 AS (SELECT doc_id, shingle, COUNT(*) AS cnt
           FROM ({shingles_sql(3)}) GROUP BY 1, 2),
    mx3 AS (SELECT doc_id, MAX(cnt) AS mx FROM g3 GROUP BY 1),
    top3 AS (SELECT g.doc_id, MIN(len(g.shingle)) AS glen, MAX(g.cnt) AS cnt
             FROM g3 g JOIN mx3 m ON g.doc_id = m.doc_id AND g.cnt = m.mx
             GROUP BY g.doc_id)
    SELECT b.doc_id, b.n_words,
           ROUND(b.mean_word_len, 6) + 0.0 AS mean_word_len,
           ROUND(b.frac_alpha, 6) + 0.0 AS frac_alpha,
           b.n_stopwords,
           ROUND(COALESCE(t2.cnt * t2.glen, 0)
                 / (1.0 * b.n_chars), 6) + 0.0 AS top2_frac,
           ROUND(COALESCE(t3.cnt * t3.glen, 0)
                 / (1.0 * b.n_chars), 6) + 0.0 AS top3_frac,
           (b.n_words >= 50 AND b.n_words <= 100000
            AND b.mean_word_len >= 3.0 AND b.mean_word_len <= 10.0
            AND b.frac_alpha >= 0.8 AND b.n_stopwords >= 2
            AND COALESCE(t2.cnt * t2.glen, 0)
                / (1.0 * b.n_chars) <= 0.20
            AND COALESCE(t3.cnt * t3.glen, 0)
                / (1.0 * b.n_chars) <= 0.18) AS keep
    FROM base b
    LEFT JOIN top2 t2 ON b.doc_id = t2.doc_id
    LEFT JOIN top3 t3 ON b.doc_id = t3.doc_id
    """,
)
def q_gopher_rules(spark, sf_dir):
    """The Gopher quality-rule battery (Rae et al. 2021, table A1) as
    ONE per-document feature row + keep verdict: word count in
    [50, 100k], mean word length in [3, 10], ≥80% of words contain an
    alphabetic character, ≥2 distinct stopwords, and the top-2-gram /
    top-3-gram character fractions under 0.20 / 0.18 (the repetition
    rules; ties broken to the lexicographically smallest gram so both
    engines pick the same one). Complements q_quality_score (composite
    score) with the exact published-threshold rule set.

    Scale shape: the base features are in-row array folds (zero
    shuffle); each top-gram needs two stacked hash aggs — (doc, gram)
    counts then per-doc max — and an equality join back to recover the
    argmax gram, all keyed by doc_id/gram (at 100 TB: gram hashes).
    No windows, no sorts, every aggregate map-side-combinable."""
    from pyresample_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents")
    w = words_col()
    base = d.select(
        "doc_id",
        "n_chars",
        F.size(w).cast("bigint").alias("n_words"),
        w.alias("w"),
    ).select(
        "doc_id",
        "n_chars",
        "n_words",
        (
            (F.col("n_chars") - (F.col("n_words") - 1)).cast("double")
            / F.col("n_words")
        ).alias("mean_word_len"),
        (
            F.size(F.expr("filter(w, x -> x rlike '[a-zA-Z]')"))
            .cast("double") / F.col("n_words")
        ).alias("frac_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.col("w")),
                F.array(*[F.lit(t) for t in
                          ("the", "a", "and", "of", "to", "in")]),
            )
        ).cast("bigint").alias("n_stopwords"),
    )

    def top_gram(n, out):
        g = shingles(d, n).groupBy("doc_id", "shingle").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        mx = g.select(
            F.col("doc_id").alias("doc_id_m"), F.col("cnt").alias("cnt_m")
        ).groupBy("doc_id_m").agg(F.max("cnt_m").alias("mx"))
        return (
            g.join(
                mx,
                (F.col("doc_id") == F.col("doc_id_m"))
                & (F.col("cnt") == F.col("mx")),
            )
            .groupBy("doc_id")
            .agg(
                # ties resolved by MIN LENGTH, not min gram: only the
                # length feeds the fraction, and an integer min keeps
                # the aggregate a HashAggregate (a string min buffer
                # would force SortAggregate)
                F.min(F.length("shingle")).alias(f"{out}_glen"),
                F.max("cnt").alias(f"{out}_cnt"),
            )
        )

    out = (
        base.join(top_gram(2, "t2"), "doc_id", "left")
        .join(top_gram(3, "t3"), "doc_id", "left")
    )
    t2f = F.coalesce(
        F.col("t2_cnt") * F.col("t2_glen"), F.lit(0)
    ) / (1.0 * F.col("n_chars"))
    t3f = F.coalesce(
        F.col("t3_cnt") * F.col("t3_glen"), F.lit(0)
    ) / (1.0 * F.col("n_chars"))
    keep = (
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
        & (F.col("frac_alpha") >= 0.8) & (F.col("n_stopwords") >= 2)
        & (t2f <= 0.20) & (t3f <= 0.18)
    )
    return out.select(
        "doc_id",
        "n_words",
        rnd(F.col("mean_word_len"), 6).alias("mean_word_len"),
        rnd(F.col("frac_alpha"), 6).alias("frac_alpha"),
        "n_stopwords",
        rnd(t2f, 6).alias("top2_frac"),
        rnd(t3f, 6).alias("top3_frac"),
        keep.alias("keep"),
    )


@register(
    "q_doc_chunk",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_no,
             array_to_string(w[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
             CAST(len(w[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_tokens
      FROM ws, UNNEST(range(0, GREATEST(
        CAST(ceil((len(w) - 8) / 24.0) AS BIGINT), 1))) AS t(i)
    )
    SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, chunk_text,
           n_tokens
    FROM chunks WHERE n_tokens > 0
    """,
)
def q_doc_chunk(spark, sf_dir):
    """Context-window chunking — how pretraining data actually gets
    windowed: each document splits into chunks of 32 tokens with
    stride 24 (8-token overlap so no span is ever cut without context
    on one side). Output one row per (doc, chunk) with its text and
    length; the final short tail chunk is kept (real pipelines pad
    it). Chunk count = ceil((n − overlap) / stride), min 1.

    Scale shape: a pure in-row transform + posexplode — ZERO shuffle,
    no join; the ideal map-only plan. The 1→N amplification carries
    only the chunk's own words (total output ≈ 1.33× input chars at
    this stride), exactly like the multimodal frame explode."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    return (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(greatest("
                    "ceil((size(w) - 8) / 24.0), 1.0)) - 1),"
                    " i -> slice(w, i * 24 + 1, 32))"
                )
            ).alias("chunk_no", "chunk"),
        )
        .filter(F.size("chunk") > 0)
        .select(
            "doc_id",
            F.col("chunk_no").cast("bigint").alias("chunk_no"),
            F.array_join("chunk", " ").alias("chunk_text"),
            F.size("chunk").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "q_data_card",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id, text, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents WHERE doc_id % 37 <> 0
    ),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en
      FROM base GROUP BY source
    ),
    sh AS ({shingles_sql(3)}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    cont AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
      WHERE s.doc_id % 37 <> 0
    ),
    csrc AS (
      SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_cont
      FROM cont JOIN base b ON cont.doc_id = b.doc_id
      GROUP BY b.source
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           ROUND(1.0 - CAST(p.n_distinct AS DOUBLE) / p.n_docs, 6) + 0.0
             AS dup_rate,
           ROUND(CAST(COALESCE(c.n_cont, 0) AS DOUBLE) / p.n_docs, 6) + 0.0
             AS contam_rate,
           ROUND(CAST(p.n_en AS DOUBLE) / p.n_docs, 6) + 0.0 AS en_frac
    FROM per p LEFT JOIN csrc c ON p.source = c.source
    """,
)
def q_data_card(spark, sf_dir):
    """Per-source DATA CARD — the report a pipeline team publishes
    with a training mix: training docs (eval split excluded) and
    tokens per source, exact-duplicate rate (1 − distinct content
    hashes / docs), benchmark-contamination rate (share of docs with
    ≥1 shared 3-gram with the held-out set), and language purity.
    Every metric is a previously-oracled operator's aggregate,
    composed into one k-row report.

    Scale shape: content hashes shuffle as digests, the eval n-gram
    set broadcasts, the contaminated-doc set is a distinct stream of
    bare ids re-joined map-side, and the final report is a few-row
    join on the source key — nothing in the plan scales with corpus
    size except the scans."""
    from pyresample_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents")
    w = words_col()
    base = d.filter(F.col("doc_id") % 37 != 0).select(
        "source", "doc_id", "text", "lang",
        F.size(w).cast("bigint").alias("n_words"),
    )
    per = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.count_distinct(F.sha2("text", 256)).alias("n_distinct"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint").alias("n_en"),
    )
    sh = shingles(d, 3)
    ev = sh.filter(F.col("doc_id") % 37 == 0).select("shingle").distinct()
    cont = (
        sh.filter(F.col("doc_id") % 37 != 0)
        .join(F.broadcast(ev), "shingle")
        .select("doc_id")
        .distinct()
    )
    csrc = (
        cont.join(base.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )
    return (
        per.join(F.broadcast(csrc), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rnd(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            rnd(
                F.coalesce(F.col("n_cont"), F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("contam_rate"),
            rnd(
                F.col("n_en").cast("double") / F.col("n_docs"), 6
            ).alias("en_frac"),
        )
    )


@register(
    "q_quality_logreg",
    oracle="""
    WITH ws AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             (CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w))
               AS mean_word_len,
             (CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
               AS DOUBLE) / len(w)) AS frac_alpha,
             (CAST(len(list_intersect(list_distinct(w),
                  ['the', 'a', 'and', 'of', 'to', 'in'])) AS DOUBLE) / 6.0)
               AS stop_cov,
             (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) AS ttr
      FROM ws
    ),
    z AS (
      SELECT doc_id, n_words,
             (-3.0 + 0.02 * n_words + 0.3 * mean_word_len
              + 2.0 * frac_alpha + 1.5 * stop_cov + 2.5 * ttr) AS z
      FROM feat
    )
    SELECT doc_id, n_words,
           ROUND(1.0 / (1.0 + exp(-z)), 6) + 0.0 AS p_quality,
           (ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS keep
    FROM z
    """,
)
def q_quality_logreg(spark, sf_dir):
    """Learned quality filter — the fastText/logistic-regression shape
    production pipelines apply after the rule battery: a FIXED linear
    model over cheap per-doc features (token count, mean word length,
    alphabetic fraction, stopword coverage, type-token ratio) through
    a sigmoid, with the keep decision taken on the ROUNDED probability
    so a last-ulp libm exp difference can never flip it cross-engine.
    Weights ride the plan as literals (a real model's coefficients
    would too — KBs against a 100 TB corpus).

    Scale shape: features are in-row array folds, the score is a
    scalar expression — a pure map with zero shuffle; the cheapest
    possible 100 TB filter after the scan itself."""
    d = table(spark, sf_dir, "documents")
    w = words_col()
    feat = d.select(
        "doc_id",
        "n_chars",
        F.size(w).cast("bigint").alias("n_words"),
        w.alias("w"),
    ).select(
        "doc_id",
        "n_words",
        (
            (F.col("n_chars") - (F.col("n_words") - 1)).cast("double")
            / F.col("n_words")
        ).alias("mean_word_len"),
        (
            F.size(F.expr("filter(w, x -> x rlike '[a-zA-Z]')"))
            .cast("double") / F.col("n_words")
        ).alias("frac_alpha"),
        (
            F.size(
                F.array_intersect(
                    F.array_distinct(F.col("w")),
                    F.array(*[F.lit(t) for t in
                              ("the", "a", "and", "of", "to", "in")]),
                )
            ).cast("double") / 6.0
        ).alias("stop_cov"),
        (
            F.size(F.array_distinct(F.col("w"))).cast("double")
            / F.col("n_words")
        ).alias("ttr"),
    )
    z = (
        F.lit(-3.0) + 0.02 * F.col("n_words") + 0.3 * F.col("mean_word_len")
        + 2.0 * F.col("frac_alpha") + 1.5 * F.col("stop_cov")
        + 2.5 * F.col("ttr")
    )
    p = F.round(1.0 / (1.0 + F.exp(-z)), 6)
    return feat.select(
        "doc_id",
        "n_words",
        (p + F.lit(0.0)).alias("p_quality"),
        (p >= 0.5).alias("keep"),
    )


@register(
    "q_minhash_band_tuning",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup',
        fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    mh AS (
      SELECT doc_id, j, MIN(xor({md5_bigint_sql('shingle')}, c)) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, j
    ),
    cfg(r) AS (VALUES (2), (4), (8)),
    sigs AS (
      SELECT cfg.r, doc_id, j // cfg.r AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh CROSS JOIN cfg GROUP BY cfg.r, doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.r, a.doc_id AS d1, b.doc_id AS d2
      FROM sigs a JOIN sigs b
        ON a.r = b.r AND a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
    SELECT cfg.r AS rows_per_band,
           CAST({N_HASHES} / cfg.r AS BIGINT) AS n_bands,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_candidate_pairs
    FROM cfg LEFT JOIN (
      SELECT r, COUNT(*) AS n FROM cand GROUP BY r
    ) c ON cfg.r = c.r
    """,
)
def q_minhash_band_tuning(spark, sf_dir):
    """LSH band-tuning diagnostic — the candidate-volume curve an
    index owner reads before changing the banding (the dedup analog
    of q_ann_recall / q_cluster_balance / q_pq_recall): for rows-per-
    band r ∈ {2, 4, 8} over the same 16 minhashes, the number of
    distinct candidate pairs the banding emits. Small r → more bands →
    higher recall and more candidates (the S-curve steers left);
    the production config (r=4) sits between the extremes.

    Scale shape: ONE minhash pass (the expensive part — shingle md5s)
    feeds all three configs; per config the band self-join matches on
    band signatures exactly as q_dedup_minhash does, and only the
    k-row count survives. Nothing quadratic outside the banding's own
    candidate generation."""
    from pyresample_spark.operators.dedup import (
        band_signatures,
        minhash_signatures,
        shingles,
    )

    d = table(spark, sf_dir, "documents")
    mh = minhash_signatures(shingles(d, 3))
    rows = []
    for r in (2, 4, 8):
        sigs = band_signatures(mh, r)
        a = sigs.select(
            F.col("doc_id").alias("d1"), "band", "sig"
        )
        b = sigs.select(
            F.col("doc_id").alias("d2"),
            F.col("band").alias("band2"),
            F.col("sig").alias("sig2"),
        )
        n = (
            a.join(
                b,
                (F.col("band") == F.col("band2"))
                & (F.col("sig") == F.col("sig2"))
                & (F.col("d1") < F.col("d2")),
            )
            .select("d1", "d2")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.lit(N_HASHES // r).cast("bigint").alias("n_bands"),
                F.col("n").cast("bigint").alias("n_candidate_pairs"),
            )
        )
        rows.append(n)
    out = rows[0]
    for x in rows[1:]:
        out = out.unionAll(x)
    return out


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    seeds(j, c) AS (VALUES {__import__('pyresample_spark.operators.dedup', fromlist=['seed_constants_sql']).seed_constants_sql(N_HASHES)}),
    seeded AS (
      SELECT doc_id, j, xor({md5_bigint_sql('shingle')}, c) AS h
      FROM sh CROSS JOIN seeds
    ),
    mh AS (SELECT doc_id, j, MIN(h) AS mh FROM seeded GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id, j // {BAND} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, band
    )
    SELECT n.doc_id AS new_doc, o.doc_id AS matched_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM sigs o JOIN sigs n ON o.band = n.band AND o.sig = n.sig
    WHERE o.doc_id % 10 < 8 AND n.doc_id % 10 >= 8
    GROUP BY new_doc, matched_doc
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """INCREMENTAL near-dedup — the workflow a 100 TB corpus actually
    runs daily: the historical corpus's LSH band table is built ONCE
    and persisted (LutCache, bucketed by the band signature); each new
    ingest batch computes only ITS OWN signatures and probes the index
    with a plain equi-join — no recompute of the historical side, no
    N² anything. Here 'historical' = doc_id % 10 < 8, 'new batch' =
    the rest; output is (new_doc, matched_doc, n_shared_bands)
    candidate pairs exactly as q_dedup_minhash reports them. The
    oracle recomputes both sides from scratch, proving the persisted
    index byte-equivalent to a fresh banding pass."""
    from pyresample_spark.operators.dedup import (
        BAND_SIZE as _BS,
        N_HASHES as _NH,
        lsh_probe_pairs,
        minhash_bands_inrow,
    )
    from pyresample_spark.plans.lut import LutCache

    d = table(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 10 < 8)
    new = d.filter(F.col("doc_id") % 10 >= 8)

    cache = LutCache(bucket_col="sig")
    src_hash = lut_src_hash("lsh-bands-mod10lt8", sf_dir, "documents")
    # the k-tuple carries the signature FORMAT (hash count, band size,
    # shingle n, layout version): changing any of them must be a cache
    # MISS, never a silent stale-index near-empty candidate set
    index = cache.get_or_compute(
        spark, src_hash, "minhash-bands", 0.0,
        ("lsh_index", _NH, _BS, 3, "v1"),
        lambda: minhash_bands_inrow(existing, 3),
    )
    pairs = lsh_probe_pairs(minhash_bands_inrow(new, 3), index)
    return pairs.groupBy("new_doc", "matched_doc").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )
