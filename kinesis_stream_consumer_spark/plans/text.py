"""Text queries over ``documents``: quality signals, language ID,
n-gram and token statistics, retrieval scoring and the LLM-prep
pipelines (the ``text_*`` and ``llm_*`` names; the earliest of them
live in plans/llm_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_consumer_spark.operators import dedup as D
from kinesis_stream_consumer_spark.operators import sketches as SK
from kinesis_stream_consumer_spark.operators import text as T
from kinesis_stream_consumer_spark.plans.curation import _BPE_TOKS
from kinesis_stream_consumer_spark.plans.llm_pipeline import (
    _BM25_TERMS,
    _BM25_TERMS_SQL,
    _BM25_TOP,
    _BOILER_SEG_WORDS,
    _BOILER_SUPPORT,
    _COLL_MIN_COUNT,
    _COLL_TOP,
    _DUP_NGRAM_K,
    _DUP_NGRAM_MIN_DOCS,
    _EN_STOP,
    _FK_A,
    _FK_B,
    _FK_C,
    _IMPERATIVES,
    _SHINGLE_ROWS,
    _TOKS,
    _V2_FLUENCY_MIN,
    _langid_oracle,
    _llm_prep_v2_oracle,
)
from kinesis_stream_consumer_spark.plans.queries import (
    QUERIES,
    _t,
    _table_row_count,
    register,
)


@register(
    "text_token_histogram",
    f"""
    WITH toks AS (
      SELECT lang, {_BPE_TOKS} AS n_tok FROM documents
    )
    SELECT lang,
           CAST(n_tok // 8 AS INT) AS bucket,
           CAST(n_tok // 8 AS INT) * 8 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM toks GROUP BY 1, 2 ORDER BY lang, bucket
    """,
    doc="Token-length histogram per language (fixed-width 8-token "
    "buckets): the length-distribution profile every corpus audit starts "
    "with — detects truncation spikes, boilerplate modes, and per-language "
    "length skew before training. Binning is integer division in the "
    "group key: one hash aggregate, map-side combining, no sort and no "
    "per-group memory beyond the bucket count.",
)
def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tok = T.bpe_ish_token_count(F.col("text"))
    bucket = F.floor(n_tok / 8).cast("int")
    return (
        docs.select("lang", n_tok.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .select(
            "lang",
            "bucket",
            (F.col("bucket") * 8).alias("bucket_lo"),
            "n_docs",
            "total_tokens",
        )
        .orderBy("lang", "bucket")
    )


@register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           LENGTH(text)                                            AS n_chars,
           len({_TOKS})                                            AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\w\\s]')) AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(letters/digits/punct as separate pieces). Pure regexp column "
    "expressions — codegen'd, scales linearly.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        T.token_count(t).alias("n_tokens"),
        T.bpe_ish_token_count(t).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "text_langid",
    _langid_oracle(),
    doc="Language ID via stopword-hit heuristic over fixed per-language word "
    "sets; deterministic tie-break (en>es>de>fr), 'und' when no hits.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # two-step: materialize the lowered token array once, then the 4
    # per-language hit counts reference the column instead of re-splitting
    toked = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.tokens(F.lower(F.col("text"))).alias("_lt"),
    )
    return toked.select(
        "doc_id",
        "labeled_lang",
        T.lang_id_from_tokens(F.col("_lt")).alias("predicted_lang"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    """
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, GREATEST(LENGTH(text) - 4, 1))) AS i
      FROM documents
    )
    SELECT doc_id, MIN(md5(substr(text, i, 5))) AS fingerprint
    FROM pos GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Document fingerprinting: min-of-md5 over character 5-grams "
    "(winnowing-style). Shift-robust unlike a plain content hash; an O(len) "
    "expression per document.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.char_ngram_min_fingerprint(F.col("text"), 5).alias("fingerprint"),
    ).orderBy("doc_id")


@register(
    "text_bigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    big AS (
      SELECT doc_id, concat(toks[i], ' ', toks[i+1]) AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok)
    ),
    bf AS (SELECT doc_id, gram, COUNT(*) AS bf FROM big GROUP BY 1, 2),
    bm AS (SELECT gram, COUNT(*) AS c12 FROM big GROUP BY 1),
    lm AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab FROM lm)
    SELECT bf.doc_id,
           ROUND(SUM(bf.bf * LN(CAST(0.75 AS DOUBLE) * (bm.c12 / l1.cnt)
                   + CAST(0.25 AS DOUBLE) * ((l2.cnt + 1.0) / (tot.total + tot.vocab))))
                 / SUM(bf.bf), 4) AS mean_bigram_logprob,
           CAST(SUM(bf.bf) AS BIGINT) AS n_bigrams
    FROM bf
    JOIN bm USING (gram)
    JOIN lm l1 ON l1.term = split_part(bf.gram, ' ', 1)
    JOIN lm l2 ON l2.term = split_part(bf.gram, ' ', 2)
    CROSS JOIN tot
    GROUP BY bf.doc_id
    ORDER BY bf.doc_id
    """,
    doc="Bigram-LM fluency score with Jelinek-Mercer interpolation "
    "(0.75·p(w2|w1) + 0.25·add-one-unigram): the n-gram step up from "
    "text_unigram_logprob toward a KenLM-style perplexity gate. The "
    "bigram and unigram models are slim keyed count tables (checkpointed "
    "once, map-side combined); scoring is three hash joins on "
    "high-cardinality gram/term keys; the two-value normalizer crosses "
    "the driver as literals like every trained-model scalar. Linear at "
    "100 TB — no window functions, no Python.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    grams = T.repetition_gram_rows(docs, "text", "doc_id")
    toks = grams.where(F.col("kind") == 0).select("doc", F.col("gram").alias("term"))
    big = grams.where(F.col("kind") == 1).select("doc", "gram")
    bf = big.groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("bf"))
    bm = big.groupBy("gram").agg(F.count(F.lit(1)).alias("c12")).localCheckpoint(
        eager=True
    )
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
        eager=True
    )
    tot = lm.agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")).first()
    denom = float(tot["total"] + tot["vocab"])
    l1 = lm.select(F.col("term").alias("w1"), F.col("cnt").alias("c1"))
    l2 = lm.select(F.col("term").alias("w2"), F.col("cnt").alias("c2"))
    scored = (
        bf.withColumn("w1", F.split("gram", " ")[0])
        .withColumn("w2", F.split("gram", " ")[1])
        .join(bm, "gram")
        .join(l1, "w1")
        .join(l2, "w2")
    )
    p = 0.75 * (F.col("c12") / F.col("c1")) + 0.25 * (
        (F.col("c2") + 1.0) / denom
    )
    return (
        scored.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.round(F.sum(F.col("bf") * F.log(p)) / F.sum("bf"), 4).alias(
                "mean_bigram_logprob"
            ),
            F.sum("bf").cast("long").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_tfidf_topk",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN((1.0 + n.n) / (1.0 + d.df)), 4) AS tfidf
      FROM tf JOIN dfreq d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
    WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document by "
    "tf·ln((1+N)/(1+df)) (smoothed idf). Tokenize once; term counts are "
    "one (doc, term) shuffle with map-side combine; document frequency is "
    "a second slim shuffle keyed on term; N comes from table stats "
    "(footer row count), not a count() job. The tf⋈df join is keyed on "
    "term — at 100 TB the vocab table shards across executors instead of "
    "broadcasting an unbounded dictionary.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = _table_row_count(sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df"))), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


_CMS_WIDTH = 32
_CMS_DEPTH = 4
_CMS_TOP = 20


@register(
    "text_heavy_hitters_cms",
    f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    dd AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d),
    bkt AS (
      SELECT tok, d,
             CAST((md5_number_upper(CAST(d AS VARCHAR) || '|' || tok) >> 8)
                  % {_CMS_WIDTH} AS BIGINT) AS b
      FROM toks CROSS JOIN dd
    ),
    sketch AS (SELECT d, b, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
    exact AS (SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok),
    top AS (
      SELECT tok, exact_count FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY exact_count DESC, tok) AS rn
        FROM exact) WHERE rn <= {_CMS_TOP}
    ),
    tb AS (
      SELECT t.tok, t.exact_count, dd.d,
             CAST((md5_number_upper(CAST(dd.d AS VARCHAR) || '|' || t.tok) >> 8)
                  % {_CMS_WIDTH} AS BIGINT) AS b
      FROM top t CROSS JOIN dd
    ),
    est AS (
      SELECT tb.tok, tb.exact_count, MIN(s.c) AS cms_estimate
      FROM tb JOIN sketch s ON s.d = tb.d AND s.b = tb.b
      GROUP BY 1, 2
    )
    SELECT tok AS token,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(FLOOR(10000.0 * (cms_estimate - exact_count) / exact_count + 0.5)
                AS BIGINT) AS overest_bp
    FROM est
    ORDER BY exact_count DESC, token
    """,
    doc="Count–Min-Sketch heavy hitters — the bounded-memory frequency "
    f"sketch (Cormode & Muthukrishnan 2005): a {_CMS_DEPTH}×{_CMS_WIDTH} "
    "counter array over md5-salted token buckets, estimate = min over "
    "depths of the token's bucket counts, reported for the exact "
    f"top-{_CMS_TOP} tokens next to their true counts with the "
    "overestimate in basis points (CMS only ever OVERcounts — collisions "
    "add; the output makes the error visible). The 100 TB story is the "
    "sketch aggregate's size: depth·width counters REGARDLESS of "
    "vocabulary, with map-side combine, where an exact vocabulary count "
    "shuffles one row per distinct token — the trade every streaming "
    "frequency pipeline makes. Deterministic md5 salts, integer-exact "
    "end to end; the exact top-N side plans as TakeOrderedAndProject "
    "(distributed top-N, no global window). Width 32 is sized DOWN to "
    "the driver corpus's 31-token synthetic vocabulary so collisions "
    "(the sketch's defining error mode) actually occur and get "
    "checked; production widths are ≫ the heavy-hitter count and the "
    "knob changes nothing structural.",
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: depth md5s per token occurrence all run BEFORE the sketch
    # aggregate's exchange (partial combine means the map side does the
    # hashing) — on a single-row-group scan that pins the whole hash
    # volume to one task (A/B 2.15s vs 6.90s median at sf0.1)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    return T.cms_token_estimates(
        docs, "text", _CMS_WIDTH, _CMS_DEPTH, _CMS_TOP
    ).orderBy(F.col("exact_count").desc(), "token")


@register(
    "llm_prep_pipeline_v2",
    _llm_prep_v2_oracle(),
    doc="The FULL composed curation chain — what a production pretraining "
    "prep job actually runs, built entirely from this repo's certified "
    "operators: quality score ≥ 0.5, Gopher repetition filter, unigram-LM "
    "fluency gate, language filter, transitive near-dup clusters reduced "
    "to their best-quality canonical member, exact-dedup keep-first, then "
    "per-source token accounting. Both sides compose the SAME certified "
    "fragments (the Spark side calls the registered query fns, the oracle "
    "splices their SQL bodies), so parity is inherited stage by stage. "
    "Plan shape: each stage is shuffles already proven slim by the "
    "standalone gates; the final census combines map-side.",
)
def llm_prep_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    q = QUERIES["text_quality"].fn(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    rep = QUERIES["text_repetition"].fn(spark, sf_dir).select(
        "doc_id", "is_repetitive"
    )
    flu = QUERIES["text_unigram_logprob"].fn(spark, sf_dir).select(
        "doc_id", "mean_logprob"
    )
    members = QUERIES["dedup_cluster_components"].fn(spark, sf_dir)
    canon = (
        members.join(q, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("component_id").orderBy(
                    F.col("quality_score").desc(), "doc_id"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("canonical"))
    )
    nodecanon = members.join(canon, "component_id").select(
        F.col("doc_id").alias("nc_doc"), "canonical"
    )
    kept = (
        docs.select("doc_id", "source", "lang", "text")
        .join(q, "doc_id")
        .join(rep, "doc_id")
        .join(flu, "doc_id")
        .join(nodecanon, F.col("doc_id") == F.col("nc_doc"), "left")
        .where(
            (F.col("lang") == "en")
            & (F.col("quality_score") >= 0.5)
            & (~F.col("is_repetitive"))
            & (F.col("mean_logprob") >= _V2_FLUENCY_MIN)
            & (F.col("nc_doc").isNull() | (F.col("canonical") == F.col("doc_id")))
        )
    )
    w = Window.partitionBy(D.exact_digest(F.col("text"))).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    q_units = F.floor(F.col("quality_score") * 10000.0 + F.lit(0.5)).cast("long")
    return (
        deduped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.floor(F.sum(q_units) / F.count(F.lit(1)) + F.lit(0.5)) / 10000.0
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


@register(
    "text_boilerplate_segments",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id,
             array_to_string(
               t[(i*{_BOILER_SEG_WORDS}+1):(i*{_BOILER_SEG_WORDS}+{_BOILER_SEG_WORDS})],
               ' ') AS seg
      FROM (SELECT doc_id, t,
                   unnest(generate_series(0, len(t)//{_BOILER_SEG_WORDS} - 1)) AS i
            FROM toks)
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= {_BOILER_SUPPORT}
    ),
    per_doc AS (
      SELECT s.doc_id, COUNT(*) AS n_boiler
      FROM segs s JOIN boiler b ON s.seg = b.seg
      GROUP BY s.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t)//{_BOILER_SEG_WORDS} AS BIGINT) AS n_segs,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST(CASE WHEN len(t.t)//{_BOILER_SEG_WORDS} = 0 THEN 0
                ELSE FLOOR(10000.0 * COALESCE(p.n_boiler, 0)
                           / (len(t.t)//{_BOILER_SEG_WORDS}) + 0.5)
                END AS BIGINT) AS boiler_bp
    FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    ORDER BY t.doc_id
    """,
    doc="C4-style boilerplate-line removal stats: the corpus is cut into "
    f"non-overlapping {_BOILER_SEG_WORDS}-word segments (the 'line' unit "
    "of a corpus with no newline structure), a segment is boilerplate "
    f"when it appears in >= {_BOILER_SUPPORT} distinct documents "
    "(C4 removes lines shared across documents; support is the knob), "
    "and each document reports its segment count, boilerplate-segment "
    "count, and boilerplate share in integer basis points (FLOOR(x+0.5) "
    "on a deterministic double — no ROUND-tie ambiguity cross-engine). "
    "Scale shape: tokens materialize once; segments ride as slim "
    "(seg, doc) rows into a two-phase distinct-count aggregate keyed on "
    "the segment; the boiler set joins back on the same key (AQE "
    "broadcasts it when small, shuffle-joins when boilerplate is "
    "corpus-sized); per-doc totals come from array arithmetic, not a "
    "second scan. The short-doc guard matters: Spark's sequence(0,-1) "
    "DESCENDS where DuckDB's generate_series is empty, so segs are "
    "gated on size >= the segment width.",
)
def text_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _BOILER_SEG_WORDS
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    seg_arr = F.expr(
        f"CASE WHEN size(t) >= {w} THEN "
        f"transform(sequence(0, size(t) div {w} - 1), "
        f"i -> concat_ws(' ', slice(t, i*{w}+1, {w}))) "
        "ELSE array() END"
    )
    segs = toks.select("doc_id", F.explode(seg_arr).alias("seg"))
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= _BOILER_SUPPORT)
        .select("seg")
    )
    per_doc = segs.join(boiler, "seg").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_boiler")
    )
    return (
        toks.select("doc_id", F.expr(f"size(t) div {w}").cast("long").alias("n_segs"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            F.when(F.col("n_segs") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    10000.0 * F.coalesce("n_boiler", F.lit(0)) / F.col("n_segs")
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("boiler_bp"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_dup_ngram_coverage",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS (SELECT doc_id, toks,
                   unnest(generate_series(1, GREATEST(len(toks)-{_DUP_NGRAM_K - 1}, 1))) AS i
            FROM tok),
    sh AS (SELECT DISTINCT doc_id,
                  concat_ws(' ', {", ".join(f"toks[i+{j}]" for j in range(5)).replace("toks[i+0]", "toks[i]")}) AS shingle
           FROM pos),
    g AS (SELECT doc_id, CAST((md5_number_upper(shingle) >> 8) AS BIGINT) AS g FROM sh),
    dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= {_DUP_NGRAM_MIN_DOCS}),
    per AS (SELECT doc_id, COUNT(*) AS n_dup FROM g JOIN dup USING (g) GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
           CAST(FLOOR(10000.0 * COALESCE(p.n_dup, 0) / t.n_grams + 0.5) AS BIGINT) AS dup_bp
    FROM tot t LEFT JOIN per p USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Per-document duplicated-n-gram coverage — the bounded aggregate "
    "form of substring-level dedup (Lee et al. 2022, 'Deduplicating "
    "Training Data Makes Language Models Better'): the share of each "
    f"document's distinct {_DUP_NGRAM_K}-word shingles that occur in >= "
    f"{_DUP_NGRAM_MIN_DOCS} documents corpus-wide, in integer basis "
    "points. Catches documents assembled from text duplicated elsewhere "
    "even when no single pair crosses a near-dup threshold. Scale shape: "
    "shingles hash to 56-bit longs map-side and every aggregate/join "
    "keys on that uniform hash — two slim long-keyed shuffles, no "
    "pairwise stage at any corpus size (cost O(total shingles), not "
    "O(docs^2)).",
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: the (doc, gram-hash) rows are checkpointed and re-read by
    # three downstream aggregates — a 1-partition checkpoint would pin
    # them all single-task (A/B 1.17s vs 1.81s median at sf0.1)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    return (
        D.duplicated_shingle_coverage(
            docs, "text", "doc_id", _DUP_NGRAM_K, _DUP_NGRAM_MIN_DOCS
        )
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "text_rank_correlation",
    r"""
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\w\s]')) AS n_tok
      FROM documents
    ),
    r AS (
      SELECT lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_tok, doc_id) AS rb
      FROM s
    ),
    g AS (
      SELECT lang, COUNT(*) AS n, SUM((ra - rb) * (ra - rb)) AS sum_d2
      FROM r GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(sum_d2 AS BIGINT) AS sum_d2,
           CAST((2 * 10000 * (n * (n * n - 1) - 6 * sum_d2)
                 + n * (n * n - 1) + 40000 * n * (n * n - 1))
                // (2 * n * (n * n - 1)) - 20000 AS BIGINT) AS spearman_bp
    FROM g WHERE n > 1 ORDER BY lang
    """,
    doc="Spearman rank correlation between two per-document quality "
    "signals (character length vs sub-word token count), per language — "
    "the signal-agreement audit run before trusting any single quality "
    "filter: rho near 1 means the signals rank the corpus identically, "
    "near 0 means one of them is noise. Ranks come from two window "
    "sorts with deterministic doc_id tie-breaks; rho = 1 - 6*sum(d^2) / "
    "(n(n^2-1)) lands in half-up integer basis points via a "
    "positivity-shifted integer division (a raw negative numerator "
    "would floor in DuckDB but truncate in Spark). Scale shape: ONE "
    "shuffle on lang serves both rank windows (same partitioning, two "
    "in-partition sorts) and the per-language aggregate co-locates on "
    "the same exchange; signal extraction is codegen'd regex on the "
    "scan, linear at 100 TB.",
)
def text_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "lang", "n_chars",
        T.bpe_ish_token_count(F.col("text")).alias("n_tok"),
    )
    ra = F.row_number().over(W.partitionBy("lang").orderBy("n_chars", "doc_id"))
    rb = F.row_number().over(W.partitionBy("lang").orderBy("n_tok", "doc_id"))
    r = s.select("lang", ra.alias("ra"), rb.alias("rb"))
    g = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb")))
        .alias("sum_d2"),
    )
    return (
        g.where(F.col("n") > 1)
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.col("sum_d2").cast("long").alias("sum_d2"),
            F.expr(
                "cast((2 * 10000 * (n * (n * n - 1) - 6 * sum_d2)"
                " + n * (n * n - 1) + 40000 * n * (n * n - 1))"
                " div (2 * n * (n * n - 1)) - 20000 as bigint)"
            ).alias("spearman_bp"),
        )
        .orderBy("lang")
    )


_WINNOW_K = 20  # char-gram length
_WINNOW_W = 4   # winnowing window (guarantee: one fingerprint per w grams)
_WINNOW_DF = 3  # drop fingerprints present in more docs (stop-fingerprints)
_WINNOW_MIN_SHARED = 5


@register(
    "text_winnowing_pairs",
    f"""
    WITH g AS (
      SELECT doc_id, LENGTH(text) - {_WINNOW_K - 1} AS ng,
             unnest(generate_series(1, CAST(LENGTH(text) - {_WINNOW_K - 1} AS INT))) AS p
      FROM documents WHERE LENGTH(text) >= {_WINNOW_K + 3}
    ),
    h AS (
      SELECT d.doc_id, g.ng, g.p,
             CAST((md5_number_upper(substring(d.text, CAST(g.p AS INT),
                                              {_WINNOW_K})) >> 24) AS BIGINT) AS hv
      FROM g JOIN documents d ON d.doc_id = g.doc_id
    ),
    sel AS (
      SELECT doc_id, ng, p,
             MIN(hv * 1048576 + (1048575 - p))
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN CURRENT ROW
                              AND {_WINNOW_W - 1} FOLLOWING) AS enc
      FROM h
    ),
    fp AS (SELECT DISTINCT doc_id, enc // 1048576 AS hv FROM sel
           WHERE p <= ng - {_WINNOW_W - 1}),
    df AS (SELECT hv, COUNT(*) AS n_docs FROM fp GROUP BY 1),
    kept AS (SELECT fp.* FROM fp JOIN df USING (hv)
             WHERE df.n_docs <= {_WINNOW_DF})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.hv = b.hv AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    doc="Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the "
    "MOSS algorithm): every window of "
    f"{_WINNOW_W} consecutive {_WINNOW_K}-char-gram hashes contributes "
    "its RIGHTMOST MINIMAL hash, guaranteeing any shared substring of "
    f"length >= {_WINNOW_K + _WINNOW_W - 1} yields a shared fingerprint "
    "— positional-robust exact-substring detection that shingle Jaccard "
    "and MinHash only approximate. The rightmost-min rule runs as ONE "
    "primitive long HashAggregate per window (hash*2^20 + (2^20-1-pos): "
    "min picks the smallest hash then the largest position — the 40-bit "
    "md5 slice exists precisely so the pack fits a long). "
    f"Fingerprints in > {_WINNOW_DF} docs drop as stop-fingerprints "
    "(boilerplate — MOSS does the same), bounding every posting list, "
    "and pairs sharing >= "
    f"{_WINNOW_MIN_SHARED} survive. Scale shape: selection is "
    "map-heavy (explode x w) into a (doc, window) hash aggregate; the "
    "pair stage is an inverted-index equi-join with an absolute "
    "df cap — never all-pairs. Doc length must stay under 2^20 chars "
    "for the pack (assert in operator).",
)
def text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: per-character md5 hashing is heavy CPU fused onto the
    # scan with no exchange before it (criterion 1)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    fp = T.winnowing_fingerprints(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W
    )
    dfreq = fp.groupBy("hv").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = fp.join(
        dfreq.where(F.col("n_docs") <= _WINNOW_DF).select("hv"), "hv"
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hv") == F.col("b.hv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= _WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "text_ngram_novelty",
    f"""
    WITH {_SHINGLE_ROWS},
    first_seen AS (SELECT shingle, MIN(doc_id) AS fs FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.fs = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((2 * 10000 * SUM(CASE WHEN f.fs = sh.doc_id THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS novelty_bp
    FROM sh JOIN first_seen f ON f.shingle = sh.shingle
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
    doc="N-gram novelty scoring: what fraction of each document's "
    "distinct word 3-shingles appears HERE FIRST (by ingestion order = "
    "doc_id) — the dataset-growth audit that tells marginal new content "
    "from recombinations of what the corpus already holds (a document "
    "full of previously-seen shingles adds little even when no single "
    "near-dup partner exists, which is exactly the case pairwise dedup "
    "misses). Novelty in half-up integer basis points. Scale shape: the "
    "first-seen table is one shingle-keyed hash aggregate (min combines "
    "map-side), the join back is on the same uniform shingle key, and "
    "the per-doc rollup co-locates on doc_id — all slim keyed rows, "
    "never text.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: shingle construction is the dominant map cost and the
    # rows feed two stages (first-seen agg + join back) — criterion 1
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    sh = D.shingle_rows(docs, "text", "doc_id", 3).localCheckpoint(eager=True)
    first_seen = sh.groupBy("shingle").agg(F.min("doc").alias("fs"))
    return (
        sh.join(first_seen, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("fs") == F.col("doc"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr(
                "cast((2 * 10000 * n_novel + n_shingles)"
                " div (2 * n_shingles) as bigint)"
            ).alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_collocations_lift",
    f"""
    WITH tk AS (SELECT {_TOKS} AS t FROM documents),
    pos AS (
      SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
      FROM tk WHERE len(t) >= 2
    ),
    bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM pos),
    cbi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= {_COLL_MIN_COUNT}
    ),
    uni AS (SELECT unnest(t) AS tok FROM tk),
    cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    sc AS (
      SELECT w1, w2, pair_count,
             u1.c AS left_count, u2.c AS right_count,
             (2*10000*pair_count*n.n + u1.c*u2.c)
               // (2*u1.c*u2.c) AS lift_bp
      FROM cbi
      JOIN cu u1 ON u1.tok = cbi.w1
      JOIN cu u2 ON u2.tok = cbi.w2
      CROSS JOIN n
    )
    SELECT w1 || ' ' || w2 AS bigram,
           pair_count, left_count, right_count,
           CAST(lift_bp AS BIGINT) AS lift_bp
    FROM sc
    ORDER BY lift_bp DESC, bigram
    LIMIT {_COLL_TOP}
    """,
    doc="Collocation extraction (Church & Hanks 1990, PMI family): "
    "adjacent-token bigrams ranked by association lift "
    "P(xy)/(P(x)P(y)) = c_xy*N/(c_x*c_y), in integer basis points with "
    f"a min-count floor of {_COLL_MIN_COUNT} — the corpus-analytics pass "
    "behind tokenizer-vocabulary and multi-word-expression design. "
    "Scale shape: the token array is materialized ONCE (checkpointed — "
    "it feeds both the bigram and unigram sides, and tokenization is "
    "the dominant map cost), bigram counts combine map-side before one "
    "slim (w1, w2, count) shuffle, the unigram join is UNHINTED so AQE "
    "broadcasts the vocabulary-bounded side locally and switches to "
    "shuffle join if the vocabulary outgrows the threshold (the "
    "stats-gated-broadcast rule — no forced hint on a data-scaled "
    "table), and top-k plans as TakeOrderedAndProject. N rides as a "
    "driver literal from one count over the checkpointed token frame "
    "(the sanctioned scalar-model pattern); lift stays in exact long "
    "arithmetic (2e4*c_xy*N ~ 7e17 at sf0.1, inside int64; production "
    "swaps to DECIMAL or log-space PMI beyond ~1e9-token corpora).",
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance=True: the checkpoint below freezes the scan's partition
    # layout for BOTH downstream explodes (the minhash_lsh lesson) — a
    # single-row-group file would otherwise pin tokenize+explode+count
    # to one task.
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    tk = (
        docs.select(T.tokens(F.col("text")).alias("t"))
        .localCheckpoint(eager=True)
    )
    n_tokens = tk.agg(F.sum(F.size("t"))).collect()[0][0]
    # int64 overflow guard (ADVICE r5): the lift numerator is
    # 2·10⁴·pair_count·n_tokens with pair_count ≤ n_tokens, so it stays
    # inside int64 iff 2·10⁴·n_tokens² < 2⁶³. Fail loudly past that —
    # the fix at larger corpora is the documented DECIMAL/log-space form,
    # not a silent wrap.
    assert n_tokens <= 21_000_000, (
        f"text_collocations_lift: {n_tokens} tokens would overflow the "
        "int64 basis-point lift — switch to DECIMAL or log-space PMI"
    )
    pairs = (
        tk.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    cbi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= _COLL_MIN_COUNT)
    )
    uni = (
        tk.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("left_count"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("right_count"))
    lift = F.expr(
        f"CAST((2*10000*pair_count*{n_tokens}"
        " + left_count*right_count)"
        " div (2*left_count*right_count) AS BIGINT)"
    )
    return (
        cbi.join(u1, "w1")
        .join(u2, "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "pair_count",
            "left_count",
            "right_count",
            lift.alias("lift_bp"),
        )
        .orderBy(F.col("lift_bp").desc(), "bigram")
        .limit(_COLL_TOP)
    )


@register(
    "text_bm25_topk",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(len(t)) AS BIGINT) AS a FROM tk),
    tf AS (
      SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM tk)
      WHERE tok IN ({_BM25_TERMS_SQL})
      GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    idf AS (
      SELECT tok,
             (2*10000*(2*s.n - 2*df + 1) + (2*df + 1)) // (2*(2*df + 1))
               AS idf_bp
      FROM dfq, stats s
    ),
    terms AS (
      SELECT tf.doc_id,
             (2*idf.idf_bp*44*tf.tf*s.a
                + (20*tf.tf*s.a + 6*s.a + 18*tf.dl*s.n))
               // (2*(20*tf.tf*s.a + 6*s.a + 18*tf.dl*s.n)) AS term_bp
      FROM tf JOIN idf USING (tok), stats s
    )
    SELECT doc_id, CAST(SUM(term_bp) AS BIGINT) AS bm25_bp,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM terms GROUP BY 1
    ORDER BY bm25_bp DESC, doc_id LIMIT {_BM25_TOP}
    """,
    doc="BM25 lexical retrieval top-k (Robertson-Sparck Jones; the classic "
    "RAG/recall-stage scorer), k1=1.2 b=0.75 folded into EXACT integer "
    "rationals: the tf saturation term becomes 44·tf·A / (20·tf·A + 6·A "
    "+ 18·dl·N) with A = corpus tokens and N = docs (multiply-through by "
    "20·A/N clears every fraction), and the idf uses the rational lift "
    "form (2N−2df+1)/(2df+1) in half-up basis points — the same "
    "monotone ordering as the classic log idf with no cross-engine "
    "transcendental drift. Scale shape: tokenize once (checkpointed), "
    "the tiny query-term filter prunes the posting explode BEFORE the tf "
    "aggregate, per-term idf broadcasts, per-doc sum combines map-side, "
    "TakeOrderedAndProject keeps the top-k. Corpus stats (N, A) are two "
    "driver scalars embedded as literals (the k-means-model pattern).",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("t")
    ).localCheckpoint(eager=True)
    n_docs, n_tok, max_dl = tk.agg(
        F.count(F.lit(1)), F.sum(F.size("t")), F.max(F.size("t"))
    ).collect()[0]
    # int64 envelope: the largest term numerator is 2·idf_max·44·dl·A with
    # idf_max at df=1 — fail loudly past it (DECIMAL/log-space form then)
    idf_max = (2 * 10000 * (2 * n_docs - 1) + 3) // 6 + 1
    assert 2 * idf_max * 44 * max_dl * n_tok < 2**63, (
        f"text_bm25_topk: N={n_docs}, A={n_tok} would overflow the int64 "
        "basis-point BM25 — switch to DECIMAL or log-space scoring"
    )
    tf = (
        tk.select(
            "doc_id", F.size("t").alias("dl"), F.explode("t").alias("tok")
        )
        .where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).select(
        "tok",
        F.expr(
            f"(2*10000*(2*{n_docs} - 2*df + 1) + (2*df + 1))"
            " div (2*(2*df + 1))"
        ).alias("idf_bp"),
    )
    term_bp = F.expr(
        f"(2*idf_bp*44*tf*{n_tok}"
        f" + (20*tf*{n_tok} + 6*{n_tok} + 18*dl*{n_docs}))"
        f" div (2*(20*tf*{n_tok} + 6*{n_tok} + 18*dl*{n_docs}))"
    )
    return (
        tf.join(F.broadcast(idf), "tok")
        .select("doc_id", term_bp.alias("term_bp"))
        .groupBy("doc_id")
        .agg(
            F.sum("term_bp").cast("long").alias("bm25_bp"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25_bp").desc(), "doc_id")
        .limit(_BM25_TOP)
    )


@register(
    "text_ttr_hapax",
    f"""
    WITH tc AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tc GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types, n_hapax,
           (2*10000*n_types + n_tokens) // (2*n_tokens)  AS ttr_bp,
           (2*10000*n_hapax + n_types) // (2*n_types)    AS hapax_bp
    FROM d ORDER BY doc_id
    """,
    doc="Lexical-diversity quality signals: per-document type-token ratio "
    "and hapax-legomena ratio in half-up integer basis points — the "
    "standard cheap detectors for template/boilerplate text (low TTR) "
    "and noisy OCR/gibberish (high hapax share), complementing the "
    "repetition and quality scores. One explode → (doc, token) count → "
    "per-doc aggregate; both groupBys combine map-side and the shuffle "
    "carries (doc, token, count) rows, never text.",
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    d = tc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("(2*10000*n_types + n_tokens) div (2*n_tokens)").alias("ttr_bp"),
        F.expr("(2*10000*n_hapax + n_types) div (2*n_types)").alias("hapax_bp"),
    ).orderBy("doc_id")


@register(
    "text_script_shares",
    """
    WITH c AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n,
             CAST(LENGTH(text)
                  - LENGTH(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS BIGINT) AS n_alpha,
             CAST(LENGTH(text)
                  - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digit,
             CAST(LENGTH(text)
                  - LENGTH(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))
                  AS BIGINT) AS n_space
      FROM documents
    )
    SELECT doc_id, n AS n_chars, n_alpha, n_digit, n_space,
           n - n_alpha - n_digit - n_space AS n_other,
           (2*10000*n_alpha + GREATEST(n,1)) // (2*GREATEST(n,1)) AS alpha_bp,
           (2*10000*n_digit + GREATEST(n,1)) // (2*GREATEST(n,1)) AS digit_bp,
           (2*10000*(n - n_alpha - n_digit - n_space) + GREATEST(n,1))
             // (2*GREATEST(n,1)) AS other_bp
    FROM c ORDER BY doc_id
    """,
    doc="Character-class histogram per document — the script-detection "
    "complement to the n-gram language id: shares of alphabetic, digit, "
    "whitespace, and other (symbol/punct) characters in half-up integer "
    "basis points. The classic cheap detectors for OCR noise, markup "
    "residue, and wrong-script text ride on these counts. Counting is "
    "LENGTH(text) − LENGTH(class stripped) so both engines count with "
    "their own regex engine yet agree exactly; the whole query is "
    "map-side (no shuffle but the final sort).",
)
def text_script_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    def stripped(pat: str):
        return (F.length("text") - F.length(F.regexp_replace("text", pat, ""))).cast("long")
    c = docs.select(
        "doc_id",
        n.alias("n"),
        stripped("[A-Za-z]").alias("n_alpha"),
        stripped("[0-9]").alias("n_digit"),
        stripped("[ \\t\\n\\r]").alias("n_space"),
    ).withColumn(
        "n_other",
        F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space"),
    )
    return c.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "n_alpha",
        "n_digit",
        "n_space",
        "n_other",
        F.expr(
            "(2*10000*n_alpha + GREATEST(n,1)) div (2*GREATEST(n,1))"
        ).alias("alpha_bp"),
        F.expr(
            "(2*10000*n_digit + GREATEST(n,1)) div (2*GREATEST(n,1))"
        ).alias("digit_bp"),
        F.expr(
            "(2*10000*n_other + GREATEST(n,1)) div (2*GREATEST(n,1))"
        ).alias("other_bp"),
    ).orderBy("doc_id")


@register(
    "text_source_lift_classifier",
    f"""
    WITH tk AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    sed AS (SELECT source, unnest(t) AS tok FROM tk WHERE doc_id % 2 = 0),
    cws AS (SELECT tok, source, CAST(COUNT(*) AS BIGINT) AS c_ws
            FROM sed GROUP BY 1, 2),
    cs  AS (SELECT source, CAST(SUM(c_ws) AS BIGINT) AS c_s
            FROM cws GROUP BY 1),
    cw  AS (SELECT tok, CAST(SUM(c_ws) AS BIGINT) AS c_w
            FROM cws GROUP BY 1),
    nn  AS (SELECT CAST(SUM(c_s) AS BIGINT) AS n FROM cs),
    lift AS (
      SELECT c.tok, c.source,
             CAST((2*10000*c.c_ws*nn.n + cs.c_s*cw.c_w)
                  // (2*cs.c_s*cw.c_w) AS BIGINT) AS lift_bp
      FROM cws c JOIN cs USING (source) JOIN cw USING (tok), nn
    ),
    ev AS (
      SELECT doc_id, source AS true_source, tok,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, source, unnest(t) AS tok FROM tk
            WHERE doc_id % 2 = 1)
      GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT e.doc_id, e.true_source, l.source,
             CAST(SUM(e.tf * l.lift_bp) AS BIGINT) AS score_bp
      FROM ev e JOIN lift l ON l.tok = e.tok
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, source AS pred_source, true_source, score_bp,
           CAST(CASE WHEN source = true_source THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_bp DESC, source) AS rnk
      FROM sc)
    WHERE rnk = 1
    ORDER BY doc_id
    """,
    doc="Lexical source classifier trained IN-SQL, no driver-side model: "
    "the even-doc_id half is the labeled seed set; each (token, source) "
    "gets a lift weight P(tok|source)/P(tok) in half-up integer basis "
    "points over the seed counts, and every odd-half document is scored "
    "per source as the tf-weighted sum of its tokens' lifts — "
    "Rocchio-style lexical voting, the cheap domain/quality classifier a "
    "curation pipeline runs before anything neural. Prediction is the "
    "argmax source (ties to the lexicographically first). Everything is "
    "keyed aggregates: one tokenize checkpoint feeds seed and eval "
    "sides, the lift table joins on token (vocabulary-scaled, left to "
    "AQE — never forced broadcast), the per-source totals ride a "
    "#sources-bounded local relation, and the per-doc argmax is a "
    "WindowGroupLimit over ≤ n_src rows per doc. Docs whose tokens all "
    "fall outside the seed vocabulary have no evidence and drop.",
)
def text_source_lift_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents", rebalance=True)
    tk = docs.select(
        "doc_id", "source", T.tokens(F.col("text")).alias("t")
    ).localCheckpoint(eager=True)
    sed = tk.where(F.col("doc_id") % 2 == 0).select(
        "source", F.explode("t").alias("tok")
    )
    cws = sed.groupBy("tok", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c_ws")
    )
    cs_rows = (
        cws.groupBy("source").agg(F.sum("c_ws").cast("long").alias("c_s"))
        .collect()
    )  # bounded by #sources (the curation-collect class)
    n_seed = sum(r.c_s for r in cs_rows)
    # int64 envelope for 2*10000*c_ws*N + c_s*c_w (c_ws <= c_s <= N):
    # fail loudly past it rather than silently wrapping at larger corpora
    assert 2 * 10000 * n_seed * n_seed < 2**63, (
        f"text_source_lift_classifier: N={n_seed} seed tokens would "
        "overflow the int64 basis-point lift — switch to DECIMAL/log-space"
    )
    stot = spark.createDataFrame(cs_rows, schema="source STRING, c_s BIGINT")
    cw = cws.groupBy("tok").agg(F.sum("c_ws").cast("long").alias("c_w"))
    lift = (
        cws.join(cw, "tok")
        .join(F.broadcast(stot), "source")
        .select(
            "tok",
            "source",
            F.expr(
                f"(2*10000*c_ws*{n_seed} + c_s*c_w) div (2*c_s*c_w)"
            ).cast("long").alias("lift_bp"),
        )
    )
    ev = (
        tk.where(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.col("source").alias("true_source"),
            F.explode("t").alias("tok"),
        )
        .groupBy("doc_id", "true_source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    sc = (
        ev.join(lift, "tok")
        .groupBy("doc_id", "true_source", "source")
        .agg(F.sum(F.col("tf") * F.col("lift_bp")).cast("long").alias("score_bp"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score_bp").desc(), "source")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "doc_id",
            F.col("source").alias("pred_source"),
            "true_source",
            "score_bp",
            (F.col("source") == F.col("true_source"))
            .cast("long")
            .alias("correct"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_tokenizer_fertility",
    f"""
    WITH c AS (
      SELECT lang,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(len({_TOKS}) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\w\\s]'))
                  AS BIGINT) AS n_bpe
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
           CAST((2*10000*SUM(n_bpe) + SUM(n_words)) // (2*SUM(n_words))
                AS BIGINT) AS fertility_bp,
           CAST((2*10000*SUM(n_chars) + SUM(n_bpe)) // (2*SUM(n_bpe))
                AS BIGINT) AS chars_per_token_bp
    FROM c GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility per language: sub-word tokens per whitespace "
    "word (fertility) and characters per sub-word token (compression), "
    "both in half-up basis points over corpus totals — THE metric that "
    "decides whether a tokenizer under-serves a language (high fertility "
    "= more tokens per word = more compute per content) and feeds "
    "mixture/budget decisions (pair with curation_token_budget_mix). "
    "Counting is regex-count map-side (no explode, no token rows "
    "materialize); one lang groupBy with map-side combine is the only "
    "shuffle.",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        T.token_count(F.col("text")).cast("long").alias("n_words"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_words",
            "n_bpe",
            F.expr(
                "(2*10000*n_bpe + n_words) div (2*n_words)"
            ).alias("fertility_bp"),
            F.expr(
                "(2*10000*n_chars + n_bpe) div (2*n_bpe)"
            ).alias("chars_per_token_bp"),
        )
        .orderBy("lang")
    )


@register(
    "text_source_lang_association",
    """
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_cell
      FROM documents GROUP BY 1, 2
    ),
    ms AS (SELECT source, CAST(SUM(n_cell) AS BIGINT) AS n_source
           FROM cells GROUP BY 1),
    ml AS (SELECT lang, CAST(SUM(n_cell) AS BIGINT) AS n_lang
           FROM cells GROUP BY 1),
    n AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n FROM cells)
    SELECT c.source, c.lang, c.n_cell, ms.n_source, ml.n_lang,
           CAST((2 * 10000 * c.n_cell * n.n + ms.n_source * ml.n_lang)
                  // (2 * ms.n_source * ml.n_lang) AS BIGINT) AS lift_bp,
           ROUND((CAST(c.n_cell AS DOUBLE)
                    - CAST(ms.n_source AS DOUBLE) * CAST(ml.n_lang AS DOUBLE)
                      / CAST(n.n AS DOUBLE))
                 * (CAST(c.n_cell AS DOUBLE)
                    - CAST(ms.n_source AS DOUBLE) * CAST(ml.n_lang AS DOUBLE)
                      / CAST(n.n AS DOUBLE))
                 / (CAST(ms.n_source AS DOUBLE) * CAST(ml.n_lang AS DOUBLE)
                    / CAST(n.n AS DOUBLE)), 4) AS chi2_term
    FROM cells c JOIN ms USING (source) JOIN ml USING (lang) CROSS JOIN n
    ORDER BY source, lang
    """,
    doc="Categorical-association profile of the corpus mixture (source × "
    "language contingency table): observed cell count, marginals, "
    "association lift P(s,l)/(P(s)P(l)) in exact integer basis points "
    "(half-up rational — no float in the ranking signal), and the "
    "per-cell chi-squared contribution (o−e)²/e computed from exact "
    "integer counts via multiply/divide only — IEEE-correctly-rounded ops "
    "that are bit-identical cross-engine, unlike log-based MI. The "
    "data-quality pass behind domain-mixture design: which (source, "
    "language) cells are over/under-represented vs independence. Scale "
    "shape: ONE (source, lang) hash aggregate over the corpus (map-side "
    "combine; shuffle bounded by #cells), marginals derived FROM the "
    "cell frame (never a second corpus scan), joins over "
    "#sources/#langs-bounded frames (AQE broadcasts). Int64 bound: "
    "2·10⁴·n_cell·N < 2⁶³ holds through ~10⁷ docs per cell at 10⁹ total "
    "(DECIMAL switch documented beyond).",
)
def text_source_lang_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cell"))
        .localCheckpoint(eager=True)
    )
    ms = cells.groupBy("source").agg(F.sum("n_cell").alias("n_source"))
    ml = cells.groupBy("lang").agg(F.sum("n_cell").alias("n_lang"))
    n = _table_row_count(sf_dir, "documents")
    e = (
        "CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)"
        f" / CAST({n} AS DOUBLE)"
    )
    return (
        cells.join(ms, "source")
        .join(ml, "lang")
        .select(
            "source",
            "lang",
            "n_cell",
            "n_source",
            "n_lang",
            F.expr(
                f"CAST((2 * 10000 * n_cell * {n} + n_source * n_lang)"
                " div (2 * n_source * n_lang) AS BIGINT)"
            ).alias("lift_bp"),
            F.expr(
                f"ROUND((CAST(n_cell AS DOUBLE) - {e})"
                f" * (CAST(n_cell AS DOUBLE) - {e}) / ({e}), 4)"
            ).alias("chi2_term"),
        )
        .orderBy("source", "lang")
    )


@register(
    "text_vocab_growth",
    f"""
    WITH toks AS (
      SELECT source, doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    per_doc AS (
      SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM toks GROUP BY 1, 2
    ),
    first_occ AS (
      SELECT source, term, MIN(doc_id) AS doc_id
      FROM toks GROUP BY 1, 2
    ),
    new_per_doc AS (
      SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM first_occ GROUP BY 1, 2
    )
    SELECT p.source AS source, p.doc_id AS doc_id,
           CAST(SUM(p.n_toks) OVER w AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER w AS BIGINT) AS cum_vocab
    FROM per_doc p
    LEFT JOIN new_per_doc n ON n.source = p.source AND n.doc_id = p.doc_id
    WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY p.source, p.doc_id
    """,
    doc="Heaps'-law vocabulary-growth curve per source: cumulative "
    "distinct-term count vs cumulative token count in document order — "
    "the corpus-analytics pass behind tokenizer-vocabulary sizing and "
    "diminishing-returns estimates for further crawling of a source. "
    "Spark-first shape: the naive form (count distinct terms over every "
    "growing prefix) is quadratic; instead each term contributes exactly "
    "once at its FIRST document (min(doc_id) per (source, term) — one "
    "hash aggregate, map-side combine), per-doc new-term counts reduce "
    "to one row per document, and the running sums are windows "
    "PARTITIONED BY source (parallel across sources, linear per "
    "partition). Shuffles carry term→first-doc and per-doc count rows "
    "only — never text.",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    per_doc = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    first_occ = toks.groupBy("source", "term").agg(
        F.min("doc_id").alias("doc_id")
    )
    new_per_doc = first_occ.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        per_doc.join(new_per_doc, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("n_toks").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
        .orderBy("source", "doc_id")
    )


_KMVO_K = 64


@register(
    "text_source_overlap_kmv",
    f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS tok FROM documents
    ),
    hs AS (
      SELECT DISTINCT source AS g,
             CAST((md5_number_upper(tok) >> 8) AS BIGINT) AS h
      FROM toks WHERE tok <> ''
    ),
    regs AS (
      SELECT * FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rank
        FROM hs)
      WHERE rank <= {_KMVO_K}
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    prl AS (
      SELECT a.source || '|' || b.source AS pair, a.source AS g,
             1 AS is_a, 0 AS is_b
      FROM srcs a JOIN srcs b ON a.source < b.source
      UNION ALL
      SELECT a.source || '|' || b.source, b.source, 0, 1
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    mem AS (
      SELECT l.pair, r.h, MAX(l.is_a) AS in_a, MAX(l.is_b) AS in_b
      FROM prl l JOIN regs r ON r.g = l.g
      GROUP BY 1, 2
    ),
    top AS (
      SELECT * FROM (
        SELECT pair, h, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY h) AS rank
        FROM mem)
      WHERE rank <= {_KMVO_K}
    ),
    est AS (
      SELECT pair,
             CAST(COUNT(*) AS BIGINT) AS n_union_seen,
             CAST(CASE WHEN COUNT(*) < {_KMVO_K} THEN COUNT(*)
                  ELSE ({_KMVO_K - 1} * CAST({SK.RSV_SCALE} AS BIGINT))
                       // GREATEST(MAX(CASE WHEN rank = {_KMVO_K} THEN h END), 1)
                  END AS BIGINT) AS union_estimate,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM top GROUP BY pair
    )
    SELECT pair, n_union_seen, union_estimate, n_both,
           CAST(CASE WHEN n_union_seen < {_KMVO_K} THEN n_both
                ELSE (n_both * union_estimate) // {_KMVO_K} END AS BIGINT)
             AS intersection_estimate,
           CAST((2 * 10000 * n_both + LEAST({_KMVO_K}, n_union_seen))
                // (2 * LEAST({_KMVO_K}, n_union_seen)) AS BIGINT)
             AS jaccard_bp
    FROM est ORDER BY pair
    """,
    doc="Pairwise source-vocabulary overlap via KMV registers — the "
    "set-algebra sketch applied the way a 100 TB curation pipeline uses "
    "it daily: every pair of sources scored for vocabulary Jaccard "
    "without ever joining token sets pairwise. ONE tokenize+distinct-hash "
    "pass builds a k=64 register per source; each register row then "
    "fans out to its pairs through a #pairs-bounded EQUI-join (the pair "
    "membership table builds from the driver-collected source list — the "
    "model-table pattern; an OR-join would plan as the banned "
    "BroadcastNestedLoopJoin), and all set arithmetic (union KMV, "
    "both-member share, half-up Jaccard bp) runs on pairs x 2k register "
    "rows. The corpus is read once; everything downstream is "
    "register-sized regardless of corpus or vocabulary size.",
)
def text_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("source").alias("g"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    regs = SK.kmv_registers(toks, "g", F.col("tok"), _KMVO_K)
    # pair membership table from the driver-collected source list
    # (#sources-bounded, the model-table pattern)
    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    rows = []
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            rows.append((f"{a}|{b}", a, 1, 0))
            rows.append((f"{a}|{b}", b, 0, 1))
    prl = spark.createDataFrame(
        rows, schema="pair string, g string, is_a int, is_b int"
    )
    mem = (
        regs.join(F.broadcast(prl), "g")
        .groupBy("pair", "h")
        .agg(F.max("is_a").alias("in_a"), F.max("is_b").alias("in_b"))
    )
    from pyspark.sql.window import Window

    top = mem.withColumn(
        "rank", F.row_number().over(Window.partitionBy("pair").orderBy("h"))
    ).where(F.col("rank") <= _KMVO_K)
    k = _KMVO_K
    est = top.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_seen"),
        F.expr(
            f"CASE WHEN count(1) < {k} THEN count(1) "
            f"ELSE ({k - 1} * CAST({SK.RSV_SCALE} AS BIGINT))"
            f" div GREATEST(MAX(CASE WHEN rank = {k} THEN h END), 1) END"
        ).cast("long").alias("union_estimate"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    return est.select(
        "pair",
        "n_union_seen",
        "union_estimate",
        "n_both",
        F.expr(
            f"CASE WHEN n_union_seen < {k} THEN n_both "
            f"ELSE (n_both * union_estimate) div {k} END"
        ).cast("long").alias("intersection_estimate"),
        F.expr(
            f"(2 * 10000 * n_both + LEAST({k}, n_union_seen))"
            f" div (2 * LEAST({k}, n_union_seen))"
        ).cast("long").alias("jaccard_bp"),
    ).orderBy("pair")


@register(
    "text_token_entropy",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 4) AS entropy_nats
    FROM tf GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document token (Shannon) entropy in nats via the counts "
    "identity H = ln n − Σ c·ln c / n — the lexical-diversity signal "
    "curation pipelines pair with TTR: near-zero entropy flags "
    "one-token-spam docs that a length filter misses. One tokenize pass, "
    "one (doc, term) counting shuffle with map-side combine, one per-doc "
    "aggregate; same LN + ROUND(·,4) cross-engine discipline as the "
    "unigram-LM score.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
                4,
            ).alias("entropy_nats"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_zipf_slope",
    f"""
    WITH tok AS (SELECT lang, {_TOKS} AS toks FROM documents),
    t AS (SELECT lang, unnest(toks) AS term FROM tok),
    freq AS (SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    rk AS (
      SELECT lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, term) AS rank
      FROM freq
    ),
    xy AS (SELECT lang, LN(rank) AS x, LN(cnt) AS y FROM rk),
    s AS (
      SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM xy GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS vocab_n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS zipf_slope
    FROM s ORDER BY lang
    """,
    doc="Zipf-law exponent per language: OLS slope of ln(frequency) on "
    "ln(rank) over the token frequency table (natural text ≈ −1; strong "
    "deviations flag boilerplate or synthetic corpora — a standard "
    "corpus-health audit). Ranks come from a per-language frequency "
    "window with deterministic ties (cnt DESC, term); the regression "
    "runs over vocabulary-sized frames only. Same LN + ROUND(·,4) "
    "discipline as the unigram-LM score; the rank window's input is the "
    "vocab table, never token occurrences.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "term")
    xy = freq.withColumn("rank", F.row_number().over(w)).select(
        "lang",
        F.log("rank").alias("x"),
        F.log("cnt").alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("vocab_n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    ).orderBy("lang")


@register(
    "text_instruction_heuristics",
    f"""
    WITH d AS (
      SELECT source,
             CASE WHEN POSITION('?' IN text) > 0 THEN 1 ELSE 0 END AS q,
             CASE WHEN lower(regexp_split_to_array(trim(text), '\\s+')[1])
                       IN ({_IMPERATIVES}) THEN 1 ELSE 0 END AS imper,
             CASE WHEN POSITION('- ' IN text) > 0
                    OR POSITION('1.' IN text) > 0 THEN 1 ELSE 0 END AS lst
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((20000 * SUM(q) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS question_bp,
           CAST((20000 * SUM(imper) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS imperative_bp,
           CAST((20000 * SUM(lst) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS list_bp
    FROM d GROUP BY source ORDER BY source
    """,
    doc="Instruction-likeness heuristics per source — the cheap triage an "
    "SFT-data miner runs before an LLM classifier: share of docs with a "
    "question mark, an imperative/interrogative first token, or a list "
    "marker, in basis points. Pure map-side boolean projections (literal "
    "POSITION probes and a first-token membership test — no regex "
    "dialect exposure) + one counting aggregate; at 100 TB the shuffle "
    "carries #sources rows.",
)
def text_instruction_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    first_tok = F.lower(
        F.element_at(F.split(F.trim(F.col("text")), r"\s+"), 1)
    )
    d = docs.select(
        "source",
        F.when(F.instr(F.col("text"), "?") > 0, 1).otherwise(0).alias("q"),
        F.when(
            first_tok.isin(*[t.strip("'") for t in _IMPERATIVES.split(",")]),
            1,
        )
        .otherwise(0)
        .alias("imper"),
        F.when(
            (F.instr(F.col("text"), "- ") > 0)
            | (F.instr(F.col("text"), "1.") > 0),
            1,
        )
        .otherwise(0)
        .alias("lst"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("imper").alias("si"),
        F.sum("lst").alias("sl"),
    )
    return g.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.expr("(20000 * sq + n) div (2 * n)").cast("long").alias("question_bp"),
        F.expr("(20000 * si + n) div (2 * n)").cast("long").alias("imperative_bp"),
        F.expr("(20000 * sl + n) div (2 * n)").cast("long").alias("list_bp"),
    ).orderBy("source")


@register(
    "text_readability",
    f"""
    WITH d AS (
      SELECT doc_id,
             len({_TOKS}) AS w,
             GREATEST(len(regexp_extract_all(text, '[.!?]')), 1) AS s,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syl
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_syllables,
           CAST(FLOOR(100.0 * (CAST({_FK_A!r} AS DOUBLE) * w / s
                               + CAST({_FK_B!r} AS DOUBLE) * syl / w
                               - CAST({_FK_C!r} AS DOUBLE)) + 0.5)
                AS BIGINT) AS fk_grade_centi
    FROM d ORDER BY doc_id
    """,
    doc="Flesch-Kincaid grade level per document (centigrade integer) "
    "from three deterministic counts — whitespace words, sentence "
    "terminators [.!?], and vowel-group syllable approximation — the "
    "readability gate curation pipelines use to bucket text by audience "
    "level. Counts are integers on both engines (character-class "
    "regexes only, no dialect exposure); the grade formula runs in "
    "IEEE doubles with python-repr'd CAST-AS-DOUBLE constants so "
    "DuckDB's decimal literal parsing can't diverge, FLOOR(·+0.5) "
    "half-up. Pure map-side projection + nothing: the only shuffle is "
    "the output sort.",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = F.size(T.tokens(F.col("text")))
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]"), 0)),
        F.lit(1),
    )
    syl = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ),
        F.lit(1),
    )
    d = docs.select(
        "doc_id", w.alias("w"), s.alias("s"), syl.alias("syl")
    )
    return d.select(
        "doc_id",
        F.col("w").cast("long").alias("n_words"),
        F.col("s").cast("long").alias("n_sentences"),
        F.col("syl").cast("long").alias("n_syllables"),
        F.floor(
            F.lit(100.0)
            * (
                F.lit(_FK_A) * F.col("w") / F.col("s")
                + F.lit(_FK_B) * F.col("syl") / F.col("w")
                - F.lit(_FK_C)
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fk_grade_centi"),
    ).orderBy("doc_id")


@register(
    "text_langid_confusion",
    f"""
    WITH pred AS ({{LANGID_BODY}})
    , cells AS (
      SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    lt AS (SELECT labeled_lang, SUM(n_docs) AS n_labeled FROM cells GROUP BY 1)
    SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
           CAST((20000 * c.n_docs + lt.n_labeled) // (2 * lt.n_labeled)
                AS BIGINT) AS row_share_bp
    FROM cells c JOIN lt USING (labeled_lang)
    ORDER BY labeled_lang, predicted_lang
    """.replace("{LANGID_BODY}", _langid_oracle().strip()),
    doc="Language-ID confusion matrix — the EVALUATION of the stopword-"
    "vote classifier against the labeled lang column: per (labeled, "
    "predicted) cell counts with row-normalized shares in basis points "
    "(the diagonal is per-language recall; off-diagonal cells say which "
    "languages the heuristic confuses — the calibration table a curation "
    "pipeline checks before trusting a language filter). Classifier "
    "logic is the registered text_langid operator verbatim (two-step "
    "materialized token projection — the inline form re-runs the regex "
    "split per language); one counting aggregate to #langs² cells, "
    "row totals reduce from the cells.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.tokens(F.lower(F.col("text"))).alias("_toks"),
    )
    pred = toked.select(
        "labeled_lang",
        T.lang_id_from_tokens(F.col("_toks")).alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    lgt = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("n_labeled")
    )
    return (
        cells.join(F.broadcast(lgt), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            F.expr("(20000 * n_docs + n_labeled) div (2 * n_labeled)")
            .cast("long")
            .alias("row_share_bp"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


@register(
    "llm_prep_pipeline",
    f"""
    WITH feats AS (
      SELECT doc_id, source, lang, text,
             len({_TOKS}) AS n_tokens,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             LENGTH(text) AS n_chars,
             len(list_filter({_TOKS.replace("text", "lower(text)")},
                             t -> t IN {_EN_STOP})) AS n_stop
      FROM documents
    ), scored AS (
      SELECT *,
             FLOOR((0.5 * LEAST(n_tokens / 20.0, 1.0)
                  + 0.5 * LEAST((FLOOR((n_stop / GREATEST(n_tokens, 1)) * 10000.0 + 0.5) / 10000.0) * 5.0, 1.0)
                  - 0.25 * LEAST((FLOOR((n_punct / GREATEST(n_chars, 1)) * 10000.0 + 0.5) / 10000.0) * 5.0, 1.0))
                  * 10000.0 + 0.5) / 10000.0 AS quality_score
      FROM feats
    ), kept AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM scored
        WHERE lang = 'en' AND quality_score >= 0.5
      ) WHERE rn = 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           -- sum exact integer quality units, divide once: immune to
           -- engine-specific double-summation order
           FLOOR(SUM(CAST(FLOOR(quality_score * 10000.0 + 0.5) AS BIGINT))
                 / COUNT(*) + 0.5) / 10000.0 AS avg_quality
    FROM kept
    GROUP BY source
    ORDER BY source
    """,
    doc="Composed training-data prep: quality-score filter → language "
    "filter → exact-dedup keep-first (row_number over content digest) → "
    "per-source token accounting. One declarative plan: Catalyst fuses the "
    "scoring projections into the scan, the dedup window shuffles on the "
    "digest (uniform), the final rollup combines map-side — the shape a "
    "100 TB corpus prep job actually runs.",
)
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        T.token_count(t).alias("n_tokens"),
        T.quality_score(t).alias("quality_score"),
    )
    filtered = scored.where((F.col("lang") == "en") & (F.col("quality_score") >= 0.5))
    w = Window.partitionBy(D.exact_digest(F.col("text"))).orderBy("doc_id")
    kept = filtered.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    q_units = F.floor(F.col("quality_score") * 10000.0 + F.lit(0.5)).cast("long")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.floor(F.sum(q_units) / F.count(F.lit(1)) + F.lit(0.5)) / 10000.0
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


@register(
    "text_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]')) AS c
      FROM documents
    ),
    cf AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_letters,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_letters,
           ROUND(LN(SUM(n)) - SUM(n * LN(n)) / SUM(n), 4) AS entropy_nats
    FROM cf GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document CHARACTER-level entropy over letter frequencies — "
    "the junk detector token entropy misses: base64 blobs, key-mash and "
    "ciphertext have near-uniform (maximal) letter entropy while natural "
    "language sits near its language's signature (~2.9 nats for "
    "English); repeated-character spam sits near zero. Alphabet is "
    "bounded (26), so the counting shuffle carries at most 26 rows per "
    "doc; same counts identity and LN + ROUND(·,4) discipline as the "
    "token/transition entropies.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]"), 0)
        ).alias("c"),
    )
    cf = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    return (
        cf.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_letters"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_letters"),
            F.round(
                F.log(F.sum("n"))
                - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
                4,
            ).alias("entropy_nats"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_jsd_source_divergence",
    """
    WITH t AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT source, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
    st AS (SELECT source, SUM(c) AS ns FROM tf GROUP BY source),
    ct AS (SELECT term, SUM(c) AS cc FROM tf GROUP BY term),
    tot AS (SELECT SUM(c) AS nt FROM tf),
    terms AS (
      SELECT tf.source,
             CAST(tf.c AS DOUBLE) / st.ns AS p,
             CAST(ct.cc AS DOUBLE) / tot.nt AS q
      FROM tf
      JOIN st USING (source)
      JOIN ct USING (term)
      CROSS JOIN tot
    ),
    s AS (
      SELECT source,
             SUM(p * LN(2.0 * p / (p + q))) AS kp,
             SUM(q * LN(2.0 * q / (p + q))) AS kq,
             SUM(q) AS qs
      FROM terms GROUP BY source
    )
    SELECT s.source,
           CAST(st.ns AS BIGINT) AS n_tokens,
           ROUND(0.5 * (kp + kq + (1.0 - qs) * LN(2.0)), 4) AS jsd_nats
    FROM s JOIN st USING (source)
    ORDER BY source
    """,
    doc="Jensen-Shannon divergence of each source's unigram distribution "
    "from the corpus distribution — the mixture-health audit a data-"
    "composition pipeline tracks (JSD is symmetric and bounded by ln 2, "
    "unlike KL): a source drifting toward ln 2 contributes vocabulary "
    "the rest of the corpus never uses. Closed form over the SOURCE'S "
    "OWN support only: terms the source lacks contribute exactly "
    "(1 − Σ_{t∈S} q_t)·ln 2 to the q-side sum, so the scored frame is "
    "per-source vocabularies, never vocab × sources. Corpus counts "
    "reduce from the same (source, term) frame (tokenize once); "
    "shuffles carry term counts, never text; same LN + ROUND(·,4) "
    "discipline as the entropy family.",
)
def text_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = t.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    tf = tf.localCheckpoint(eager=True)  # read 3x: st, ct, terms
    stot = tf.groupBy("source").agg(F.sum("c").alias("ns"))
    ct = tf.groupBy("term").agg(F.sum("c").alias("cc"))
    nt = int(stot.agg(F.sum("ns")).first()[0])
    terms = (
        tf.join(ct, "term")
        .join(F.broadcast(stot), "source")
        .select(
            "source",
            (F.col("c").cast("double") / F.col("ns")).alias("p"),
            (F.col("cc").cast("double") / F.lit(nt)).alias("q"),
        )
    )
    s = terms.groupBy("source").agg(
        F.sum(
            F.col("p") * F.log(F.lit(2.0) * F.col("p") / (F.col("p") + F.col("q")))
        ).alias("kp"),
        F.sum(
            F.col("q") * F.log(F.lit(2.0) * F.col("q") / (F.col("p") + F.col("q")))
        ).alias("kq"),
        F.sum("q").alias("qs"),
    )
    return (
        s.join(F.broadcast(stot), "source")
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tokens"),
            F.round(
                F.lit(0.5)
                * (
                    F.col("kp")
                    + F.col("kq")
                    + (F.lit(1.0) - F.col("qs")) * F.log(F.lit(2.0))
                ),
                4,
            ).alias("jsd_nats"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_entropy_rate",
    """
    WITH tok AS (
      SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    uni AS (
      SELECT lang, unnest(toks) AS g FROM tok
    ),
    big AS (
      SELECT lang, concat(toks[i], ' ', toks[i+1]) AS g
      FROM (SELECT lang, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok)
    ),
    uc AS (SELECT lang, g, COUNT(*) AS c FROM uni GROUP BY 1, 2),
    bc AS (SELECT lang, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
    h1 AS (
      SELECT lang, LN(SUM(c)) - SUM(c * LN(c)) / SUM(c) AS h,
             SUM(c) AS n FROM uc GROUP BY lang
    ),
    h2 AS (
      SELECT lang, LN(SUM(c)) - SUM(c * LN(c)) / SUM(c) AS h,
             SUM(c) AS n FROM bc GROUP BY lang
    )
    SELECT h1.lang,
           CAST(h2.n AS BIGINT) AS n_bigrams,
           ROUND(h1.h, 4) AS unigram_entropy_nats,
           ROUND(h2.h - h1.h, 4) AS entropy_rate_nats
    FROM h1 JOIN h2 USING (lang)
    ORDER BY lang
    """,
    doc="Bigram entropy rate per language: H(bigram) − H(unigram) ≈ the "
    "conditional entropy of the next token given the current one — the "
    "sequence-predictability signal that separates templated/boilerplate "
    "text (near zero: the next word is determined) from natural prose, "
    "invisible to any unigram measure; the information-theoretic "
    "companion to the bigram-LM fluency score. One tokenize pass feeds "
    "both gram frames (bigrams via an index transform over the token "
    "array, 1-based on both engines); counting aggregates with map-side "
    "combine; the counts identity + LN + ROUND(·,4) discipline of the "
    "entropy family. Shuffles carry gram counts, never text.",
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("lang", T.tokens(F.col("text")).alias("toks"))
    tok = tok.localCheckpoint(eager=False)  # both gram frames read it
    uni = tok.select("lang", F.explode("toks").alias("g"))
    big = tok.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i-1], ' ', toks[i]))"
            )
        ).alias("g"),
    )
    def _h(frame):
        cf = frame.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
        return cf.groupBy("lang").agg(
            (
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("c")) / F.sum("c")
            ).alias("h"),
            F.sum("c").alias("n"),
        )
    h1 = _h(uni)
    h2 = _h(big).select(
        "lang", F.col("h").alias("h2"), F.col("n").alias("n2")
    )
    return (
        h1.join(h2, "lang")
        .select(
            "lang",
            F.col("n2").cast("long").alias("n_bigrams"),
            F.round(F.col("h"), 4).alias("unigram_entropy_nats"),
            F.round(F.col("h2") - F.col("h"), 4).alias("entropy_rate_nats"),
        )
        .orderBy("lang")
    )


@register(
    "text_bigram_perplexity",
    """
    WITH tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    big AS (
      SELECT doc_id, source,
             toks[i] AS w1, toks[i + 1] AS w2
      FROM tok CROSS JOIN (SELECT unnest(generate_series(1, 4096)) AS i) g
      WHERE i < len(toks)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM big
           WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c) AS c FROM c2 GROUP BY 1),
    voc AS (
      SELECT COUNT(DISTINCT term) AS v FROM (
        SELECT unnest(toks) AS term FROM tok WHERE doc_id % 2 = 0
      )
    ),
    scored AS (
      SELECT b.source,
             LN((COALESCE(c2.c, 0) + 1.0)
                / (COALESCE(c1.c, 0) + (SELECT v FROM voc))) AS lp
      FROM big b
      LEFT JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
      LEFT JOIN c1 ON c1.w1 = b.w1
      WHERE b.doc_id % 2 = 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(lp) / COUNT(*), 4) AS ce_nats
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="Held-out bigram-LM cross-entropy per source — the real perplexity "
    "gate (text_unigram_logprob is the cheap tier): an add-one-smoothed "
    "bigram model trains on even doc_ids and scores the odd ones, so the "
    "score is honest generalization, not memorization. ln p(w2|w1) = "
    "ln((c(w1,w2)+1)/(c(w1·)+V)) with context counts REDUCED FROM the "
    "bigram frame (one tokenize pass per split; the materialized token "
    "array keeps element_at O(1) — the CLAUDE.md shingle discipline) and "
    "the vocabulary size crossing as a driver literal (k-means-model "
    "pattern). Unseen contexts coalesce to the uniform 1/V floor. "
    "Shuffles carry bigram/context counts keyed on token pairs, never "
    "document text; the model table is vocabulary-bounded at any corpus "
    "size. Docs are capped at 4097 tokens by the oracle's index grid "
    "(generous for the ~60-token corpus; a longer corpus raises the "
    "constant).",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    big = toked.where(F.size("toks") >= 2).select(
        "doc_id",
        "source",
        F.expr(
            "explode(transform(sequence(1, size(toks) - 1),"
            " i -> struct(element_at(toks, i) AS w1,"
            " element_at(toks, i + 1) AS w2)))"
        ).alias("bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")
    train = big.where(F.col("doc_id") % 2 == 0)
    c2 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2c"))
    c1 = c2.groupBy("w1").agg(F.sum("c2c").alias("c1c"))
    vocab = int(
        toked.where(F.col("doc_id") % 2 == 0)
        .select(F.explode("toks").alias("term"))
        .agg(F.countDistinct("term").alias("v"))
        .first()["v"]
    )
    test = big.where(F.col("doc_id") % 2 == 1)
    scored = (
        test.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .select(
            "source",
            F.log(
                (F.coalesce(F.col("c2c"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1c"), F.lit(0)) + F.lit(vocab))
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(-F.sum("lp") / F.count(F.lit(1)), 4).alias("ce_nats"),
        )
        .orderBy("source")
    )


# --- vocabulary coverage curve ----------------------------------------------


@register(
    "text_coverage_curve",
    """
    WITH t AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tc AS (SELECT term, COUNT(*) AS c FROM t GROUP BY 1),
    rk AS (
      SELECT term, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r,
             SUM(c) OVER () AS total,
             COUNT(*) OVER () AS vocab
      FROM tc
    ),
    ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(LEAST(ks.k, MAX(rk.vocab)) AS BIGINT) AS vocab_used,
           CAST((20000 * SUM(CASE WHEN rk.r <= ks.k THEN rk.c ELSE 0 END)
                 + MAX(rk.total)) // (2 * MAX(rk.total)) AS BIGINT)
             AS coverage_bp
    FROM rk CROSS JOIN ks
    GROUP BY ks.k ORDER BY k
    """,
    doc="Vocabulary coverage curve: what share of total token mass the "
    "top-k most frequent terms cover, at k = 1/5/10/20 — the "
    "tokenizer-budget question (how small can a vocab be before OOV "
    "mass explodes), the cumulative complement to text_zipf_slope's "
    "rank-frequency exponent. Term counts combine map-side to the "
    "vocabulary-bounded frame; the rank window is unpartitioned but "
    "runs over VOCAB rows (the curation-planning precedent — safe at "
    "any corpus size); the k fan-out is an EXPLODE of a 4-element "
    "literal array per vocab row, never a cross JOIN that would plan as "
    "BNLJ. Half-up bp over positive totals; ranking ties break "
    "(count desc, term asc) identically on both engines.",
)
def text_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.orderBy(F.col("c").desc(), "term")
    w_all = Window.partitionBy()
    rk = tc.select(
        "c",
        F.row_number().over(w_rank).alias("r"),
        F.sum("c").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("vocab"),
    )
    fan = rk.select(
        "c",
        "r",
        "total",
        "vocab",
        F.explode(F.array(*[F.lit(k) for k in (1, 5, 10, 20)])).alias("k"),
    )
    return (
        fan.groupBy("k")
        .agg(
            F.least(F.col("k"), F.max("vocab")).cast("long").alias("vocab_used"),
            F.expr(
                "(20000 * sum(CASE WHEN r <= k THEN c ELSE 0 END) + max(total))"
                " div (2 * max(total))"
            )
            .cast("long")
            .alias("coverage_bp"),
        )
        .select(F.col("k").cast("long").alias("k"), "vocab_used", "coverage_bp")
        .orderBy("k")
    )


# --- Simpson diversity of the token distribution per source -----------------


@register(
    "text_simpson_diversity",
    """
    WITH tok AS (
      SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    t AS (SELECT source, unnest(toks) AS term FROM tok),
    tf AS (SELECT source, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
    agg AS (
      SELECT source,
             COUNT(*) AS vocab,
             SUM(c) AS n_tokens,
             SUM(CAST(c AS HUGEINT) * (c - 1)) AS s2
      FROM tf GROUP BY 1
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST((2 * 1000000::HUGEINT * s2
                 + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                // (2 * CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
             AS BIGINT) AS simpson_micro,
           ROUND(CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS DOUBLE)
                 / CAST(s2 AS DOUBLE), 4) AS inv_simpson
    FROM agg WHERE n_tokens > 1 AND s2 > 0
    ORDER BY source
    """,
    doc="Simpson concentration (repeat probability) of each source's "
    "token distribution: λ = Σ nᵢ(nᵢ−1) / (N(N−1)) in half-up integer "
    "MICRO-units, plus the inverse-Simpson effective vocabulary (the "
    "Hill number ²D — 'this source behaves like K equally-common "
    "words'). The concentration dual of text_token_entropy's "
    "per-document Shannon diversity, at the source grain the curation "
    "mixers operate on: a boilerplate-heavy feed shows high λ / tiny "
    "effective vocabulary long before eyeballing. Per-term products "
    "nᵢ(nᵢ−1) and their sum run in wide integers on BOTH engines "
    "(DuckDB HUGEINT, Spark DECIMAL(38,0) — a single stopword at "
    "nᵢ~1e10 already breaks int64), int64 only at the output cast; "
    "inv_simpson derives from the same exact integers with one double "
    "division. One tokenize pass, one (source, term) combine, one "
    "source-bounded aggregate — shuffles carry counts, never text.",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).alias("s2"),
    )
    return (
        agg.where((F.col("n_tokens") > 1) & (F.col("s2") > 0))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.expr(
                "(2 * CAST(1000000 AS DECIMAL(38,0)) * s2"
                " + CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
                " div (2 * CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
            ).cast("long").alias("simpson_micro"),
            F.round(
                F.expr(
                    "CAST(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1) "
                    "AS DOUBLE)"
                )
                / F.col("s2").cast("double"),
                4,
            ).alias("inv_simpson"),
        )
        .orderBy("source")
    )


# --- per-term burstiness (Church-Gale) --------------------------------------


@register(
    "text_term_burstiness",
    """
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
    stats AS (
      SELECT term, SUM(c) AS cf, COUNT(*) AS df, MAX(c) AS max_in_doc
      FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term,
           CAST(cf AS BIGINT) AS cf,
           CAST(df AS BIGINT) AS df,
           CAST(max_in_doc AS BIGINT) AS max_in_doc,
           CAST((200 * cf + df) // (2 * df) AS BIGINT) AS burstiness_centi,
           CAST((20000 * df + n.n_docs) // (2 * n.n_docs) AS BIGINT)
             AS df_rate_bp
    FROM stats CROSS JOIN n
    WHERE df >= 5
    ORDER BY burstiness_centi DESC, cf DESC, term
    LIMIT 20
    """,
    doc="Church-Gale term burstiness: for each term with document "
    "frequency >= 5, the mean occurrences PER CONTAINING DOCUMENT "
    "(cf/df, half-up centi-units) next to its document-frequency rate — "
    "the classic observation that content words are bursty (high cf/df: "
    "absent from most docs, repeated where they appear) while function "
    "words spread evenly (cf/df ~ df_rate). The per-TERM dual of "
    "events_burstiness (per-user Fano) and text_token_entropy (per-doc "
    "diversity): this one ranks the vocabulary itself, the signal "
    "keyword extractors and stopword-list builders read. Top-20 by "
    "(burstiness, cf, term) — boilerplate-template terms surface "
    "instantly. One tokenize pass, one (doc, term) combine, one "
    "term-bounded aggregate; shuffles carry counts, never text.",
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import text as T
    from kinesis_stream_consumer_spark.plans.queries import _table_row_count

    docs = _t(spark, sf_dir, "documents")
    n_docs = _table_row_count(sf_dir, "documents")  # footer stats, no job
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = tf.groupBy("term").agg(
        F.sum("c").alias("cf"),
        F.count(F.lit(1)).alias("df"),
        F.max("c").alias("max_in_doc"),
    )
    return (
        stats.where(F.col("df") >= 5)
        .select(
            "term",
            F.col("cf").cast("long").alias("cf"),
            F.col("df").cast("long").alias("df"),
            F.col("max_in_doc").cast("long").alias("max_in_doc"),
            F.expr("(200 * cf + df) div (2 * df)")
            .cast("long")
            .alias("burstiness_centi"),
            F.expr(f"(20000 * df + {n_docs}) div (2 * {n_docs})")
            .cast("long")
            .alias("df_rate_bp"),
        )
        .orderBy(
            F.col("burstiness_centi").desc(), F.col("cf").desc(), "term"
        )
        .limit(20)
    )


# --- McNemar test -----------------------------------------------------------


@register(
    "text_langid_mcnemar",
    """
    WITH pred AS ({LANGID_BODY}),
    mb AS (
      SELECT labeled_lang AS m FROM pred
      GROUP BY 1 ORDER BY COUNT(*) DESC, labeled_lang LIMIT 1
    ),
    flags AS (
      SELECT CASE WHEN predicted_lang = labeled_lang THEN 1 ELSE 0 END AS h,
             CASE WHEN mb.m = labeled_lang THEN 1 ELSE 0 END AS base
      FROM pred CROSS JOIN mb
    ),
    t AS (
      SELECT COUNT(*) AS n,
             SUM(h) AS nh, SUM(base) AS nb,
             SUM(CASE WHEN h = 1 AND base = 0 THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN h = 0 AND base = 1 THEN 1 ELSE 0 END) AS c
      FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST((20000 * nh + n) // (2 * n) AS BIGINT) AS acc_heuristic_bp,
           CAST((20000 * nb + n) // (2 * n) AS BIGINT) AS acc_baseline_bp,
           CAST(b AS BIGINT) AS n_only_heuristic,
           CAST(c AS BIGINT) AS n_only_baseline,
           CAST((2 * 1000000::HUGEINT * (b - c) * (b - c) + (b + c))
                // (2 * CAST(b + c AS HUGEINT)) AS BIGINT) AS mcnemar_micro
    FROM t WHERE b + c > 0
    """.replace("{LANGID_BODY}", _langid_oracle().strip()),
    doc="McNemar's test of the stopword language-ID heuristic against the "
    "always-predict-the-majority-language baseline on the SAME documents: "
    "the paired-classifier eval that answers 'does the heuristic beat "
    "the trivial classifier beyond what marginal accuracy can show' — "
    "only the DISCORDANT pairs carry signal (b = docs only the heuristic "
    "gets right, c = docs only the baseline gets right; χ² = (b−c)²/"
    "(b+c), here in half-up MICRO-units, exact — (b−c)² is non-negative "
    "so no positivity shift, and the 1e6-scaled square runs in wide "
    "integers). Completes the classifier-eval trio on one surface: "
    "text_langid_confusion (where errors go), text_langid_kappa "
    "(chance-corrected agreement with truth), McNemar (paired "
    "superiority over a baseline). ONE tokenize pass (VERDICT r12 #2): "
    "per-document flags depend only on (labeled, predicted), so the "
    "majority label AND every McNemar count derive from the "
    "checkpointed labels²-bounded confusion cells — the kappa pattern; "
    "the corpus is scanned exactly once.",
)
def text_langid_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", T.tokens(F.lower(F.col("text"))).alias("ltoks")
    ).select(
        F.col("lang").alias("labeled_lang"),
        T.lang_id_from_tokens(F.col("ltoks")).alias("predicted_lang"),
    )
    # Both the majority label and the flag aggregates are functions of
    # (labeled_lang, predicted_lang): aggregate the corpus ONCE into the
    # labels²-bounded cells, checkpoint, and derive everything from it
    # (VERDICT r12 #2 — the previous shape re-tokenized the corpus for
    # the majority pull and again for the flags pass).
    cells = (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)  # labels²-bounded, read 2x
    )
    mrow = (
        cells.groupBy("labeled_lang")
        .agg(F.sum("o").alias("c"))
        .orderBy(F.col("c").desc(), "labeled_lang")
        .first()
    )
    majority = mrow["labeled_lang"] if mrow is not None else ""
    hit = F.col("predicted_lang") == F.col("labeled_lang")
    base = F.col("labeled_lang") == F.lit(majority)
    t = cells.agg(
        F.sum("o").alias("n"),
        F.coalesce(F.sum(F.when(hit, F.col("o"))), F.lit(0)).alias("nh"),
        F.coalesce(F.sum(F.when(base, F.col("o"))), F.lit(0)).alias("nb"),
        F.coalesce(
            F.sum(F.when(hit & ~base, F.col("o"))), F.lit(0)
        ).alias("b"),
        F.coalesce(
            F.sum(F.when(~hit & base, F.col("o"))), F.lit(0)
        ).alias("c"),
    )
    return (
        t.where(F.col("b") + F.col("c") > 0)
        .select(
            F.col("n").cast("long").alias("n_docs"),
            F.expr("(20000 * nh + n) div (2 * n)")
            .cast("long")
            .alias("acc_heuristic_bp"),
            F.expr("(20000 * nb + n) div (2 * n)")
            .cast("long")
            .alias("acc_baseline_bp"),
            F.col("b").cast("long").alias("n_only_heuristic"),
            F.col("c").cast("long").alias("n_only_baseline"),
            F.expr(
                "(2 * CAST(1000000 AS DECIMAL(38,0)) * (b - c) * (b - c)"
                " + (b + c)) div (2 * CAST(b + c AS DECIMAL(38,0)))"
            ).cast("long").alias("mcnemar_micro"),
        )
    )


# --- Cohen's kappa ----------------------------------------------------------


@register(
    "text_langid_kappa",
    """
    WITH pred AS ({LANGID_BODY}),
    cells AS (
      SELECT labeled_lang, predicted_lang, COUNT(*) AS o
      FROM pred GROUP BY 1, 2
    ),
    n AS (SELECT SUM(o) AS n FROM cells),
    diag AS (
      SELECT COALESCE(SUM(o), 0) AS d FROM cells
      WHERE labeled_lang = predicted_lang
    ),
    rows_ AS (SELECT labeled_lang AS l, SUM(o) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT predicted_lang AS l, SUM(o) AS c FROM cells GROUP BY 1),
    pe AS (
      SELECT COALESCE(SUM(CAST(rows_.r AS HUGEINT) * cols_.c), 0) AS rc
      FROM rows_ JOIN cols_ ON cols_.l = rows_.l
    )
    SELECT CAST(n.n AS BIGINT) AS n_docs,
           CAST(diag.d AS BIGINT) AS n_agree,
           CAST(pe.rc AS BIGINT) AS chance_weight,
           CAST((2 * 1000000::HUGEINT * (n.n * diag.d - pe.rc)
                 + (CAST(n.n AS HUGEINT) * n.n - pe.rc)
                 + 2 * (CAST(n.n AS HUGEINT) * n.n - pe.rc) * 2000000)
                // (2 * (CAST(n.n AS HUGEINT) * n.n - pe.rc)) - 2000000
             AS BIGINT) AS kappa_micro
    FROM n CROSS JOIN diag CROSS JOIN pe
    WHERE CAST(n.n AS HUGEINT) * n.n > pe.rc
    """.replace("{LANGID_BODY}", _langid_oracle().strip()),
    doc="Cohen's kappa of the stopword language-ID heuristic against the "
    "labeled lang column: chance-corrected agreement "
    "κ = (p_o − p_e)/(1 − p_e) = (N·diag − Σ r_l·c_l)/(N² − Σ r_l·c_l) "
    "in half-up MICRO-units — the one-number summary of "
    "text_langid_confusion's matrix (raw accuracy flatters a skewed "
    "label mix; kappa subtracts what marginal-matching guessing would "
    "score). κ is SIGNED (worse-than-chance is negative), so the "
    "division takes the standard positivity shift (shift 2e6 > |κ|max "
    "in micro-units) — the graph_modularity discipline — and runs in "
    "wide integers (DuckDB HUGEINT / Spark DECIMAL(38,0): 1e6·N² "
    "breaks int64 at ~3e6 docs), int64 only at the output cast. The "
    "shift regime (κ > −2) is ASSERTED: below it the two engines' "
    "floor-vs-truncate integer division diverges by one micro-unit. "
    "The Spark-side division is a pure literal expression, so ANSI "
    "constant folding would evaluate it BEFORE the false degenerate "
    "filter prunes the project — the denominator is max(den, 1) "
    "(ADVICE r13), value-identical whenever the row survives the "
    "filter. The prediction rides the SAME lang_id_from_tokens "
    "operator / oracle fragment as the certified langid rows (one "
    "materialized lowercase-token projection, per-language stopword "
    "hit counts); everything after it is a labels²-bounded cell "
    "aggregate.",
)
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    # tokens inline would re-split per language (CollapseProject trap) —
    # materialize the token array first
    pred = docs.select(
        "lang", T.tokens(F.lower(F.col("text"))).alias("ltoks")
    ).select(
        F.col("lang").alias("labeled_lang"),
        T.lang_id_from_tokens(F.col("ltoks")).alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    cells = cells.localCheckpoint(eager=True)  # labels²-bounded, read 4x
    n = cells.agg(F.sum("o")).first()[0] or 0
    diag = (
        cells.where(F.col("labeled_lang") == F.col("predicted_lang"))
        .agg(F.coalesce(F.sum("o"), F.lit(0)))
        .first()[0]
    )
    rows_ = cells.groupBy(F.col("labeled_lang").alias("l")).agg(
        F.sum("o").alias("r")
    )
    cols_ = cells.groupBy(F.col("predicted_lang").alias("l")).agg(
        F.sum("o").alias("c")
    )
    rc = (
        rows_.join(cols_, "l")
        .agg(
            F.coalesce(
                F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * c")), F.lit(0)
            )
        )
        .first()[0]
    )
    rc = int(rc)
    # assert the shifted numerator fits DECIMAL(38,0): worst case
    # 2e6*|N*d - rc| + den + 4e6*den <= (6e6 + 1) * N^2 — coefficient
    # derived from the actual terms (r12 review: 5e6 understated it,
    # the same defect class ADVICE r11 found in graph_modularity)
    assert 7_000_000 * n * n < 10**38, "kappa arithmetic needs wider type"
    # ADVICE r12: the 2e6 shift keeps the shifted numerator non-negative
    # only while kappa > -2 (shift > |kappa| in micro-units); below that,
    # DuckDB's floor (//) and Spark's DECIMAL `div` (truncate) differ by
    # 1 micro-unit and parity silently breaks. Assert the regime instead
    # of assuming it — a heuristic that scores kappa <= -2 is a data bug
    # worth stopping on, not rounding through.
    if n * n > rc:
        assert n * diag - rc > -2 * (n * n - rc), (
            "kappa <= -2: positivity shift too small for this regime"
        )
    # ADVICE r13: the division below is a fully-literal expression, so
    # ANSI constant folding can evaluate it even when the trailing
    # `.where` is false — divide by max(den, 1) so the degenerate
    # n² == rc corpus yields the empty frame the oracle's WHERE produces
    # instead of DIVIDE_BY_ZERO. Value-identical when den > 0.
    den = max(n * n - rc, 1)
    return spark.createDataFrame(
        [(int(n), int(diag), rc)], "n_docs long, n_agree long, cw long"
    ).select(
        F.col("n_docs"),
        F.col("n_agree"),
        F.col("cw").alias("chance_weight"),
        F.expr(
            f"CAST((2 * CAST(1000000 AS DECIMAL(38,0))"
            f" * (CAST({n} AS DECIMAL(38,0)) * {diag} - {rc})"
            f" + {den}"
            f" + 2 * CAST({den} AS DECIMAL(38,0)) * 2000000)"
            f" div (2 * CAST({den} AS DECIMAL(38,0)))"
            f" - 2000000 AS BIGINT)"
        ).alias("kappa_micro"),
    ).where(F.lit(n * n > rc))
