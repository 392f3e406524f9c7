"""Corpus-curation queries: deterministic splits, stratified sampling,
per-source quotas, context-window packing, contamination checks, PII
scrubbing (SURVEY §2.3 extensions over the documents table).

Every oracle replicates the Spark computation arithmetically — the same
md5-bucket assignment (DuckDB ``md5_number_upper`` ≡ dedup.md5_u64_le), the
same window frames, the same regexes — so the driver's value-hash compare
is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.operators import curation as C
from kinesis_stream_consumer_spark.operators import dedup as D
from kinesis_stream_consumer_spark.operators import similarity as S
from kinesis_stream_consumer_spark.operators import text as T
from kinesis_stream_consumer_spark.plans.llm_pipeline import (
    _CONTAM_EVAL_LT,
    _CONTAM_THRESHOLD,
    _DIM,
    _SEMANTIC_K,
    _SHINGLE_ROWS,
    _coarse_model,
    _kmeans_ctes,
    _minhash_lsh_oracle,
)
from kinesis_stream_consumer_spark.plans.queries import _bcast_if_small, _t, register

# DuckDB mirror of curation.hash_bucket (md5_number_upper ≡ md5_u64_le,
# proven by the minhash parity suite).
_HB = (
    "CAST(md5_number_upper(CAST({col} AS VARCHAR))::HUGEINT"
    f" % {C.HASH_BUCKETS} AS INT)"
)

_BPE_TOKS = r"len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\w\s]'))"


# --- Bloom-filter membership probe (the membership sketch) -----------------

_BLOOM_M = 1024  # bits
_BLOOM_K = 4     # salted hash functions


_PRUNE_TAUS_BP = (2000, 4000, 6000, 8000)


# --- Deterministic round-robin source interleave (curriculum ordering) ------

_ILV_TOP = 60


# --- Token-budget mixture apportionment (largest remainder) -----------------

_BUDGET_TOKENS = 50_000


# --- Quality-filter funnel audit ---------------------------------------------

_FUNNEL_MIN_CHARS = 100
_FUNNEL_MIN_WORDS = 20
_FUNNEL_MAX_AVG_WLEN = 5  # avg word length (chars) upper bound
_EN_STOP_SQL = (
    "('the','and','of','to','in','is','that','for','with','as')"
)


_CURRICULUM_PHASES = ((1, 0, 220), (2, 220, 380), (3, 380, 1 << 30))
_CUR_BPE = r"len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\w\s]'))"


@register(
    "curation_split",
    f"""
    WITH b AS (
      SELECT lang, n_chars, {_HB.format(col='doc_id')} AS hb FROM documents
    )
    SELECT CASE WHEN hb < 8000 THEN 'train'
                WHEN hb < 9000 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1, 2 ORDER BY split, lang
    """,
    doc="Deterministic hash-based train/val/test split (80/10/10): "
    "assignment is a pure function of doc_id — map-side only, no shuffle, "
    "reproducible, and stable under corpus growth (a doc never changes "
    "split when others are added). The query reports the per-(split, lang) "
    "census.",
)
def curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        C.train_val_test_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "curation_stratified_sample",
    f"""
    WITH hb AS (
      SELECT doc_id, lang, {_HB.format(col='doc_id')} AS _hb FROM documents
    ),
    t AS (
      SELECT lang, CAST(CEIL(COUNT(*) * 0.1) AS INT) AS target,
             LEAST({C.HASH_BUCKETS},
                   CAST(CEIL({C.HASH_BUCKETS} * (CAST({0.1 * 1.5!r} AS DOUBLE)
                          + CAST(32 AS DOUBLE) / COUNT(*))) AS INT)) AS thresh
      FROM documents GROUP BY lang
    ),
    r AS (
      SELECT doc_id, hb.lang, target,
             ROW_NUMBER() OVER (PARTITION BY hb.lang
                                ORDER BY _hb, doc_id) AS rnk
      FROM hb JOIN t ON t.lang = hb.lang
      WHERE _hb < thresh
    )
    SELECT doc_id, lang FROM r WHERE rnk <= target ORDER BY lang, doc_id
    """,
    doc="Proportional stratified sample (10% per language), two-phase for "
    "scale: a map-side hash-threshold prefilter (per-stratum threshold "
    "margin·fraction + slack/n — tiny strata keep everything, huge strata "
    "keep ~15%) discards most of the corpus before any shuffle, then an "
    "exact smallest-hash-first rank over the survivors hits ceil(0.1·n) "
    "per stratum. Stratum targets travel as a broadcast of (stratum, "
    "count) rows.",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        C.stratified_sample(docs, "lang", "doc_id", 0.1)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@register(
    "curation_source_quota",
    """
    WITH capped AS (
      SELECT source, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS shortest_kept
    FROM capped WHERE rnk <= 15
    GROUP BY source ORDER BY source
    """,
    doc="Per-source quota enforcement: keep at most 15 docs per source "
    "(longest-first, doc_id tiebreak) so no domain dominates the corpus. "
    "One shuffle on the source key — high-cardinality at real scale "
    "(domains), so the window parallelizes.",
)
def curation_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    capped = C.cap_per_group(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id")], 15
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").alias("shortest_kept"),
        )
        .orderBy("source")
    )


@register(
    "curation_pack_windows",
    f"""
    WITH toks AS (
      SELECT source, doc_id, {_BPE_TOKS} AS n_tok FROM documents
    ),
    packed AS (
      SELECT source, n_tok,
             CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 256) AS INT) AS bin_id
      FROM toks
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY source, bin_id ORDER BY source, bin_id
    """,
    doc="Context-window packing: documents chunk sequentially per source "
    "into 256-token bins (bin = the window the doc's cumulative start "
    "offset falls in, BPE-ish token counts). Sequential chunking is the "
    "deterministic, order-stable, one-running-sum-per-group form — linear "
    "at any scale, unlike first-fit repacking.",
)
def curation_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        T.bpe_ish_token_count(F.col("text")).alias("n_tok"),
    )
    packed = C.pack_context_windows(docs, "source", "doc_id", "n_tok", 256)
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "bin_id")
    )


_P_EMAIL = C.PII_PATTERNS["email"]
_P_PHONE = C.PII_PATTERNS["phone"]
_P_SSN = C.PII_PATTERNS["ssn"]


@register(
    "curation_pii_scrub",
    f"""
    WITH injected AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 415-555-'
                  || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' ssn 123-45-6789' AS itext
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(itext, '{_P_EMAIL}')) AS n_emails,
           len(regexp_extract_all(itext, '{_P_PHONE}')) AS n_phones,
           len(regexp_extract_all(itext, '{_P_SSN}')) AS n_ssns,
           md5(regexp_replace(regexp_replace(regexp_replace(itext,
                 '{_P_EMAIL}', '<EMAIL>', 'g'),
                 '{_P_SSN}', '<SSN>', 'g'),
                 '{_P_PHONE}', '<PHONE>', 'g')) AS scrub_md5
    FROM injected ORDER BY doc_id
    """,
    doc="PII scrubbing: match-count + redaction of email/phone/SSN patterns "
    "(engine-portable regexes — identical under Java regex and RE2). The "
    "documents corpus is synthetic word-salad with no real PII, so each "
    "row gets deterministic PII injected first (same expression on both "
    "engines) and the md5 of the scrubbed text proves byte-identical "
    "redaction. Pure regexp columns — codegen'd, linear at 100 TB.",
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    cnt = C.pii_counts(injected)
    return docs.select(
        "doc_id",
        cnt["email"].alias("n_emails"),
        cnt["phone"].alias("n_phones"),
        cnt["ssn"].alias("n_ssns"),
        F.md5(C.scrub_pii(injected).cast("binary")).alias("scrub_md5"),
    ).orderBy("doc_id")


@register(
    "curation_length_filter",
    f"""
    WITH s AS (
      SELECT doc_id, lang, {_BPE_TOKS} AS n_tok FROM documents
    ),
    r AS (
      SELECT lang, n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_tok, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM s
    ),
    kept AS (SELECT * FROM r WHERE 20 * rnk > n AND 20 * rnk <= 19 * n)
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST((2 * 10000 * COUNT(*) + MAX(n)) // (2 * MAX(n))
                AS BIGINT) AS kept_bp,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok_kept,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok_kept
    FROM kept GROUP BY lang ORDER BY lang
    """,
    doc="Adaptive per-language length filtering — the standard curation "
    "gate that drops each language's shortest and longest 5% of "
    "documents by token count, with thresholds DERIVED from that "
    "language's own distribution rather than one global cutoff (a "
    "fixed cutoff tuned on English over-prunes languages with different "
    "tokenization density). The percentile band is EXACT rank "
    "arithmetic (keep iff 20*rank > n and 20*rank <= 19*n, ties broken "
    "by doc_id) — no approx-percentile sketch whose error bounds differ "
    "cross-engine. Reports the kept fraction (half-up bp) and the "
    "induced per-language token bounds. Scale shape: ONE shuffle on "
    "lang serves the rank window, the partition count and the rollup; "
    "token counting is codegen'd regex on the scan.",
)
def curation_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "lang", T.bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    r = s.select(
        "lang",
        "n_tok",
        F.row_number()
        .over(W.partitionBy("lang").orderBy("n_tok", "doc_id"))
        .alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    kept = r.where(
        (20 * F.col("rnk") > F.col("n")) & (20 * F.col("rnk") <= 19 * F.col("n"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.expr(
                "cast((2 * 10000 * count(*) + max(n)) div (2 * max(n)) as bigint)"
            ).alias("kept_bp"),
            F.min("n_tok").cast("long").alias("min_tok_kept"),
            F.max("n_tok").cast("long").alias("max_tok_kept"),
        )
        .orderBy("lang")
    )


@register(
    "curation_interleave",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ),
    s AS (
      SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT)
               AS src_idx,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_src
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT CAST((r.rn - 1) * s.n_src + s.src_idx AS BIGINT) AS pos,
           r.doc_id, r.source
    FROM r JOIN s USING (source)
    ORDER BY pos LIMIT {_ILV_TOP}
    """,
    doc="Deterministic round-robin interleave across sources — the "
    "curriculum/mixing order a training pipeline feeds shards in (one "
    "doc from every source, then the next from every source, ...). "
    "Within-source order is a seeded md5 shuffle; the GLOBAL position is "
    "computed ARITHMETICALLY as (rn-1)·n_sources + src_idx instead of a "
    "global row_number — per-source windows shuffle on source only, the "
    "source index rides a tiny broadcast dim, and no single-partition "
    "global sort ever exists (the scale trap of naive interleaves). "
    "n_sources is a driver scalar bounded by #sources.",
)
def curation_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    srcs = sorted(
        row["source"] for row in docs.select("source").distinct().collect()
    )
    n_src = len(srcs)
    sidx = spark.createDataFrame(
        [(s, i + 1) for i, s in enumerate(srcs)], "source STRING, src_idx LONG"
    )
    return (
        r.join(F.broadcast(sidx), "source")
        .select(
            ((F.col("rn") - 1) * n_src + F.col("src_idx"))
            .cast("long")
            .alias("pos"),
            "doc_id",
            "source",
        )
        .orderBy("pos")
        .limit(_ILV_TOP)
    )


@register(
    "curation_filter_funnel",
    f"""
    WITH f AS (
      SELECT LENGTH(text) AS nc,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nw,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             t -> t IN {_EN_STOP_SQL})) AS ns
      FROM documents
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN nc >= {_FUNNEL_MIN_CHARS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS p1,
             CAST(SUM(CASE WHEN nc >= {_FUNNEL_MIN_CHARS}
                            AND nw >= {_FUNNEL_MIN_WORDS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS p2,
             CAST(SUM(CASE WHEN nc >= {_FUNNEL_MIN_CHARS}
                            AND nw >= {_FUNNEL_MIN_WORDS}
                            AND ns >= 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS p3,
             CAST(SUM(CASE WHEN nc >= {_FUNNEL_MIN_CHARS}
                            AND nw >= {_FUNNEL_MIN_WORDS}
                            AND ns >= 1
                            AND (nc - nw + 1) <= {_FUNNEL_MAX_AVG_WLEN} * nw
                           THEN 1 ELSE 0 END) AS BIGINT) AS p4
      FROM f
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'min_chars' AS filter, n0 AS n_in, p1 AS n_pass,
             n0 - p1 AS n_drop,
             (2*10000*p1 + n0) // (2*n0) AS cum_share_bp FROM g
      UNION ALL
      SELECT 2, 'min_words', p1, p2, p1 - p2,
             (2*10000*p2 + n0) // (2*n0) FROM g
      UNION ALL
      SELECT 3, 'has_stopword', p2, p3, p2 - p3,
             (2*10000*p3 + n0) // (2*n0) FROM g
      UNION ALL
      SELECT 4, 'avg_word_len', p3, p4, p3 - p4,
             (2*10000*p4 + n0) // (2*n0) FROM g
    ) ORDER BY stage
    """,
    doc="Quality-filter funnel audit: the cumulative pass/drop count "
    "through the standard cheap text filters (length >= "
    f"{_FUNNEL_MIN_CHARS} chars, >= {_FUNNEL_MIN_WORDS} words, >= 1 "
    "English stopword, avg word length <= "
    f"{_FUNNEL_MAX_AVG_WLEN} chars) — the first table anyone asks for "
    "when tuning a cleaning pipeline: WHERE does the corpus go, and is "
    "one filter doing all the work. Each stage reports docs in, docs "
    "passing, docs dropped HERE, and the cumulative survivor share of "
    "the whole corpus in half-up basis points. All flags compute "
    "map-side (cross-multiplied integer thresholds, no float ratios); "
    "the whole funnel is ONE aggregate row unpivoted to four — a single "
    "reduce regardless of corpus size.",
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    f = docs.select(
        F.length("text").alias("nc"),
        T.token_count(F.col("text")).alias("nw"),
        T.stopword_hits(F.col("text"), "en").alias("ns"),
    )
    c1 = F.col("nc") >= _FUNNEL_MIN_CHARS
    c2 = c1 & (F.col("nw") >= _FUNNEL_MIN_WORDS)
    c3 = c2 & (F.col("ns") >= 1)
    c4 = c3 & (
        (F.col("nc") - F.col("nw") + 1) <= _FUNNEL_MAX_AVG_WLEN * F.col("nw")
    )
    g = f.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(c1.cast("int")).cast("long").alias("p1"),
        F.sum(c2.cast("int")).cast("long").alias("p2"),
        F.sum(c3.cast("int")).cast("long").alias("p3"),
        F.sum(c4.cast("int")).cast("long").alias("p4"),
    )
    return g.select(
        F.expr(
            "stack(4,"
            " 1, 'min_chars',    n0, p1, n0 - p1, (2*10000*p1 + n0) div (2*n0),"
            " 2, 'min_words',    p1, p2, p1 - p2, (2*10000*p2 + n0) div (2*n0),"
            " 3, 'has_stopword', p2, p3, p2 - p3, (2*10000*p3 + n0) div (2*n0),"
            " 4, 'avg_word_len', p3, p4, p3 - p4, (2*10000*p4 + n0) div (2*n0))"
            " AS (stage, filter, n_in, n_pass, n_drop, cum_share_bp)"
        )
    ).orderBy("stage")


@register(
    "curation_bloom_novelty",
    f"""
    WITH dg AS (SELECT doc_id, md5(text) AS dg FROM documents),
    ref AS (SELECT doc_id, dg FROM dg WHERE doc_id % 2 = 0),
    cand AS (SELECT doc_id, dg FROM dg WHERE doc_id % 2 = 1),
    js AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j),
    bits AS (
      SELECT DISTINCT
             CAST((md5_number_upper(CAST(j AS VARCHAR) || '|' || dg) >> 8)
                  % {_BLOOM_M} AS BIGINT) AS pos
      FROM ref CROSS JOIN js
    ),
    probe AS (
      SELECT c.doc_id, c.dg,
             CAST((md5_number_upper(CAST(j AS VARCHAR) || '|' || c.dg) >> 8)
                  % {_BLOOM_M} AS BIGINT) AS pos
      FROM cand c CROSS JOIN js
    ),
    hits AS (
      SELECT doc_id, dg, COUNT(b.pos) AS n_set
      FROM probe p LEFT JOIN bits b USING (pos)
      GROUP BY 1, 2
    ),
    rd AS (SELECT DISTINCT dg FROM ref)
    SELECT h.doc_id,
           (h.n_set = {_BLOOM_K}) AS bloom_hit,
           (rd.dg IS NOT NULL) AS exact_dup
    FROM hits h LEFT JOIN rd ON rd.dg = h.dg
    ORDER BY h.doc_id
    """,
    doc="Bloom-filter novelty probe (Bloom 1970) — the MEMBERSHIP sketch "
    "closing the sketch family (CMS frequency / HLL cardinality / "
    "histogram distribution / Bloom membership): a reference half of the "
    f"corpus sets {_BLOOM_K} md5-salted bits in an {_BLOOM_M}-bit filter; "
    "every candidate doc reports whether ALL its probe bits are set "
    "(bloom_hit) next to ground truth (exact_dup), so false positives — "
    "the sketch's one error mode; false negatives are impossible — are "
    "visible row by row (37 FPs at sf0.01's 62% fill). The incremental-"
    "corpus use: yesterday's filter is m BITS regardless of corpus size, "
    "and novelty-checking today's batch is a map-side hash + one join "
    "against the ≤m-row bit table — where the exact check (the baseline "
    "alongside) shuffles every reference digest. Filter size is fixed "
    "small ON PURPOSE so the FP mode actually fires and gets checked "
    "(the CMS width-32 precedent); production sizes m ≈ 10·n_ref bits "
    "from table stats and nothing structural changes. All equi-joins on "
    "uniform md5 positions/digests; bit construction combines map-side "
    "(partial distinct), so the shuffle is bounded by m, not n_ref.",
)
def curation_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    dg = docs.select("doc_id", D.exact_digest(F.col("text")).alias("dg"))
    ref = dg.where(F.col("doc_id") % 2 == 0)
    cand = dg.where(F.col("doc_id") % 2 == 1)
    js = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    pos = (
        D.md5_u56_le(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("dg")))
        % _BLOOM_M
    ).alias("pos")
    bits = (
        ref.select(F.explode(js).alias("j"), "dg").select(pos).distinct()
    )
    probe = cand.select("doc_id", "dg", F.explode(js).alias("j")).select(
        "doc_id", "dg", pos
    )
    hits = (
        probe.join(bits.withColumnRenamed("pos", "bpos"),
                   F.col("pos") == F.col("bpos"), "left")
        .groupBy("doc_id", "dg")
        .agg(F.count("bpos").alias("n_set"))
    )
    # exact-baseline join is UNHINTED: the reference digest set is
    # row-scaled (corpus/2), so AQE picks broadcast locally and falls
    # back to shuffle join at scale (the stats-gated-broadcast rule)
    rd = ref.select("dg").distinct().withColumnRenamed("dg", "rdg")
    return (
        hits.join(rd, F.col("dg") == F.col("rdg"), "left")
        .select(
            "doc_id",
            (F.col("n_set") == _BLOOM_K).alias("bloom_hit"),
            F.col("rdg").isNotNull().alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


@register(
    "curation_token_budget_mix",
    f"""
    WITH avail AS (
      SELECT source,
             CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 5
                  AS BIGINT) AS w,
             CAST(SUM({_BPE_TOKS}) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY 1
    ),
    sh AS (
      SELECT *, CAST(SUM(w) OVER () AS BIGINT) AS w_tot FROM avail
    ),
    fl AS (
      SELECT *,
             CAST(({_BUDGET_TOKENS}*w) // w_tot AS BIGINT) AS floor_alloc,
             CAST(({_BUDGET_TOKENS}*w) % w_tot AS BIGINT) AS rem
      FROM sh
    ),
    rk AS (
      SELECT *,
             CAST({_BUDGET_TOKENS} - SUM(floor_alloc) OVER () AS BIGINT)
               AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rrank
      FROM fl
    )
    SELECT source, w, avail_tokens,
           CAST(floor_alloc + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens,
           CAST(LEAST(floor_alloc
                        + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END,
                      avail_tokens) AS BIGINT) AS capped_tokens,
           CAST(GREATEST(floor_alloc
                           + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
                           - avail_tokens, 0) AS BIGINT) AS shortfall_tokens
    FROM rk ORDER BY source
    """,
    doc="Token-budget apportionment across sources by largest-remainder "
    "(Hamilton) method — the planning query behind 'fill a 50k-token "
    "training budget at these mixture weights': integer weights derived "
    "from the source id, exact floor quotas, and the leftover "
    "B − Σfloor distributed to the largest remainders (ties to source "
    "name), so allocations sum EXACTLY to the budget with no float "
    "drift — then capped at per-source availability with the shortfall "
    "made visible (feed it to mixture_sample's strict mode). Per-doc "
    "token counts are the BPE-ish regex count computed map-side (no "
    "explode); everything after the one source groupBy runs on a "
    "#sources-bounded frame, where the unpartitioned windows are safe "
    "at any corpus size.",
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    avail = (
        docs.select(
            "source",
            F.size(
                F.expr(r"regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\w\\s]', 0)")
            ).cast("long").alias("toks"),
        )
        .groupBy("source")
        .agg(F.sum("toks").cast("long").alias("avail_tokens"))
        .withColumn(
            "w",
            (1 + F.regexp_extract("source", "[0-9]+", 0).cast("long") % 5)
            .cast("long"),
        )
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    fl = (
        avail.withColumn("w_tot", F.sum("w").over(wall).cast("long"))
        .withColumn(
            "floor_alloc",
            F.expr(f"({_BUDGET_TOKENS}*w) div w_tot"),
        )
        .withColumn("rem", F.expr(f"({_BUDGET_TOKENS}*w) % w_tot"))
    )
    rk = fl.withColumn(
        "leftover",
        (F.lit(_BUDGET_TOKENS) - F.sum("floor_alloc").over(wall)).cast("long"),
    ).withColumn(
        "rrank",
        F.row_number().over(W.orderBy(F.col("rem").desc(), "source")),
    )
    bonus = F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
    return rk.select(
        "source",
        "w",
        "avail_tokens",
        (F.col("floor_alloc") + bonus).cast("long").alias("alloc_tokens"),
        F.least(
            (F.col("floor_alloc") + bonus).cast("long"), F.col("avail_tokens")
        ).alias("capped_tokens"),
        F.greatest(
            (F.col("floor_alloc") + bonus - F.col("avail_tokens")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("shortfall_tokens"),
    ).orderBy("source")


@register(
    "curation_temperature_mixture",
    """
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w,
                   CAST(SUM(n_docs) AS BIGINT) AS total_n FROM w)
    SELECT w.source AS source, w.n_docs, w.weight,
           CAST((2 * 10000 * w.n_docs + tot.total_n)
                  // (2 * tot.total_n) AS BIGINT) AS natural_bp,
           CAST((2 * 10000 * w.weight + tot.total_w)
                  // (2 * tot.total_w) AS BIGINT) AS temp_bp
    FROM w CROSS JOIN tot
    ORDER BY w.source
    """,
    doc="Temperature-scaled source-mixture weights (T5/PaLM-style α = 0.5 "
    "upsampling): target share ∝ n_source^0.5, flattening the natural "
    "distribution so head sources stop drowning the tail. Exactness "
    "trick: n^0.5 is taken as FLOOR(SQRT(n)) — IEEE sqrt is correctly "
    "rounded, so the integer floor is bit-identical cross-engine, and "
    "every share is then an exact half-up integer basis point (no float "
    "accumulation; contrast log-space temperatures which drift). Output "
    "pairs the natural share with the temperature share per source — the "
    "curation table a mixture sampler consumes. Scale shape: ONE corpus "
    "aggregate (map-side combine) to #sources rows; the total rides as a "
    "second #sources-bounded aggregate joined back (AQE broadcasts).",
)
def curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = counts.withColumn(
        "weight",
        F.expr("CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"),
    ).localCheckpoint(eager=True)
    total_w, total_n = w.agg(F.sum("weight"), F.sum("n_docs")).collect()[0]
    return w.select(
        "source",
        "n_docs",
        "weight",
        F.expr(
            f"CAST((2 * 10000 * n_docs + {total_n})"
            f" div (2 * {total_n}) AS BIGINT)"
        ).alias("natural_bp"),
        F.expr(
            f"CAST((2 * 10000 * weight + {total_w})"
            f" div (2 * {total_w}) AS BIGINT)"
        ).alias("temp_bp"),
    ).orderBy("source")


@register(
    "curation_epoch_shuffle",
    r"""
    WITH h AS (
      SELECT epoch, doc_id,
             CAST(md5_number_upper(epoch || '#' || CAST(doc_id AS VARCHAR))
                  >> 8 AS BIGINT) AS hv
      FROM documents, (VALUES ('0'), ('1')) ep(epoch)
    )
    SELECT CAST(epoch AS VARCHAR) AS epoch,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                                   ORDER BY hv % 256, hv, doc_id)
                AS BIGINT) AS position,
           doc_id
    FROM h ORDER BY epoch, position
    """,
    doc="Deterministic per-epoch training-order shuffle: every epoch "
    "reorders the corpus by md5(epoch # doc_id) — reproducible across "
    "reruns and engines (no RNG state), different every epoch, the way "
    "large training jobs actually randomize shard order. The Spark plan "
    "is the TERASORT rank pattern, not a global window: rows hash into "
    "256 buckets (the low bits of the same hash, so bucket order + "
    "in-bucket hash order IS the global order), ranks are computed by a "
    "window PARTITIONED BY (epoch, bucket) — parallel — and each "
    "bucket's global offset comes from a #buckets-bounded running sum "
    "joined back (AQE broadcasts). No single-partition sort anywhere; "
    "the oracle's flat ROW_NUMBER proves the distributed rank equals "
    "the global one.",
)
def curation_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W
    from kinesis_stream_consumer_spark.operators.dedup import md5_u56_le

    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        F.explode(F.array(F.lit("0"), F.lit("1"))).alias("epoch"), "doc_id"
    ).select(
        "epoch",
        "doc_id",
        md5_u56_le(
            F.concat_ws("#", "epoch", F.col("doc_id").cast("string"))
        ).alias("hv"),
    )
    h = h.withColumn("bucket", F.col("hv") % 256)
    w_local = W.partitionBy("epoch", "bucket").orderBy("hv", "doc_id")
    local = h.withColumn("lrank", F.row_number().over(w_local))
    sizes = h.groupBy("epoch", "bucket").agg(
        F.count(F.lit(1)).alias("bn")
    )
    w_off = (
        W.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "epoch",
        "bucket",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("off"),
    )
    return (
        local.join(offsets, ["epoch", "bucket"])
        .select(
            "epoch",
            (F.col("off") + F.col("lrank")).cast("long").alias("position"),
            "doc_id",
        )
        .orderBy("epoch", "position")
    )


@register(
    "curation_shard_manifest",
    r"""
    WITH d AS (
      SELECT CAST(md5_number_upper(CAST(doc_id AS VARCHAR)) >> 8 AS BIGINT)
               % 64 AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_toks
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
    SELECT shard, n_docs, n_tokens,
           CAST((2 * 10000 * 64 * n_tokens + tot.t) // (2 * tot.t)
                AS BIGINT) AS load_bp
    FROM per CROSS JOIN tot
    ORDER BY shard
    """,
    doc="Export-shard manifest: the corpus hashed into 64 output shards "
    "(md5 of the id — deterministic, engine-portable) with per-shard doc "
    "and token totals and the load factor in basis points (10000 = "
    "perfectly balanced; the table a writer uses to size output files "
    "and a reader to plan parallelism). ONE corpus aggregate with "
    "map-side combine — the shuffle carries 64 summary rows; the grand "
    "total rides a #shards-bounded second aggregate joined back. At "
    "100 TB this is the manifest the llm-prep writer emits next to its "
    "shards; hash sharding keeps any doc's placement recomputable "
    "without the manifest.",
)
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.dedup import md5_u56_le

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (md5_u56_le(F.col("doc_id").cast("string")) % 64).alias("shard"),
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    per = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    total = per.agg(F.sum("n_tokens")).collect()[0][0]
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr(
            f"CAST((2 * 10000 * 64 * n_tokens + {total})"
            f" div (2 * {total}) AS BIGINT)"
        ).alias("load_bp"),
    ).orderBy("shard")


@register(
    "curation_quality_prune_sweep",
    f"""
    WITH feats AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               t -> t IN ('the','and','of','to','in','is','that','for',
                          'with','as'))) AS n_stop
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             FLOOR((0.5 * LEAST(n_tokens / 20.0, 1.0)
                  + 0.5 * LEAST(FLOOR((n_stop / GREATEST(n_tokens, 1))
                                      * 10000.0 + 0.5) / 10000.0 * 5.0, 1.0)
                  - 0.25 * LEAST(FLOOR((n_punct / GREATEST(n_chars, 1))
                                       * 10000.0 + 0.5) / 10000.0 * 5.0,
                                 1.0)) * 10000.0 + 0.5) / 10000.0 AS q
      FROM feats
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS td,
                   CAST(SUM(n_tokens) AS BIGINT) AS tt FROM scored),
    sweep AS (
      SELECT tau_bp,
             CAST(COUNT(*) FILTER
                  (WHERE q >= CAST(tau_bp AS DOUBLE) / 10000.0)
                  AS BIGINT) AS n_docs_kept,
             CAST(COALESCE(SUM(n_tokens) FILTER
                  (WHERE q >= CAST(tau_bp AS DOUBLE) / 10000.0), 0)
                  AS BIGINT) AS n_tokens_kept
      FROM scored, (SELECT unnest({list(_PRUNE_TAUS_BP)}) AS tau_bp)
      GROUP BY 1
    )
    SELECT CAST(tau_bp AS BIGINT) AS tau_bp, n_docs_kept, n_tokens_kept,
           CAST((2 * 10000 * n_docs_kept + tot.td) // (2 * tot.td)
                AS BIGINT) AS doc_share_bp,
           CAST((2 * 10000 * n_tokens_kept + tot.tt) // (2 * tot.tt)
                AS BIGINT) AS token_share_bp
    FROM sweep CROSS JOIN tot ORDER BY tau_bp
    """,
    doc="Quality-threshold operating curve — the tuning sweep a curation "
    "pipeline runs before fixing its prune level (the analogue of the "
    "IVF nprobe sweep for the cleaning stage): docs and tokens retained "
    f"at quality ≥ τ for τ ∈ {_PRUNE_TAUS_BP} bp, from ONE scoring pass "
    "(the corpus is scored once, checkpointed, and the 4-way sweep is a "
    "literal-array explode over the slim (doc, tokens, score) frame — "
    "never four scans). Thresholds compare as CAST(bp AS DOUBLE)/1e4 on "
    "both engines (the documented decimal-vs-double literal trap); "
    "shares are exact half-up basis points against driver-scalar "
    "totals.",
)
def curation_quality_prune_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        T.quality_score(F.col("text")).alias("q"),
    ).localCheckpoint(eager=True)
    td, tt = scored.agg(
        F.count(F.lit(1)), F.sum("n_tokens")
    ).collect()[0]
    sweep = (
        scored.select(
            "n_tokens",
            "q",
            F.explode(
                F.array(*[F.lit(t) for t in _PRUNE_TAUS_BP])
            ).alias("tau_bp"),
        )
        .groupBy("tau_bp")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN q >= CAST(tau_bp AS DOUBLE) / 10000.0"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_docs_kept"),
            F.sum(
                F.expr(
                    "CASE WHEN q >= CAST(tau_bp AS DOUBLE) / 10000.0"
                    " THEN n_tokens ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_tokens_kept"),
        )
    )
    return sweep.select(
        F.col("tau_bp").cast("long").alias("tau_bp"),
        "n_docs_kept",
        "n_tokens_kept",
        F.expr(
            f"CAST((2 * 10000 * n_docs_kept + {td}) div (2 * {td})"
            " AS BIGINT)"
        ).alias("doc_share_bp"),
        F.expr(
            f"CAST((2 * 10000 * n_tokens_kept + {tt}) div (2 * {tt})"
            " AS BIGINT)"
        ).alias("token_share_bp"),
    ).orderBy("tau_bp")


@register(
    "curation_curriculum_schedule",
    f"""
    WITH d AS (
      SELECT source, {_CUR_BPE} AS n_tok,
             CASE {' '.join(f"WHEN n_chars >= {lo} AND n_chars < {hi} THEN {p}" for p, lo, hi in _CURRICULUM_PHASES)}
             END AS phase
      FROM documents
    ),
    g AS (
      SELECT phase, source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
      FROM d GROUP BY 1, 2
    ),
    pt AS (SELECT phase, SUM(n_tokens) AS phase_tokens FROM g GROUP BY 1)
    SELECT g.phase, g.source,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.n_tokens AS BIGINT) AS n_tokens,
           CAST((20000 * g.n_tokens + pt.phase_tokens)
                // (2 * pt.phase_tokens) AS BIGINT) AS phase_share_bp
    FROM g JOIN pt USING (phase)
    ORDER BY phase, source
    """,
    doc="Length-curriculum training schedule: documents are binned into "
    "three phases by length (short-first warmup -> mid -> long-context "
    "polish, the standard sequence-length curriculum) and each phase "
    "reports its per-source token mass and mixture share in basis "
    "points — the manifest a trainer's data loader consumes per phase. "
    "Pure map-side phase/token projection, one (phase, source) counting "
    "aggregate, and a #phases-bounded rollup joined back — shuffles "
    "carry counts only, #sources x #phases rows. Complements "
    "curation_temperature_mixture (which reweights one phase) and "
    "curation_epoch_shuffle (which orders within one).",
)
def curation_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    expr = "CASE " + " ".join(
        f"WHEN n_chars >= {lo} AND n_chars < {hi} THEN {p}"
        for p, lo, hi in _CURRICULUM_PHASES
    ) + " END"
    d = docs.select(
        "source",
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_tok"),
        F.expr(expr).alias("phase"),
    )
    g = d.groupBy("phase", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    pht = g.groupBy("phase").agg(F.sum("n_tokens").alias("phase_tokens"))
    return (
        g.join(F.broadcast(pht), "phase")
        .select(
            "phase",
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "(20000 * n_tokens + phase_tokens) div (2 * phase_tokens)"
            )
            .cast("long")
            .alias("phase_share_bp"),
        )
        .orderBy("phase", "source")
    )


@register(
    "curation_contamination",
    f"""
    WITH {_SHINGLE_ROWS},
    hb AS (
      SELECT doc_id, {_HB.format(col='doc_id')} AS _hb FROM documents
    ),
    rows0 AS (
      SELECT sh.doc_id, shingle, _hb FROM sh JOIN hb USING (doc_id)
    ),
    informative AS (
      SELECT shingle FROM rows0 GROUP BY shingle HAVING COUNT(*) <= 100
    ),
    rows1 AS (
      SELECT rows0.doc_id, rows0.shingle, rows0._hb
      FROM rows0 JOIN informative USING (shingle)
    ),
    eval_sh AS (
      SELECT DISTINCT shingle FROM rows1 WHERE _hb < 500
    ),
    hits AS (
      SELECT DISTINCT doc_id, rows1.shingle
      FROM rows1 JOIN eval_sh USING (shingle)
      WHERE _hb >= 500
    )
    SELECT doc_id, COUNT(*) AS n_shared_shingles
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Train/eval contamination check: train docs sharing any informative "
    "3-shingle with the (deterministic 5%) eval slice. Shingles with "
    "document frequency > 100 are dropped first — boilerplate is "
    "uninformative AND the skew killer for the shingle equi-join; the "
    "match is then an equi-join on a bounded-fanout key. The standard "
    "pre-training hygiene pass at 100 TB.",
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: shingle materialization dominates and fuses onto the scan
    # stage (measured +19% without it at sf0.1/local[32]).
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    return (
        C.ngram_contamination(docs, "text", "doc_id", 500, 3, 100)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


_MIX_WEIGHTS = {"src0": 4, "src1": 2}  # every other source: weight 1


@register(
    "curation_mixture_sample",
    f"""
    WITH hb AS (
      SELECT doc_id, source, {_HB.format(col='doc_id')} AS _hb FROM documents
    ),
    counts AS (
      SELECT source, COUNT(*) AS n,
             CASE WHEN source = 'src0' THEN 4
                  WHEN source = 'src1' THEN 2
                  ELSE 1 END AS w
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n) AS n_total, SUM(w) AS sumw FROM counts),
    tgt AS (
      SELECT source, n,
             LEAST(n, CAST(FLOOR(w / sumw * (n_total // 5) + 0.5) AS INT))
               AS target
      FROM counts CROSS JOIN tot
    ),
    th AS (
      SELECT source, target,
             LEAST({C.HASH_BUCKETS},
                   CAST(CEIL({C.HASH_BUCKETS} * (CAST(1.5 AS DOUBLE) * target / n
                          + CAST(32 AS DOUBLE) / n)) AS INT)) AS thresh
      FROM tgt
    ),
    r AS (
      SELECT hb.doc_id, hb.source, th.target,
             ROW_NUMBER() OVER (PARTITION BY hb.source
                                ORDER BY _hb, hb.doc_id) AS rnk
      FROM hb JOIN th USING (source)
      WHERE _hb < th.thresh
    )
    SELECT doc_id, source FROM r WHERE rnk <= target
    ORDER BY source, doc_id
    """,
    doc="Domain-mixture sampling: 20%-of-corpus sample whose composition "
    "follows integer mixture weights (src0 4×, src1 2×, rest 1×), each "
    "source capped at its own size — the 'upsample wiki, downsample crawl' "
    "pretraining-mix primitive. Deterministic smallest-hash-first "
    "selection; targets are a model-sized (source, target, thresh) table "
    "computed from a count-only aggregate and broadcast back; the "
    "stratified two-phase prefilter keeps the rank window off the full "
    "corpus. Integer weights make the normalizer exact cross-engine.",
)
def curation_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        C.mixture_sample(docs, "source", "doc_id", _MIX_WEIGHTS)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@register(
    "curation_contamination_embedding",
    f"""
    WITH {_kmeans_ctes(k=_SEMANTIC_K)},
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id
    ),
    hb AS (
      SELECT vec_id,
             CAST(md5_number_upper(CAST(vec_id AS VARCHAR))::HUGEINT
                  % 10000 AS INT) AS _hb
      FROM embeddings
    ),
    ev AS (
      SELECT f.vid, f.cell FROM fa f
      JOIN hb ON hb.vec_id = f.vid WHERE hb._hb < {_CONTAM_EVAL_LT}
    ),
    tr AS (
      SELECT f.vid, f.cell FROM fa f
      JOIN hb ON hb.vec_id = f.vid WHERE hb._hb >= {_CONTAM_EVAL_LT}
    ),
    pairs AS (
      SELECT e.vid AS evid, t.vid AS tvid
      FROM ev e JOIN tr t ON t.cell = e.cell
    ),
    dots AS (
      SELECT p.evid, p.tvid,
             SUM(CAST(ea.embedding[d.i] AS DOUBLE)
                 * CAST(eb.embedding[d.i] AS DOUBLE)) AS dp
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.evid
      JOIN embeddings eb ON eb.vec_id = p.tvid
      CROSS JOIN dims d
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT evid, ROUND(dp / (na.nrm * nb.nrm), 4) AS cs
      FROM dots
      JOIN norms na ON na.vec_id = evid
      JOIN norms nb ON nb.vec_id = tvid
    ),
    agg AS (
      SELECT evid, CAST(COUNT(*) AS BIGINT) AS n_cand, MAX(cs) AS max_cos
      FROM sims GROUP BY evid
    )
    SELECT e.vid AS vec_id, e.cell AS cell_id,
           COALESCE(a.n_cand, 0) AS n_cand,
           COALESCE(a.max_cos, CAST(-1.0 AS DOUBLE)) AS max_cos,
           CAST(CASE WHEN a.max_cos >= CAST({_CONTAM_THRESHOLD!r} AS DOUBLE)
                     THEN 1 ELSE 0 END AS BIGINT) AS contaminated
    FROM ev e LEFT JOIN agg a ON a.evid = e.vid
    ORDER BY vec_id
    """,
    doc="Embedding-space train/eval contamination check (VERDICT r7 #6) — "
    "the semantic twin of the n-gram curation_contamination: the "
    "deterministic 5% md5-bucket eval slice is scored against the train "
    "corpus by EXACT cosine restricted to trained-coarse-cell mates "
    "(the k=32 SemDeDup cells, model shared with dedup_semantic), "
    "reporting per-eval-vector the candidate count, nearest-train "
    "cosine, and a contamination flag at τ=0.35. The decontamination "
    "pass real LLM pipelines run next to the n-gram one: paraphrased or "
    "re-embedded leakage has no shared shingles but lands in the same "
    "semantic cell. Candidates are bounded by the cell structure — k "
    "grows with the corpus, never all-pairs — and the eval side takes a "
    "stats-gated broadcast hint (eval benchmarks are small next to a "
    "100 TB train corpus), so the train corpus never re-shuffles.",
)
def curation_contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    fit, _ = _coarse_model(spark, sf_dir, k=_SEMANTIC_K)
    return S.embedding_contamination(
        emb,
        fit,
        eval_bucket_lt=_CONTAM_EVAL_LT,
        threshold=_CONTAM_THRESHOLD,
        bcast_eval=lambda df: _bcast_if_small(df, sf_dir, "embeddings"),
    ).orderBy("vec_id")


@register(
    "curation_source_dup_rate",
    """
    WITH h AS (SELECT doc_id, source, md5(text) AS th FROM documents),
    hc AS (SELECT th, COUNT(*) AS n FROM h GROUP BY th)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hc.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST((20000 * SUM(CASE WHEN hc.n > 1 THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS dup_bp
    FROM h JOIN hc USING (th)
    GROUP BY source ORDER BY source
    """,
    doc="Per-source exact-duplicate rate: share of a source's documents "
    "whose md5(text) occurs more than once ANYWHERE in the corpus, in "
    "basis points — the triage table that tells you WHICH feed to "
    "deduplicate (or drop) before paying for near-dup passes; a mirror "
    "feed shows up as dup_bp ≈ 10000 here long before MinHash runs. One "
    "hash projection (map-side), one hash-keyed counting aggregate, one "
    "count-carrying join back — shuffles carry 32-byte hashes and "
    "counts, never text; integer-exact half-up shares.",
)
def curation_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.md5(F.col("text")).alias("th"))
    hc = h.groupBy("th").agg(F.count(F.lit(1)).alias("n"))
    j = h.join(hc, "th").select(
        "source", F.when(F.col("n") > 1, 1).otherwise(0).alias("dup")
    )
    g = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("dup").alias("sd")
    )
    return g.select(
        "source",
        F.col("nd").cast("long").alias("n_docs"),
        F.col("sd").cast("long").alias("n_dup_docs"),
        F.expr("(20000 * sd + nd) div (2 * nd)").cast("long").alias("dup_bp"),
    ).orderBy("source")


# --- dedup survivorship attribution -----------------------------------------


@register(
    "curation_survivorship",
    """
    WITH h AS (SELECT doc_id, source, md5(text) AS th FROM documents),
    canon AS (SELECT th, MIN(doc_id) AS keep_id FROM h GROUP BY 1),
    cs AS (
      SELECT c.th, c.keep_id, hk.source AS keep_source
      FROM canon c JOIN h hk ON hk.doc_id = c.keep_id
    ),
    j AS (
      SELECT h.source,
             CASE WHEN h.doc_id = cs.keep_id THEN 1 ELSE 0 END AS kept,
             CASE WHEN h.doc_id != cs.keep_id
                       AND h.source != cs.keep_source THEN 1 ELSE 0 END
               AS lost_cross_source
      FROM h JOIN cs USING (th)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_purged,
           CAST(SUM(lost_cross_source) AS BIGINT) AS n_lost_cross_source,
           CAST((20000 * (COUNT(*) - SUM(kept)) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS purge_bp
    FROM j GROUP BY 1 ORDER BY 1
    """,
    doc="Exact-dedup survivorship attribution per source: under the "
    "deterministic keep-lowest-doc_id policy, how many of a source's "
    "documents survive dedup, how many are purged, and how many are "
    "lost specifically to a canonical copy held by ANOTHER source — the "
    "table that distinguishes a self-duplicating feed (high purge, low "
    "cross-source loss) from a mirror of someone else's corpus (high "
    "cross-source loss). Complements curation_source_dup_rate, which "
    "counts dup membership but not who wins. Shuffles carry 32-byte "
    "hashes, ids, and source tags — never text; the canonical-source "
    "resolution is one id-keyed join back to the slim hash frame, and "
    "min(doc_id) stays a HashAggregate (primitive min, the CLAUDE.md "
    "discipline).",
)
def curation_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance=True: this call site localCheckpoints a PRE-EXCHANGE frame
    # (md5 fused onto the scan) — the CLAUDE.md second criterion; without
    # it the checkpoint freezes the 1-row-group single-task layout for all
    # three downstream readers
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    h = docs.select(
        "doc_id", "source", F.md5(F.col("text")).alias("th")
    ).localCheckpoint(eager=False)  # slim hash frame; read 3x below
    canon = h.groupBy("th").agg(F.min("doc_id").alias("keep_id"))
    hk = h.select(F.col("doc_id").alias("keep_id"), F.col("source").alias("keep_source"))
    cs = canon.join(hk, "keep_id")
    j = h.join(cs, "th").select(
        "source",
        F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0).alias("kept"),
        F.when(
            (F.col("doc_id") != F.col("keep_id"))
            & (F.col("source") != F.col("keep_source")),
            1,
        )
        .otherwise(0)
        .alias("lost_cross_source"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("kept").alias("nk"),
            F.sum("lost_cross_source").alias("nx"),
        )
        .select(
            "source",
            F.col("nd").cast("long").alias("n_docs"),
            F.col("nk").cast("long").alias("n_kept"),
            (F.col("nd") - F.col("nk")).cast("long").alias("n_purged"),
            F.col("nx").cast("long").alias("n_lost_cross_source"),
            F.expr("(20000 * (nd - nk) + nd) div (2 * nd)")
            .cast("long")
            .alias("purge_bp"),
        )
        .orderBy("source")
    )


# --- waterfilling token-budget allocation -----------------------------------

_WF_BUDGET = 20000


@register(
    "curation_budget_waterfill",
    f"""
    WITH avail AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(text,
                  '[A-Za-z]+|\\d+|[^\\w\\s]'))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY 1
    ),
    srt AS (
      SELECT source, avail_tokens,
             ROW_NUMBER() OVER (ORDER BY avail_tokens, source) AS i,
             COUNT(*) OVER () AS n,
             COALESCE(SUM(avail_tokens) OVER (
               ORDER BY avail_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM avail
    ),
    sat AS (
      SELECT *,
             CASE WHEN avail_tokens * (n - i + 1)
                       <= {_WF_BUDGET} - cum_before
                  THEN 1 ELSE 0 END AS full_take
      FROM srt
    ),
    pool AS (
      SELECT *,
             CAST({_WF_BUDGET} - SUM(full_take * avail_tokens) OVER ()
                  AS BIGINT) AS remaining,
             CAST(SUM(1 - full_take) OVER () AS BIGINT) AS m,
             ROW_NUMBER() OVER (ORDER BY full_take, source) AS split_rank
      FROM sat
    )
    SELECT source, avail_tokens,
           CAST(CASE WHEN full_take = 1 THEN avail_tokens
                     ELSE remaining // m
                          + CASE WHEN split_rank <= remaining % m
                                 THEN 1 ELSE 0 END END AS BIGINT)
             AS alloc_tokens,
           CAST(full_take AS BIGINT) AS fully_taken
    FROM pool ORDER BY source
    """,
    doc="Waterfilling token-budget allocation across sources: every "
    "source whose full inventory fits under the waterline takes all of "
    "it, and the remaining budget splits EQUALLY among the larger "
    "sources (floor share + largest-remainder units, ties to source "
    "name) — the max-min-fair complement to curation_token_budget_mix's "
    "weight-proportional Hamilton apportionment (that answers 'fill at "
    "these mixture weights'; this answers 'balance sources as evenly as "
    "the budget allows'). The classic iterative waterline search "
    "collapses to ONE closed-form pass because sources sorted by "
    "availability satisfy the full-take predicate as a prefix: "
    "avail_i·(n−i+1) ≤ B − cum_before_i. Allocations are exact integers "
    "summing to min(B, total); the unpartitioned windows run over the "
    "#sources-bounded frame (the established curation-planning "
    "precedent); per-doc token counts are the map-side BPE-ish regex "
    "count, no explode.",
)
def curation_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit(r"[A-Za-z]+|\d+|[^\w\s]"), F.lit(0)
                )
            )
        )
        .cast("long")
        .alias("avail_tokens")
    )
    w_sort = W.orderBy("avail_tokens", "source")
    w_all = W.partitionBy()
    srt = avail.select(
        "source",
        "avail_tokens",
        F.row_number().over(w_sort).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.coalesce(
            F.sum("avail_tokens").over(
                w_sort.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_before"),
    )
    sat = srt.select(
        "*",
        F.when(
            F.col("avail_tokens") * (F.col("n") - F.col("i") + 1)
            <= F.lit(_WF_BUDGET) - F.col("cum_before"),
            1,
        )
        .otherwise(0)
        .alias("full_take"),
    )
    w_split = W.orderBy("full_take", "source")
    pool = sat.select(
        "*",
        (
            F.lit(_WF_BUDGET)
            - F.sum(F.col("full_take") * F.col("avail_tokens")).over(w_all)
        )
        .cast("long")
        .alias("remaining"),
        F.sum(F.lit(1) - F.col("full_take")).over(w_all).cast("long").alias("m"),
        F.row_number().over(w_split).alias("split_rank"),
    )
    return pool.select(
        "source",
        "avail_tokens",
        F.expr(
            f"CASE WHEN full_take = 1 THEN avail_tokens"
            f" ELSE remaining div m"
            f" + CASE WHEN split_rank <= remaining % m THEN 1 ELSE 0 END END"
        )
        .cast("long")
        .alias("alloc_tokens"),
        F.col("full_take").cast("long").alias("fully_taken"),
    ).orderBy("source")


# --- per-source NEAR-dup rate (the LSH complement to the exact-dup row) -----


@register(
    "curation_near_dup_rate",
    f"""
    WITH pairs AS ({_minhash_lsh_oracle().rsplit("ORDER BY", 1)[0]}),
    nd AS (
      SELECT doc_a AS doc_id FROM pairs
      WHERE jaccard_sim >= CAST(0.8 AS DOUBLE)
      UNION
      SELECT doc_b FROM pairs WHERE jaccard_sim >= CAST(0.8 AS DOUBLE)
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_near_dup_docs,
           CAST((20000 * SUM(CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS near_dup_bp
    FROM documents d LEFT JOIN nd ON nd.doc_id = d.doc_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="Per-source NEAR-duplicate rate: share of each source's documents "
    "that sit in at least one verified MinHash-LSH pair (shingle "
    "Jaccard ≥ 0.8) — the fuzzy complement to curation_source_dup_rate's "
    "exact-hash triage (a feed that paraphrases or lightly edits its "
    "plagiarism shows up HERE and not there). Candidates come from the "
    "banded equi-join (never all-pairs); membership reduces to a "
    "distinct doc-id set UNIONed from both pair ends, and the rollup is "
    "one id-keyed left join + source aggregate over slim id/tag rows — "
    "the dedup cost is the LSH generator this composes, everything "
    "added is id-bounded. Together the two rates and "
    "dedup_lsh_recall_eval form the dedup triage dashboard: how much "
    "exact, how much fuzzy, how trustworthy the fuzzy detector.",
)
def curation_near_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    pairs = D.minhash_lsh_candidate_pairs(docs, "text", "doc_id", 3, 2).where(
        F.col("jaccard_sim") >= 0.8
    )
    nd = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("near", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(nd, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nd_"),
            F.sum(F.coalesce(F.col("near"), F.lit(0))).alias("nn"),
        )
        .select(
            "source",
            F.col("nd_").cast("long").alias("n_docs"),
            F.col("nn").cast("long").alias("n_near_dup_docs"),
            F.expr("(20000 * nn + nd_) div (2 * nd_)")
            .cast("long")
            .alias("near_dup_bp"),
        )
        .orderBy("source")
    )


# --- token impact of exact dedup --------------------------------------------


@register(
    "curation_dedup_impact",
    """
    WITH h AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\w\\s]'))
               AS toks,
             md5(text) AS th
      FROM documents
    ),
    canon AS (SELECT th, MIN(doc_id) AS keep_id FROM h GROUP BY 1)
    SELECT h.source,
           CAST(SUM(h.toks) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN h.doc_id = c.keep_id THEN h.toks ELSE 0 END)
                AS BIGINT) AS tokens_after_dedup,
           CAST((20000 * SUM(CASE WHEN h.doc_id = c.keep_id THEN 0
                                  ELSE h.toks END) + SUM(h.toks))
                // (2 * SUM(h.toks)) AS BIGINT) AS savings_bp
    FROM h JOIN canon c USING (th)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Token impact of exact dedup per source: total BPE-ish tokens, "
    "tokens surviving the keep-lowest-id policy, and the savings share "
    "in half-up bp — the capacity-planning number dedup decisions are "
    "actually made on (curation_survivorship counts DOCUMENTS; storage "
    "and training cost scale with TOKENS, and a source whose few dups "
    "are its longest docs looks cheap there and expensive here). Token "
    "counts are the map-side regex count; shuffles carry (digest, "
    "token-count, tag) rows, never text; one hash-keyed canonical "
    "aggregate + one digest join, the survivorship plan shape.",
)
def curation_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    h = docs.select(
        "doc_id",
        "source",
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|\d+|[^\w\s]"), F.lit(0)
            )
        ).alias("toks"),
        F.md5(F.col("text")).alias("th"),
    ).localCheckpoint(eager=False)  # slim digest frame; read 2x below
    canon = h.groupBy("th").agg(F.min("doc_id").alias("keep_id"))
    j = h.join(canon, "th")
    kept = F.when(F.col("doc_id") == F.col("keep_id"), F.col("toks")).otherwise(0)
    purged = F.when(F.col("doc_id") == F.col("keep_id"), 0).otherwise(
        F.col("toks")
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum("toks").alias("tt"),
            F.sum(kept).alias("tk"),
            F.sum(purged).alias("tp"),
        )
        .select(
            "source",
            F.col("tt").cast("long").alias("tokens_total"),
            F.col("tk").cast("long").alias("tokens_after_dedup"),
            F.expr("(20000 * tp + tt) div (2 * tt)")
            .cast("long")
            .alias("savings_bp"),
        )
        .orderBy("source")
    )
