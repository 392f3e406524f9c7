"""Similarity search and near-duplicate detection: brute-force, LSH,
IVF/PQ and graph vector search over ``embeddings``, set-similarity
and fuzzy dedup over ``documents``, and multimodal matching (the
``sim_*``, ``dedup_*`` and ``multimodal_*`` names; the earliest of
them live in plans/llm_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_consumer_spark.operators import dedup as D
from kinesis_stream_consumer_spark.operators import multimodal as M
from kinesis_stream_consumer_spark.operators import similarity as S
from kinesis_stream_consumer_spark.operators import text as T
from kinesis_stream_consumer_spark.plans.llm_pipeline import (
    _DIM,
    _IVFPQ_NPROBE,
    _KMEANS_ITER,
    _KMEANS_K,
    _LSH_TABLES,
    _MEDIA_CHUNK_BYTES,
    _MEDIA_MIN_SHARED,
    _PHASH_MAX_HAMMING,
    _PHASH_SEGMENTS,
    _PQ_ITER,
    _PQ_K,
    _PQ_M,
    _PQ_RERANK,
    _SEMANTIC_K,
    _SHINGLE_ROWS,
    _SWEEP_NPROBES,
    _coarse_model,
    _components_ctes,
    _containment_oracle,
    _incremental_lsh_oracle,
    _ivfpq_index,
    _kmeans_ctes,
    _kmeans_oracle,
    _minhash_cols_sql,
    _minhash_lsh_oracle,
    _ngram_jaccard_oracle,
    _nprobe_sweep_oracle,
    _packed_codes,
    _pq_ctes,
    _pq_model,
    _pq_model_rows,
    _recall_eval_oracle,
    _sim_qrows,
    _simhash_oracle,
)
from kinesis_stream_consumer_spark.plans.queries import (
    QUERIES,
    _bcast_if_small,
    _t,
    _table_row_count,
    register,
)


@register(
    "dedup_minhash_signature",
    f"""
    WITH {_SHINGLE_ROWS}
    SELECT doc_id,
             {_minhash_cols_sql()}
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """,
    doc="MinHash signatures: per fixed salt ('permutation'), the minimum md5 "
    "over the doc's distinct 3-word shingles. Map-side only — signatures "
    "computed without any shuffle.",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        D.minhash_signatures(docs, "text", "doc_id", 3)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_simhash",
    _simhash_oracle(),
    doc="32-bit SimHash over 3-word shingles: bit b = sign of the ±1 votes of "
    "bit b of md5(shingle). Near-dups differ in few bits (Hamming); computed "
    "arithmetically from md5 hex digits so the identical computation runs in "
    "the DuckDB oracle.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        D.simhash32_df(docs, "text", "doc_id", 3)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    _ngram_jaccard_oracle(),
    doc="N-gram Jaccard near-dup pairs, language-blocked THROUGH the "
    "MinHash-LSH band join: the language is an extra component of every "
    "band key, so only same-language docs with a colliding signature band "
    "become candidates, then exact shingle Jaccard ≥ 0.2 verifies. The "
    "language never forms a join bucket by itself — a 4-language corpus "
    "does not degenerate into 4 all-pairs products (the 100 TB fix for "
    "naive blocked Jaccard).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_candidate_pairs(
        docs, "text", "doc_id", 3, 2, block_col="lang", threshold=0.2
    ).orderBy("doc_a", "doc_b")


@register(
    "multimodal_frame_sample",
    """
    WITH media AS (
      SELECT doc_id AS media_id, 'text/plain' AS mime,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents
    )
    SELECT media_id, mime,
           unnest(generate_series(0, GREATEST(n_bytes // 1024 - 1, 0), 10)) AS frame_index
    FROM media ORDER BY media_id, frame_index
    """,
    doc="Video frame-sampling plumbing: each media row fans out to its "
    "sampled frame indices via sequence+explode — distributed fan-out, "
    "nothing collected to the driver. Frame count faked from byte length "
    "(no decoder); the explode/partition shape is the scale-relevant part.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    return M.frame_sample_plan(media, 10).orderBy("media_id", "frame_index")


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS digest,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1 ORDER BY digest
    """,
    doc="Exact dedup: hash-groupBy on the content digest (reference I1's md5 "
    "identity extended to content). One shuffle on the digest; no pairwise "
    "work at any scale.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "text", "doc_id").orderBy("digest")


@register(
    "multimodal_media_meta",
    """
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text) AS sha256
    FROM documents ORDER BY media_id
    """,
    doc="Multimodal canonical media row: payload as opaque binary + typed "
    "metadata (mime, byte length, content digest). Binary rides in its own "
    "parquet column so metadata stays prunable; documents' text bytes stand "
    "in for image/audio payloads (no codecs in this container).",
)
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    return media.select("media_id", "mime", "n_bytes", "sha256").orderBy("media_id")


@register(
    "multimodal_audio_chunks",
    """
    WITH media AS (
      -- the synthetic corpus is pure ASCII (asserted: octet_length ==
      -- length for every row), so VARCHAR slicing is byte slicing; DuckDB
      -- has no BLOB substring
      SELECT doc_id AS media_id, 'audio/pcm' AS mime, text AS payload,
             length(text) AS n_bytes
      FROM documents
    ),
    starts AS (
      SELECT media_id, mime, payload,
             unnest(generate_series(1, GREATEST(n_bytes - 32 + 1, 1), 32))
               AS byte_start
      FROM media
    )
    SELECT media_id, mime,
           CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY byte_start)
                - 1 AS INT) AS chunk_index,
           byte_start,
           md5(substring(payload, byte_start, 64)) AS chunk_md5,
           length(substring(payload, byte_start, 64)) AS chunk_bytes
    FROM starts ORDER BY media_id, chunk_index
    """,
    doc="Audio chunking with overlap — REAL byte-range windowing, no codec: "
    "64-byte chunks every 32 bytes (hop < window ⇒ 50% overlap, the "
    "standard ASR shape; for PCM, bytes ≡ time). sequence+posexplode fans "
    "each media row out to its chunks distributed, substring slices the "
    "binary JVM-side, and the md5 of every chunk hash-checks that the "
    "sliced payload bytes are identical across engines.",
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media(docs, "doc_id", F.col("text"), "audio/pcm")
    chunks = M.audio_chunk_plan(media, chunk_bytes=64, hop_bytes=32)
    return chunks.select(
        "media_id",
        "mime",
        "chunk_index",
        "byte_start",
        F.md5("chunk").alias("chunk_md5"),
        "chunk_bytes",
    ).orderBy("media_id", "chunk_index")


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           CAST(16 AS BIGINT) AS feature_dim,
           substr(sha256(text || '|dim=16'), 1, 16) AS feature_sig
    FROM documents ORDER BY media_id
    """,
    doc="Arrow-batched feature extraction over binary payloads via "
    "mapInPandas — the decode step is a deterministic fake (sha256 of "
    "payload+dim; a real codec slots into the same batch loop). The batch "
    "shape, schema and partitioning are the real, tested contract.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    return M.extract_features(media, 16).orderBy("media_id")


def _method_agreement_oracle() -> str:
    mh = _minhash_lsh_oracle().rsplit("ORDER BY", 1)[0]
    ct = _containment_oracle().rsplit("ORDER BY", 1)[0]
    lv = QUERIES["dedup_levenshtein"].oracle.rsplit("ORDER BY", 1)[0]
    return f"""
    WITH mh AS (SELECT doc_a, doc_b FROM ({mh})
                WHERE jaccard_sim >= CAST(0.5 AS DOUBLE)),
    ct AS (SELECT doc_a, doc_b FROM ({ct})
           WHERE containment >= CAST(0.8 AS DOUBLE)),
    lv AS (SELECT doc_a, doc_b FROM ({lv})),
    ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM documents a JOIN documents b
             ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
    allp AS (
      SELECT 'minhash' AS m, doc_a, doc_b FROM mh
      UNION ALL SELECT 'containment', doc_a, doc_b FROM ct
      UNION ALL SELECT 'levenshtein', doc_a, doc_b FROM lv
      UNION ALL SELECT 'exact', doc_a, doc_b FROM ex
    ),
    methods AS (SELECT unnest(['containment','exact','levenshtein','minhash']) AS m),
    counts AS (
      SELECT me.m, COALESCE(c.n, 0) AS n
      FROM methods me LEFT JOIN (SELECT m, COUNT(*) AS n FROM allp GROUP BY m) c
        USING (m)
    ),
    common AS (
      SELECT x.m AS method_a, y.m AS method_b, COUNT(*) AS n_common
      FROM allp x JOIN allp y
        ON x.doc_a = y.doc_a AND x.doc_b = y.doc_b AND x.m < y.m
      GROUP BY 1, 2
    ),
    combos AS (
      SELECT a.m AS method_a, b.m AS method_b, a.n AS n_a, b.n AS n_b
      FROM counts a JOIN counts b ON a.m < b.m
    )
    SELECT method_a, method_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
           CAST(CASE WHEN n_a + n_b - COALESCE(c.n_common, 0) = 0 THEN 0
                ELSE FLOOR(10000.0 * COALESCE(c.n_common, 0)
                           / (n_a + n_b - COALESCE(c.n_common, 0)) + 0.5)
                END AS BIGINT) AS agree_bp
    FROM combos LEFT JOIN common c USING (method_a, method_b)
    ORDER BY method_a, method_b
    """


@register(
    "dedup_method_agreement",
    _method_agreement_oracle(),
    doc="Dedup-method agreement census — the evaluation loop behind "
    "choosing a dedup stack: the pair sets of four signals (exact digest, "
    "MinHash-Jaccard ≥ 0.5, containment ≥ 0.8, Levenshtein ratio ≤ 0.2 — "
    "all over the SAME LSH candidates) are compared pairwise, reporting "
    "per-method pair counts, the intersection, and Jaccard agreement of "
    "the pair SETS in basis points. High exact∩minhash with low "
    "exact∩containment quantifies exactly what each extra signal buys. "
    "Scale shape: each method's pair frame is near-dup-sized (LSH-bounded, "
    "not corpus-sized); the census unions them tagged and self-joins on "
    "the pair key — work bounded by total near-dup pairs. The union is "
    "checkpointed once so the count and intersection stages share one "
    "materialization of the four underlying pipelines.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    mh = (
        QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
        .where(F.col("jaccard_sim") >= 0.5)
        .select(F.lit("minhash").alias("m"), "doc_a", "doc_b")
    )
    ct = (
        QUERIES["dedup_containment"].fn(spark, sf_dir)
        .where(F.col("containment") >= 0.8)
        .select(F.lit("containment").alias("m"), "doc_a", "doc_b")
    )
    lv = QUERIES["dedup_levenshtein"].fn(spark, sf_dir).select(
        F.lit("levenshtein").alias("m"), "doc_a", "doc_b"
    )
    dig = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("dg"))
    ex = (
        dig.alias("a")
        .join(
            dig.alias("b"),
            (F.col("a.dg") == F.col("b.dg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.lit("exact").alias("m"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    allp = mh.unionByName(ct).unionByName(lv).unionByName(ex).localCheckpoint(
        eager=True
    )
    from itertools import combinations

    names = ["containment", "exact", "levenshtein", "minhash"]
    methods = spark.sql(
        "SELECT explode(array({})) AS m".format(
            ", ".join(f"'{n}'" for n in names)
        )
    )
    counts = methods.join(
        allp.groupBy("m").agg(F.count(F.lit(1)).alias("n")), "m", "left"
    ).select("m", F.coalesce("n", F.lit(0)).alias("n"))
    common = (
        allp.alias("x")
        .join(
            allp.alias("y"),
            (F.col("x.doc_a") == F.col("y.doc_a"))
            & (F.col("x.doc_b") == F.col("y.doc_b"))
            & (F.col("x.m") < F.col("y.m")),
        )
        .groupBy(
            F.col("x.m").alias("method_a"), F.col("y.m").alias("method_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # combo pairs as LITERAL rows + two equi-joins: a `a.m < b.m` theta
    # self-join of the 4-row counts frame would plan as a
    # BroadcastNestedLoopJoin (banned by the hygiene gate even when the
    # inputs are constant-sized — the method set IS a compile-time
    # constant, so enumerate it at plan-build time instead)
    combo_rows = ", ".join(
        f"('{a}', '{b}')" for a, b in combinations(names, 2)
    )
    combos = (
        spark.sql(
            f"SELECT * FROM VALUES {combo_rows} AS t(method_a, method_b)"
        )
        .join(
            counts.select(
                F.col("m").alias("method_a"), F.col("n").alias("n_a")
            ),
            "method_a",
        )
        .join(
            counts.select(
                F.col("m").alias("method_b"), F.col("n").alias("n_b")
            ),
            "method_b",
        )
    )
    un = F.col("n_a") + F.col("n_b") - F.coalesce("n_common", F.lit(0))
    return (
        combos.join(common, ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.when(un == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    10000.0 * F.coalesce("n_common", F.lit(0)) / un + F.lit(0.5)
                ).cast("long")
            )
            .alias("agree_bp"),
        )
        .orderBy("method_a", "method_b")
    )


@register(
    "sim_ann_ivf",
    f"""
    WITH {_kmeans_ctes()},
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    cent AS (
      SELECT a.cell AS cell_id, q.pos + 1 AS i,
             AVG(q.qx) / {S.KMEANS_QUANT_SCALE}.0 AS c
      FROM fa a JOIN q USING (vid)
      GROUP BY a.cell, q.pos
    ),
    cnorm AS (SELECT cell_id, sqrt(SUM(c * c)) AS cn FROM cent GROUP BY cell_id),
    vnorm AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vn
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id
    ),
    csims AS (
      SELECT e.vec_id, ct.cell_id,
             SUM(CAST(e.embedding[ct.i] AS DOUBLE) * ct.c) AS dp
      FROM embeddings e CROSS JOIN cent ct
      GROUP BY e.vec_id, ct.cell_id
    ),
    assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT s.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY s.dp / (v.vn * c.cn) DESC, s.cell_id) AS arnk
        FROM csims s JOIN vnorm v USING (vec_id) JOIN cnorm c USING (cell_id)
      ) WHERE arnk = 1
    ),
    cand AS (
      SELECT qq.vec_id AS query_id, m.vec_id AS match_id, qq.cell_id
      FROM assigned qq JOIN assigned m
        ON qq.cell_id = m.cell_id AND qq.vec_id != m.vec_id
      WHERE qq.vec_id < 10
    ),
    dots AS (
      SELECT c.query_id, c.match_id, c.cell_id,
             SUM(CAST(eq.embedding[d.i] AS DOUBLE)
                 * CAST(em.embedding[d.i] AS DOUBLE)) AS dp
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.query_id
      JOIN embeddings em ON em.vec_id = c.match_id
      CROSS JOIN dims d
      GROUP BY 1, 2, 3
    )
    SELECT query_id, match_id, cell_id, cosine_sim, rnk FROM (
      SELECT d.query_id, d.match_id, d.cell_id,
             ROUND(d.dp / (vq.vn * vm.vn), 4) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY d.query_id
                                ORDER BY ROUND(d.dp / (vq.vn * vm.vn), 4) DESC,
                                         d.match_id) AS rnk
      FROM dots d JOIN vnorm vq ON vq.vec_id = d.query_id
                  JOIN vnorm vm ON vm.vec_id = d.match_id
    ) WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc="IVF approximate NN over a TRAINED coarse quantizer: cells come "
    "from the integer-quantized Lloyd k-means fit (sim_kmeans_cells), "
    "dequantized to float centroids; queries are scored only against their "
    "own cell — corpus⋈query becomes an equi-join on cell_id. The 100 TB "
    "scale path for similarity search: the k·dim centroid model broadcasts, "
    "the corpus never cross-joins. The whole pipeline (integer k-means → "
    "centroid means → cosine argmax assignment → within-cell top-k) is "
    "deterministic, so the DuckDB oracle reproduces it end-to-end and the "
    "driver value-hashes the full result; recall-vs-brute-force is "
    "additionally asserted in tests/test_similarity.py.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # k·dim rows — checkpoint the trained model once so the two
    # ivf_assign broadcasts don't re-run the Lloyd iterations (the fit
    # itself comes from the session model cache).
    fit, _ = _coarse_model(spark, sf_dir)
    centroids = S.kmeans_centroids_quantized(
        emb, k=_KMEANS_K, n_iter=_KMEANS_ITER, fit=fit
    ).localCheckpoint(eager=True)
    queries = emb.where(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, centroids, k=5).orderBy("query_id", "rnk")


def _blocked_lsh_oracle() -> str:
    bands = " , ".join(
        f"mh{2*b}::VARCHAR || '#' || mh{2*b+1}::VARCHAR || '#' || d.lang AS b{b}"
        for b in range(4)
    )
    cond = " OR ".join(f"l.b{b} = r.b{b}" for b in range(4))
    return f"""
    WITH {_SHINGLE_ROWS},
    sigs AS (
      SELECT doc_id, {_minhash_cols_sql()}
      FROM sh GROUP BY doc_id
    ),
    banded AS (
      SELECT s.doc_id, d.lang, {bands}
      FROM sigs s JOIN documents d USING (doc_id)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.lang
      FROM banded l JOIN banded r ON l.doc_id < r.doc_id AND ({cond})
    ),
    shsets AS (SELECT doc_id, list(DISTINCT shingle) AS shset FROM sh GROUP BY doc_id)
    SELECT doc_a, doc_b, lang,
           ROUND(len(list_intersect(sa.shset, sb.shset))
                 / GREATEST(len(list_distinct(list_cat(sa.shset, sb.shset))), 1), 4)
             AS jaccard_sim
    FROM cand
    JOIN shsets sa ON sa.doc_id = doc_a
    JOIN shsets sb ON sb.doc_id = doc_b
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_minhash_lsh_blocked",
    _blocked_lsh_oracle(),
    doc="Language-BLOCKED MinHash-LSH near-dup pairs — the practical "
    "production variant: the blocking key (lang) folds into every band "
    "key, so only same-language documents can ever collide, WITHOUT the "
    "block becoming a join bucket by itself (a 4-language corpus must "
    "not degenerate into 4 all-pairs products — the join still keys on "
    "the band hash, and the block only refines it). Cuts candidate "
    "volume and removes the classic cross-language false-collision "
    "class; identical scale shape to dedup_minhash_lsh otherwise. Each "
    "emitted pair carries its language for downstream per-language "
    "dedup accounting.",
)
def dedup_minhash_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: checkpoints the shingle sets (dedup_minhash_lsh rationale)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    pairs = D.minhash_lsh_candidate_pairs(
        docs, "text", "doc_id", 3, 2, block_col="lang"
    )
    lang = docs.select(F.col("doc_id").alias("doc_a"), "lang")
    return (
        pairs.join(lang, "doc_a")
        .select("doc_a", "doc_b", "lang", "jaccard_sim")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "sim_label_centroid_matrix",
    f"""
    WITH rows_q AS (
      SELECT label, i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {S.KMEANS_QUANT_SCALE} + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, {_DIM})) AS i) d
    ),
    cent AS (
      SELECT label, pos,
             CAST(FLOOR((2 * SUM(qx) + COUNT(*)) / (2.0 * COUNT(*))) AS BIGINT) AS qc
      FROM rows_q GROUP BY label, pos
    ),
    nrm AS (SELECT label, SUM(qc * qc) AS n2 FROM cent GROUP BY label),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(a.qc * b.qc) AS BIGINT) AS dp
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           ROUND(dp / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
             AS cosine_sim
    FROM dots
    JOIN nrm na ON na.label = label_a
    JOIN nrm nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
    doc="Per-group embedding centroid similarity matrix — the corpus "
    "analytics behind domain-mixture design: each label's integer "
    "half-up-mean centroid (the k-means update rule reused as an "
    "aggregate), then pairwise cosine between the k centroids. Scale "
    "shape: the corpus reduces map-side to (label, pos) integer sums — "
    "one slim shuffle bounded by k·dim regardless of corpus size — and "
    "the pairwise stage touches only the k×dim centroid table (k(k−1)/2 "
    "pairs of 64-int vectors, trivially small at any corpus scale). "
    "Integer-exact up to the final cosine, whose sqrt/divide are "
    "IEEE-deterministic single ops, ROUNDed identically on both sides.",
)
def sim_label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select(
        "label",
        "pos",
        F.floor(F.col("x") * S.KMEANS_QUANT_SCALE + 0.5).cast("long").alias("qx"),
    )
    cent = rows.groupBy("label", "pos").agg(
        F.floor(
            (2 * F.sum("qx") + F.count(F.lit(1))) / (2 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("qc")
    )
    nrm = cent.groupBy("label").agg(F.sum(F.col("qc") * F.col("qc")).alias("n2"))
    dots = (
        cent.alias("a")
        .join(
            cent.alias("b"),
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.qc") * F.col("b.qc")).cast("long").alias("dp"))
    )
    return (
        dots.join(nrm.withColumnRenamed("label", "label_a"), "label_a")
        .withColumnRenamed("n2", "na2")
        .join(nrm.withColumnRenamed("label", "label_b"), "label_b")
        .withColumnRenamed("n2", "nb2")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dp")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                4,
            ).alias("cosine_sim"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "sim_lexical_sparse_topk",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i FROM t)
    ),
    tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bi GROUP BY 1, 2),
    nn AS (SELECT COUNT(*) AS n FROM t),
    rare AS (
      SELECT s.bg, (SELECT n FROM nn) // s.df AS w
      FROM (SELECT bg, COUNT(*) AS df FROM tf GROUP BY bg) s
      WHERE s.df <= LEAST(GREATEST(2, (SELECT n FROM nn) // 20), 32)
    ),
    post AS (SELECT f.doc_id, f.bg, f.tf, r.w FROM tf f JOIN rare r USING (bg)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.tf * b.tf * a.w * a.w) AS BIGINT) AS sim
      FROM post a JOIN post b ON a.bg = b.bg AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, sim, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a
                                   ORDER BY sim DESC, doc_b) AS rnk
      FROM pairs)
    WHERE rnk <= 3
    ORDER BY doc_a, rnk
    """,
    doc="Sparse lexical similarity join — the inverted-index complement to "
    "the dense-embedding ANN ops: docs become bigram TF vectors, terms "
    "with document frequency above N/20 are PRUNED (common terms add "
    "little weight but quadratic join volume — the df cap is the scale "
    "knob: per-term postings stay <= cap so the postings self-join is "
    "bounded, the same candidate-bounding contract as the LSH bands), "
    "and surviving postings self-join on the term to accumulate "
    "tf_a*tf_b*w^2 per pair, top-3 neighbours per doc. The cap is "
    "ABSOLUTE above a floor (min(max(2, N/20), 32)): a term in hundreds "
    "of documents is common regardless of corpus size, and a relative-"
    "only cap would let per-term join volume grow as (N/20)^2 — with the "
    "absolute cap the pair stage is O(#terms * cap^2), linear in the "
    "vocabulary. The idf surrogate "
    "w = N div df is INTEGER (log-free: JVM and DuckDB libm may differ "
    "by 1 ulp on transcendental idf; integer weights make every partial "
    "sum exact cross-engine). N comes from footer/table stats, not a "
    "count job; postings are checkpointed once so the self-join reads "
    "them instead of re-aggregating both sides.",
)
def sim_lexical_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    n = _table_row_count(sf_dir, "documents")
    cap = min(max(2, n // 20), 32)
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bg_arr = F.expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE array() END"
    )
    tf = (
        toks.select("doc_id", F.explode(bg_arr).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rare = (
        tf.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= cap)
        .select("bg", F.expr(f"{n} div df").alias("w"))
    )
    post = tf.join(rare, "bg").localCheckpoint(eager=True)
    pairs = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.bg") == F.col("b.bg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(
                F.col("a.tf") * F.col("b.tf") * F.col("a.w") * F.col("a.w")
            ).cast("long").alias("sim")
        )
    )
    w_ = Window.partitionBy("doc_a").orderBy(F.col("sim").desc(), "doc_b")
    return (
        pairs.withColumn("rnk", F.row_number().over(w_))
        .where(F.col("rnk") <= 3)
        .select("doc_a", "doc_b", "sim", "rnk")
        .orderBy("doc_a", "rnk")
    )


@register(
    "dedup_cluster_keep_best",
    f"""
    WITH RECURSIVE {_components_ctes()},
    q AS (
      SELECT doc_id, quality_score
      FROM ({QUERIES["text_quality"].oracle.rsplit("ORDER BY", 1)[0]})
    ),
    j AS (
      SELECT c.component_id, c.node AS doc_id, q.quality_score
      FROM comp c JOIN q ON q.doc_id = c.node
    )
    SELECT CAST(component_id AS BIGINT) AS component_id,
           doc_id AS kept_doc_id,
           quality_score AS best_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY component_id
                                ORDER BY quality_score DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component_id) AS n_members
      FROM j)
    WHERE rn = 1
    ORDER BY component_id
    """,
    doc="The dedup DECISION: for every transitive duplicate cluster, keep "
    "the highest-quality member (tie → smallest id) and record the group "
    "size — what a real pipeline writes out after near-dup detection "
    "(pairs → components → one survivor per group, chosen by the quality "
    "model rather than arbitrary first-seen). Composes three certified "
    "operators: LSH pair graph, fixpoint components, quality scoring; "
    "the window runs over cluster members only (≪ corpus).",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidate_pairs(
        docs, "text", "doc_id", 3, 2, threshold=0.8
    )
    comps = D.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )
    quality = docs.select("doc_id", T.quality_score(F.col("text")).alias("q"))
    j = comps.join(quality, "doc_id")
    w = Window.partitionBy("component_id").orderBy(F.col("q").desc(), "doc_id")
    wc = Window.partitionBy("component_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            F.col("component_id").cast("long").alias("component_id"),
            F.col("doc_id").alias("kept_doc_id"),
            F.col("q").alias("best_quality"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("component_id")
    )


@register(
    "dedup_graph_pagerank",
    f"""
    WITH pairs AS ({_minhash_lsh_oracle().rsplit("ORDER BY", 1)[0]}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    pr0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
    it1 AS (
      SELECT e.d AS node,
             CAST(150000 + (17 * SUM(p.pr // g.deg)) // 20 AS BIGINT) AS pr
      FROM edges e
      JOIN pr0 p ON p.node = e.s
      JOIN deg g ON g.s = e.s
      GROUP BY e.d
    ),
    it2 AS (
      SELECT e.d AS node,
             CAST(150000 + (17 * SUM(p.pr // g.deg)) // 20 AS BIGINT) AS pr
      FROM edges e
      JOIN it1 p ON p.node = e.s
      JOIN deg g ON g.s = e.s
      GROUP BY e.d
    )
    SELECT it2.node AS doc_id, it2.pr AS pagerank_micro,
           CAST(g.deg AS BIGINT) AS n_links
    FROM it2 JOIN deg g ON g.s = it2.node
    ORDER BY doc_id
    """,
    doc="Graph centrality over the near-duplicate pair graph: 2-round "
    "PageRank (damping 0.85) on the undirected MinHash-LSH candidate "
    "graph — ranks TEMPLATE HUBS (docs sharing boilerplate with many "
    "others) that pair-wise dedup under-reports: a hub's pairs each look "
    "mild but its centrality is extreme, which is the signal for "
    "template/spam removal. Exact integer arithmetic end-to-end: "
    "micro-unit ranks, per-edge contribution pr div deg (integer), "
    "0.85·x as (17·x) div 20, so both engines reach bit-identical "
    "fixpoints (a float PageRank would drift by summation order). "
    "Scale shape: the textbook distributed power iteration — slim "
    "CHECKPOINTED edge list (shingle pipeline runs once), per round one "
    "equi-join of state with edges plus one destination-keyed aggregate "
    "shuffle; all joins on node ids, every node has degree >= 1 so no "
    "dangling-mass special case.",
)
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    pairs = D.minhash_lsh_candidate_pairs(docs, "text", "doc_id", 3, 2)
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
        )
        .localCheckpoint(eager=True)  # slim (s, d) — shingles run ONCE
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    pr = deg.select(F.col("s").alias("node"), F.lit(1000000).cast("long").alias("pr"))
    for _ in range(2):
        pr = (
            edges.join(pr, edges["s"] == pr["node"])
            .join(deg, "s")
            .groupBy("d")
            .agg(
                F.expr("cast(150000 + (17 * sum(pr div deg)) div 20 as bigint)")
                .alias("pr")
            )
            .select(F.col("d").alias("node"), "pr")
        )
    return (
        pr.join(deg, pr["node"] == deg["s"])
        .select(
            F.col("node").alias("doc_id"),
            F.col("pr").alias("pagerank_micro"),
            F.col("deg").cast("long").alias("n_links"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_lsh",
    _incremental_lsh_oracle(),
    doc="Increment-vs-corpus near-dup check — the PRODUCTION dedup shape: "
    "a new batch (docs with doc_id % 10 == 0 stand in for today's "
    "increment) is checked against the existing corpus WITHOUT ever "
    "re-pairing the corpus against itself. The band equi-join is "
    "increment-driven (one side holds only new docs' band rows), so join "
    "fan-out is bounded by increment x bucket occupancy — at 100 TB the "
    "corpus side's signatures come from the store written at ingest and "
    "the whole check costs O(increment), not O(corpus). Output: each new "
    "doc's candidate list with exact Jaccard and a flag telling corpus "
    "dups from within-increment dups (which surface symmetrically, one "
    "row per direction).",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: shingle sets are checkpointed (criterion 2)
    docs = _t(spark, sf_dir, "documents", rebalance=True).withColumn(
        "_is_new", (F.col("doc_id") % 10) == 0
    )
    return D.minhash_lsh_incremental_pairs(
        docs, "text", "doc_id", "_is_new", 3, 2
    ).orderBy("new_doc", "match_doc")


@register(
    "sim_maxsim_topk",
    f"""
    WITH sr AS (
      SELECT vec_id AS vid, CAST((i - 1) // 8 AS INT) AS sub,
             (i - 1) % 8 AS pos,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {S.KMEANS_QUANT_SCALE}
                        + 0.5) AS BIGINT) AS qx
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {_DIM})) AS i) d
    ),
    qs AS (SELECT * FROM sr WHERE vid < 10),
    dots AS (
      SELECT q.vid AS query_id, q.sub AS q_sub, d.vid AS doc_id, d.sub AS d_sub,
             SUM(q.qx * d.qx) AS dp
      FROM qs q JOIN sr d ON d.pos = q.pos AND d.vid != q.vid
      GROUP BY 1, 2, 3, 4
    ),
    mx AS (SELECT query_id, q_sub, doc_id, MAX(dp) AS m FROM dots GROUP BY 1, 2, 3),
    sc AS (SELECT query_id, doc_id, CAST(SUM(m) AS BIGINT) AS maxsim
           FROM mx GROUP BY 1, 2)
    SELECT query_id, doc_id AS match_id, maxsim, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY maxsim DESC, doc_id) AS rnk
      FROM sc)
    WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    doc="Late-interaction (ColBERT-style MaxSim) top-k: each vector splits "
    "into 8 sub-vectors (token-embedding stand-ins) and "
    "score(q, d) = sum over q's sub-vectors of the MAX dot product "
    "against any of d's sub-vectors — the multi-vector retrieval scoring "
    "that single-vector cosine cannot express (a query facet matches its "
    "best-aligned doc facet independently). Exact integer milli-unit "
    "dots, so the max/sum cascade is hash-stable cross-engine. Scale "
    "shape: the query sub-vectors BROADCAST (|q|·m·dim slim rows), the "
    "corpus rides once as quantized sub-rows, and the max-plus-sum "
    "cascade is three map-side-combining hash aggregates keyed by "
    "(query, q_sub, doc[, d_sub]) — no vector ever shuffles. The "
    "production path would restrict doc candidates via the IVF cells "
    "first (same composition as sim_ivfpq_topk); the dense form is the "
    "recall ceiling it gets measured against.",
)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    sr = S.pq_sub_rows(emb, 8, _DIM)
    qs = S.pq_sub_rows(emb.where(F.col("vec_id") < 10), 8, _DIM).select(
        F.col("vid").alias("query_id"),
        F.col("sub").alias("q_sub"),
        F.col("pos").alias("q_pos"),
        F.col("qx").alias("qq"),
    )
    dots = (
        sr.join(
            F.broadcast(qs),
            (F.col("pos") == F.col("q_pos")) & (F.col("vid") != F.col("query_id")),
        )
        .groupBy("query_id", "q_sub", F.col("vid").alias("doc_id"), F.col("sub").alias("d_sub"))
        .agg(F.sum(F.col("qx") * F.col("qq")).alias("dp"))
    )
    mx = dots.groupBy("query_id", "q_sub", "doc_id").agg(F.max("dp").alias("m"))
    sc = mx.groupBy("query_id", "doc_id").agg(
        F.sum("m").cast("long").alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("maxsim").desc(), "doc_id")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", F.col("doc_id").alias("match_id"), "maxsim", "rnk")
        .orderBy("query_id", "rnk")
    )


@register(
    "sim_nprobe_recall_sweep",
    _nprobe_sweep_oracle(),
    doc="The recall-vs-nprobe tuning curve every IVF deployment measures "
    "before choosing its probe budget (FAISS's standard operating "
    f"curve): ADC top-5 at nprobe ∈ {_SWEEP_NPROBES} against the "
    f"exhaustive probe (nprobe = {_KMEANS_K} = every cell, i.e. the "
    "full PQ scan) as ground truth, micro-averaged recall in half-up "
    "basis points. ONE pass computes all sweep points: the cached "
    "cell-keyed index joins a probe table carrying each cell's per-query "
    "probe RANK, candidates expand across the nprobe values by a "
    "rank<=np values-join, and one (np, query) WindowGroupLimit ranks "
    "every sweep point's shortlist — the baseline is just the np=8 "
    "slice, so nothing runs twice. Offline-evaluation shape: the "
    "exhaustive baseline necessarily scans every list once; the "
    "per-(np, query) frames after the top-5 are workload-bounded "
    "(4·|Q|·5 rows, checkpointed before the self-join).",
)
def sim_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    inv, coarse_rows, pq_rows = _ivfpq_index(spark, sf_dir)
    qrows = _sim_qrows(spark, sf_dir)
    m, k, dim = _PQ_M, _PQ_K, _DIM
    sub_dim = dim // m
    cc: dict = {}
    for r in coarse_rows:
        cc.setdefault(r.cell, [0] * dim)[r.pos] = r.qc
    cb: dict = {}
    for r in pq_rows:
        cb.setdefault((r.sub, r.cell), [0] * sub_dim)[r.pos] = r.qc
    probe_rows = []
    for q in qrows:
        qv = q.qvec
        dt = [0] * (m * k)
        for (s, c), qc in cb.items():
            base = s * sub_dim
            dt[s * k + c] = sum(
                (qv[base + p] - qc[p]) ** 2 for p in range(sub_dim)
            )
        near = sorted(
            (sum((qv[p] - v[p]) ** 2 for p in range(dim)), cell)
            for cell, v in cc.items()
        )
        for prnk, (_, cell) in enumerate(near, start=1):
            probe_rows.append((int(q.query_id), int(cell), prnk, dt))
    probes = spark.createDataFrame(
        probe_rows,
        schema="query_id BIGINT, cell_id INT, prnk INT, dt ARRAY<BIGINT>",
    )  # tiny local relation — stats make it the broadcast side unhinted
    adc = "+".join(f"dt[{s * k} + carr[{s}]]" for s in range(m))
    scored = (
        inv.join(probes, "cell_id")
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid", "prnk", F.expr(adc).alias("adc_dist"))
    )
    swe = scored.withColumn(
        "np", F.explode(F.array(*[F.lit(p) for p in _SWEEP_NPROBES]))
    ).where(F.col("prnk") <= F.col("np"))
    w = W.partitionBy("np", "query_id").orderBy("adc_dist", "vid")
    top = (
        swe.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("np", "query_id", "vid")
        .localCheckpoint(eager=True)  # 4·|Q|·5 rows feed base AND hits
    )
    base = top.where(F.col("np") == _KMEANS_K).select("query_id", "vid")
    hits = top.join(base, ["query_id", "vid"]).groupBy("np").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    den = top.groupBy("np").agg(F.count(F.lit(1)).cast("long").alias("n_top"))
    return (
        den.join(hits, "np", "left")
        .select(
            F.col("np").cast("long").alias("nprobe"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_top",
            F.expr(
                "cast((2*10000*coalesce(n_hits, 0) + n_top)"
                " div (2*n_top) as bigint)"
            ).alias("recall_bp"),
        )
        .orderBy("nprobe")
    )


@register(
    "dedup_media_chunks",
    f"""
    WITH media AS (
      -- BYTE semantics throughout (ADVICE r4): the Spark side hashes
      -- byte slices of the binary payload, and character-based
      -- LENGTH/substring would shift chunk counts and boundaries on any
      -- non-ASCII document. DuckDB v1.0 cannot slice or md5 a BLOB, so
      -- the byte slice is taken on the HEX encoding (2 chars per byte)
      -- and joined directly — equality of hex slices IS equality of
      -- byte slices, and the hash/slice column never reaches the output.
      SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents
    ),
    idx AS (
      SELECT media_id, hx,
             unnest(generate_series(0, n_bytes // {_MEDIA_CHUNK_BYTES} - 1)) AS chunk_index
      FROM media WHERE n_bytes >= {_MEDIA_CHUNK_BYTES}
    ),
    ch AS (
      SELECT media_id, chunk_index,
             substring(hx, chunk_index * {2 * _MEDIA_CHUNK_BYTES} + 1,
                       {2 * _MEDIA_CHUNK_BYTES}) AS h
      FROM idx
    ),
    counts AS (SELECT media_id, COUNT(*) AS n_chunks FROM ch GROUP BY media_id),
    p AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b, COUNT(*) AS n_shared
      FROM ch a JOIN ch b
        ON a.chunk_index = b.chunk_index AND a.h = b.h
       AND a.media_id < b.media_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_MEDIA_MIN_SHARED}
    )
    SELECT media_a, media_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(ca.n_chunks AS BIGINT) AS n_chunks_a,
           CAST(cb.n_chunks AS BIGINT) AS n_chunks_b,
           CAST(FLOOR(10000.0 * n_shared / LEAST(ca.n_chunks, cb.n_chunks) + 0.5)
                AS BIGINT) AS shared_bp
    FROM p
    JOIN counts ca ON ca.media_id = media_a
    JOIN counts cb ON cb.media_id = media_b
    ORDER BY media_a, media_b
    """,
    doc="Near-duplicate MEDIA pairs by piecewise chunk-hash matching — "
    "dedup for opaque binary payloads (images/audio as bytes) needing no "
    f"codec: payloads cut into aligned {_MEDIA_CHUNK_BYTES}-byte chunks, "
    "md5 per chunk, pairs sharing >= "
    f"{_MEDIA_MIN_SHARED} aligned chunks flagged with their shared-chunk "
    "share in basis points. Robust to localized corruption/replacement; "
    "the production variant swaps aligned slicing for content-defined "
    "chunk boundaries (FastCDC/ssdeep) with the identical join shape. "
    "Scale shape: payloads reduce map-side to slim (idx, md5) rows; the "
    "self-join keys on (chunk_index, chunk_hash) — md5-uniform, so no "
    "skew and no O(n^2) stage; per-bucket fan-out is bounded by the true "
    "copy count of each chunk. Documents' text bytes stand in for media "
    "payloads (same contract as multimodal_media_meta).",
)
def dedup_media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no rebalance DESPITE the checkpointed-frame shape: the map-side work
    # is one md5 per 64-byte chunk (~n_bytes/64 hashes/doc — tiny next to
    # shingling), so the full-row repartition costs more than the pinned
    # parallelism saves (A/B 1.05s vs 1.30s median at sf0.1).
    docs = _t(spark, sf_dir, "documents")
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    return M.chunk_signature_pairs(
        media, _MEDIA_CHUNK_BYTES, _MEDIA_MIN_SHARED
    ).orderBy("media_a", "media_b")


@register(
    "multimodal_phash_neardup",
    f"""
    WITH media AS (
      -- the synthetic corpus is pure ASCII (octet_length == length for
      -- every row — same documented basis as multimodal_audio_chunks),
      -- so ord(char) == byte value and VARCHAR positions == byte offsets
      SELECT doc_id AS media_id, text AS payload, length(text) AS n_bytes
      FROM documents
    ),
    pos AS (
      SELECT media_id, n_bytes,
             unnest(generate_series(1, CAST(n_bytes AS INT))) AS p
      FROM media
    ),
    bv AS (
      SELECT pos.media_id,
             ((p - 1) * {_PHASH_SEGMENTS}) // pos.n_bytes AS seg,
             ord(substring(m.payload, CAST(p AS INT), 1)) AS v
      FROM pos JOIN media m ON m.media_id = pos.media_id
    ),
    segsum AS (SELECT media_id, seg, SUM(v) AS s FROM bv GROUP BY 1, 2),
    tot AS (SELECT media_id, SUM(s) AS total FROM segsum GROUP BY 1),
    sigs AS (
      SELECT s.media_id,
             CAST(SUM(CASE WHEN s.s * {_PHASH_SEGMENTS} > t.total
                           THEN CAST(1 AS BIGINT) << CAST(s.seg AS INT)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM segsum s JOIN tot t ON t.media_id = s.media_id
      GROUP BY s.media_id
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_PHASH_MAX_HAMMING}
    ORDER BY media_a, media_b
    """,
    doc="Perceptual near-duplicate MEDIA pairs, pHash-shaped: each payload "
    f"reduces to a {_PHASH_SEGMENTS}-bit signature (byte-span sums vs the "
    "payload mean — the codec-free stand-in for pHash's DCT-vs-median "
    "bits; a real decoder slots into the same Arrow-batched mapInPandas "
    f"seam), and pairs within Hamming distance {_PHASH_MAX_HAMMING} are "
    "near-dups. The Spark plan NEVER compares all pairs: signatures band "
    "into 4 x 8-bit tables and only band-collisions pay the exact "
    f"Hamming check — with threshold {_PHASH_MAX_HAMMING} <= bands-1 the "
    "pigeonhole guarantees a clean band for every true pair, so banding "
    "loses nothing vs the oracle's declarative all-pairs filter. One "
    "shuffle on band keys (uniform), signature extraction is one "
    "map-side Arrow pass over the rebalanced scan, checkpointed so the "
    "Python stage runs once, not once per self-join side.",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance + checkpoint: heavy Python (per-byte numpy) fuses onto the
    # scan AND the result feeds both sides of a self-join (the two
    # CLAUDE.md rebalance criteria at once)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    sigs = M.perceptual_signature(media, _PHASH_SEGMENTS).localCheckpoint(
        eager=True
    )
    bands = sigs.select(
        "media_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(sig >> {8 * b}) & 255").alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("t"),
    ).select("media_id", "sig", F.col("t.band").alias("band"), F.col("t.bkey").alias("bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .where(hamming <= _PHASH_MAX_HAMMING)
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
        .orderBy("media_a", "media_b")
    )


@register(
    "sim_ann_recall_eval",
    _recall_eval_oracle(),
    doc="ANN index-quality evaluation: per-query recall@5 of the JL "
    "random-projection index against exact brute-force cosine — the "
    "measurement loop every production ANN deployment runs before "
    "trusting an index (FAISS's recall-vs-nprobe curves). Composes the "
    "two registered queries (the Spark side calls the query fns — the "
    "projected index reuses its plan; the oracle nests their SQL), joins "
    "the two top-5 sets on (query, match) and reports hit counts in "
    "integer basis points. Scale shape: both sides are top-k-per-query "
    "frames (|queries|·k rows), so the eval join/aggregate is bounded by "
    "the query workload, never the corpus.",
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint: bf feeds BOTH the hits join and the denominator — without
    # it the full corpus×queries brute-force scoring would execute twice
    bf = (
        QUERIES["sim_topk_bruteforce"].fn(spark, sf_dir)
        .select("query_id", "match_id")
        .localCheckpoint(eager=True)
    )
    rp = QUERIES["sim_random_projection_topk"].fn(spark, sf_dir).select(
        "query_id", "match_id"
    )
    hits = bf.join(rp, ["query_id", "match_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    denom = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        denom.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.floor(
                10000.0 * F.coalesce("n_hits", F.lit(0)) / F.col("n_exact")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("query_id")
    )


@register(
    "sim_mips_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    dots AS (
      SELECT q.vec_id AS query_id, e.vec_id AS match_id,
             SUM(CAST(e.embedding[i] AS DOUBLE)
                 * CAST(q.embedding[i] AS DOUBLE)) AS dp
      FROM q JOIN embeddings e ON e.vec_id != q.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, {_DIM})) AS i) dims
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, match_id, ROUND(dp, 4) AS inner_product FROM dots
    )
    SELECT query_id, match_id, inner_product, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY inner_product DESC, match_id)
                  AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc="Exact maximum-inner-product top-5 — the recommender-serving "
    "score (user·item raw dot product, where cosine's normalization "
    "would erase popularity). Same scale shape as the cosine baseline: "
    "queries broadcast, the corpus never shuffles, per-query top-k "
    "reduces map-side. The scale path is the MIPS→cosine augmentation "
    "(operators/similarity.mips_augment, Bachrach et al. 2014): one "
    "extra dimension sqrt(M²−‖x‖²) makes every existing cosine ANN "
    "index (IVF/LSH/PQ) serve MIPS order-identically — pinned in "
    "tests/test_similarity.py; this exact scan is that path's recall "
    "baseline.",
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: same scan-fused CPU shape as sim_topk_bruteforce
    emb = _t(spark, sf_dir, "embeddings", rebalance=True)
    queries = emb.where(F.col("vec_id") < 10)
    return S.mips_topk(emb, queries, k=5).orderBy("query_id", "rnk")


@register(
    "dedup_setsim_prefix",
    f"""
    WITH {_SHINGLE_ROWS},
    shsets AS (SELECT doc_id, list(DISTINCT shingle) AS shset
               FROM sh GROUP BY doc_id)
    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
           ROUND(len(list_intersect(sa.shset, sb.shset))
                 / GREATEST(len(list_distinct(list_cat(sa.shset, sb.shset))), 1),
                 4) AS jaccard_sim
    FROM shsets sa JOIN shsets sb ON sa.doc_id < sb.doc_id
    WHERE ROUND(len(list_intersect(sa.shset, sb.shset))
                / GREATEST(len(list_distinct(list_cat(sa.shset, sb.shset))), 1),
                4) >= 0.2
    ORDER BY doc_a, doc_b
    """,
    doc="EXACT set-similarity join via prefix filtering (AllPairs/PPJoin "
    "family): unlike the LSH band join, this is lossless — every pair with "
    "true shingle Jaccard ≥ 0.2 is guaranteed out, so the oracle is the "
    "brute-force all-pairs join. The Spark plan never builds that product: "
    "docs join only where their rarest-shingle PREFIXES collide (prefix "
    "length s − ceil(t·s) + 1 under a global ascending-document-frequency "
    "order — the pigeonhole bound), with a size-ratio filter inside the "
    "join condition. Shuffles carry (doc, shingle, size) rows only; the "
    "frequent-shingle quadratic blowup of a naive share-any-token join is "
    "excluded by construction. Complements dedup_ngram_jaccard: exact "
    "recall when the dedup SLA demands it, LSH when approximate is enough.",
)
def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    return D.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", 3, threshold=0.2
    ).orderBy("doc_a", "doc_b")


@register(
    "sim_kmeans_cells",
    _kmeans_oracle(),
    doc="Trained coarse quantizer: Lloyd k-means over integer-quantized "
    "embeddings (milli-unit), k=8, 2 iterations, deterministic init (the k "
    "smallest ids) and tie-breaks (lowest cell). Replaces the per-label "
    "centroid stand-in with an actual trained clustering whose every step "
    "is exact integer arithmetic — hash-checkable cross-engine. Per "
    "iteration the corpus rides as slim (vid, pos, qx) rows, the k·dim "
    "centroid model broadcasts, distances combine map-side to one row per "
    "(vid, cell); only the model crosses the driver between iterations.",
)
def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit, _ = _coarse_model(spark, sf_dir)
    return fit.orderBy("vec_id")


@register(
    "sim_pq_adc_topk",
    f"""
    WITH {_pq_ctes()},
    dt AS (
      SELECT q.vid AS query_id, q.sub, c.cell,
             SUM((q.qx - c.qc) * (q.qx - c.qc)) AS d
      FROM q JOIN u{_PQ_ITER} c ON c.sub = q.sub AND c.pos = q.pos
      WHERE q.vid < 10
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT dt.query_id, fa.vid, SUM(dt.d) AS adc_dist
      FROM fa JOIN dt ON dt.sub = fa.sub AND dt.cell = fa.cell
      WHERE fa.vid != dt.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, vid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vid) AS arnk
        FROM scored)
      WHERE arnk <= {_PQ_RERANK}
    ),
    ex AS (
      SELECT s.query_id, s.vid,
             SUM((qv.qx - qq.qx) * (qv.qx - qq.qx)) AS qdist
      FROM short s
      JOIN q qv ON qv.vid = s.vid
      JOIN q qq ON qq.vid = s.query_id AND qq.sub = qv.sub AND qq.pos = qv.pos
      GROUP BY 1, 2
    )
    SELECT query_id, vid AS match_id, CAST(qdist AS BIGINT) AS qdist, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qdist, vid) AS rnk
      FROM ex)
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc="Product-quantization ANN with asymmetric distance (the PQ half of "
    "FAISS-style IVF-PQ, the canonical billion-scale index): 8 per-subspace "
    "16-centroid codebooks trained in ONE Lloyd dataflow (the subspace id "
    "rides as a key — no per-subspace driver loop), corpus encoded to 8 "
    "small ints per vector (32× compression of a 64-float embedding). "
    "Codes ride PACKED — one (vid, carr) row per vector, FAISS's layout. "
    "Query = per-query ADC tables computed driver-side in exact integer "
    "math (model-sized codebook × bounded query set) and shipped as ONE "
    "literal array; scoring is m array lookups + sum per (vector, query) "
    "inside whole-stage codegen — zero joins, zero aggregates, no "
    "exchange before the WindowGroupLimit top-k. The ADC top-40 is then "
    "re-ranked with the EXACT quantized squared-L2 (FAISS's refine step — "
    "a broadcast pair-set lookup of the shortlist's vectors, recovering "
    "recall@5 from ~0.28 to ~0.76 on worst-case random vectors). The "
    "corpus vectors never move after encoding. Integer-exact end-to-end — "
    "the oracle re-derives the same trained codebooks, codes, ADC "
    "distances, and re-rank.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return S.pq_adc_topk(
        emb, queries, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, topk=5,
        rerank=_PQ_RERANK,
        pq=(*_pq_model(spark, sf_dir), _pq_model_rows(spark, sf_dir)),
        packed=_packed_codes(spark, sf_dir),
        qrows=_sim_qrows(spark, sf_dir),
    ).orderBy("query_id", "rnk")


@register(
    "sim_ivfpq_topk",
    f"""
    WITH {_kmeans_ctes()},
    {_pq_ctes(p='p')},
    dq AS (
      SELECT q.vid, c.cell, SUM((q.qx - c.qc) * (q.qx - c.qc)) AS dist
      FROM q JOIN u{_KMEANS_ITER} c ON c.pos = q.pos
      WHERE q.vid < 10
      GROUP BY q.vid, c.cell
    ),
    probes AS (
      SELECT vid AS query_id, cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
                                     ORDER BY dist, cell) AS prnk
        FROM dq)
      WHERE prnk <= {_IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, f.vid
      FROM probes p JOIN fa f ON f.cell = p.cell
      WHERE f.vid != p.query_id
    ),
    dt AS (
      SELECT q.vid AS query_id, q.sub, c.cell,
             SUM((q.qx - c.qc) * (q.qx - c.qc)) AS d
      FROM pq q JOIN pu{_PQ_ITER} c ON c.sub = q.sub AND c.pos = q.pos
      WHERE q.vid < 10
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT c.query_id, c.vid, SUM(dt.d) AS adc_dist
      FROM cand c
      JOIN pfa f ON f.vid = c.vid
      JOIN dt ON dt.query_id = c.query_id AND dt.sub = f.sub
             AND dt.cell = f.cell
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, vid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vid) AS arnk
        FROM scored)
      WHERE arnk <= {_PQ_RERANK}
    ),
    ex AS (
      SELECT s.query_id, s.vid,
             SUM((qv.qx - qq.qx) * (qv.qx - qq.qx)) AS qdist
      FROM short s
      JOIN q qv ON qv.vid = s.vid
      JOIN q qq ON qq.vid = s.query_id AND qq.pos = qv.pos
      GROUP BY 1, 2
    )
    SELECT query_id, vid AS match_id, CAST(qdist AS BIGINT) AS qdist, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qdist, vid) AS rnk
      FROM ex)
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc="IVF-PQ — the composed FAISS index, end to end: trained integer "
    "k-means coarse cells are the inverted lists, stored cell-keyed with "
    "PACKED codes (vid, carr, cell_id — built once, session-cached); "
    "probe selection AND the per-query ADC tables are computed "
    "driver-side in exact integer math from the two model-sized trained "
    "tables plus the 10-query workload and ride a tiny broadcast joined "
    "on cell_id — a true inverted-list scan touching "
    f"≈nprobe/k = {_IVFPQ_NPROBE}/{_KMEANS_K} of the corpus with zero "
    "exchanges before the WindowGroupLimit shortlist — then the ADC "
    "top-40 re-ranks with exact quantized L2 over packed vectors. "
    "Integer-exact end-to-end so the oracle re-derives the identical "
    "index and result.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return S.ivfpq_topk(
        emb, queries, coarse_k=_KMEANS_K, nprobe=_IVFPQ_NPROBE, m=_PQ_M,
        k=_PQ_K, n_iter=_PQ_ITER, topk=5, rerank=_PQ_RERANK,
        index=_ivfpq_index(spark, sf_dir),
        qrows=_sim_qrows(spark, sf_dir),
    ).orderBy("query_id", "rnk")


@register(
    "dedup_embedding_cosine",
    f"""
    WITH params AS (
      SELECT LEAST({S.LSH_MAX_BITS}, GREATEST({S.LSH_MIN_BITS},
               CAST(CEIL(LOG2(GREATEST(COUNT(*) / {S.LSH_TARGET_BUCKET_SIZE}.0,
                                       2.0))) AS INT))) AS nbits
      FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    gbits AS (
      SELECT unnest(generate_series(0, {_LSH_TABLES} * nbits - 1)) AS g, nbits
      FROM params
    ),
    bits AS (
      SELECT e.vec_id, gb.g // gb.nbits AS tbl, gb.g % gb.nbits AS b,
             CASE WHEN SUM(CAST(e.embedding[d.i] AS DOUBLE)
                           * (((d.i*31 + gb.g*17) % 7) - 3)) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM embeddings e CROSS JOIN dims d CROSS JOIN gbits gb
      GROUP BY e.vec_id, gb.g, gb.nbits
    ),
    buckets AS (
      SELECT vec_id, tbl, CAST(SUM(bit << b) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, tbl
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id
    ),
    dots AS (
      SELECT p.vec_id_a, p.vec_id_b,
             SUM(CAST(ea.embedding[d.i] AS DOUBLE) * CAST(eb.embedding[d.i] AS DOUBLE)) AS dp
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.vec_id_a
      JOIN embeddings eb ON eb.vec_id = p.vec_id_b
      CROSS JOIN dims d
      GROUP BY p.vec_id_a, p.vec_id_b
    )
    SELECT vec_id_a, vec_id_b,
           ROUND(dp / (na.nrm * nb.nrm), 4) AS cosine_sim
    FROM dots
    JOIN norms na ON na.vec_id = vec_id_a
    JOIN norms nb ON nb.vec_id = vec_id_b
    WHERE ROUND(dp / (na.nrm * nb.nrm), 4) >= 0.35
    ORDER BY vec_id_a, vec_id_b
    """,
    doc="Embedding-cosine near-dup via BANDED multi-table sign-projection "
    "LSH (the vector analogue of MinHash banding): 4 independent hyperplane "
    "families, bits-per-table derived from the corpus size "
    "(≈ n / target_bucket_size buckets per table, clamped) so the bucket "
    "count GROWS with the corpus and within-bucket self-join work stays "
    "bounded at 100 TB — the fix for the fixed-256-bucket scheme whose "
    "buckets go quadratic as n grows. Candidates = collision in ANY table "
    "(tables buy recall, bits buy selectivity), then exact-cosine verify. "
    "Slim (vid, tbl, bucket) rows ride the join; the oracle derives the "
    "identical bit count from COUNT(*), so parity holds at every sf.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # bits sized from footer stats (the catalog-stats path) — no count() job
    return S.embedding_near_dup_pairs(
        emb, threshold=0.35, n_tables=_LSH_TABLES, dim=_DIM,
        n_rows=_table_row_count(sf_dir, "embeddings"),
    ).orderBy("vec_id_a", "vec_id_b")


@register(
    "dedup_semantic",
    f"""
    WITH {_kmeans_ctes(k=_SEMANTIC_K)},
    dims AS (SELECT unnest(generate_series(1, {_DIM})) AS i),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vid AS id_a, b.vid AS id_b, b.cell
      FROM fa a JOIN fa b ON a.cell = b.cell AND a.vid < b.vid
    ),
    dots AS (
      SELECT p.id_a, p.id_b, p.cell,
             SUM(CAST(ea.embedding[d.i] AS DOUBLE)
                 * CAST(eb.embedding[d.i] AS DOUBLE)) AS dp
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.id_a
      JOIN embeddings eb ON eb.vec_id = p.id_b
      CROSS JOIN dims d
      GROUP BY 1, 2, 3
    ),
    sims AS (
      SELECT id_a, id_b, cell, ROUND(dp / (na.nrm * nb.nrm), 4) AS cs
      FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE ROUND(dp / (na.nrm * nb.nrm), 4) >= 0.35
    )
    SELECT id_b AS vec_id, cell AS cell_id, id_a AS dup_of, cs AS cosine_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
          FROM sims)
    WHERE rn = 1
    ORDER BY vec_id
    """,
    doc="Semantic dedup (SemDeDup-style): trained quantized-k-means cells, "
    "EXACT cosine restricted to cell-mates, keep-first-occurrence rule "
    "(duplicate ⇐ a smaller-id cell-mate matches at ≥ τ; dup_of = the "
    "smallest such). One corpus shuffle on cell_id; quadratic work only "
    "within a cell, and k grows with the corpus so cell sizes stay bounded "
    "— the SemDeDup answer to all-pairs cosine at 100 TB. Complements "
    "dedup_embedding_cosine: LSH banding recalls by random hyperplanes, "
    "semantic cells recall by the trained cluster structure.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    fit, _ = _coarse_model(spark, sf_dir, k=_SEMANTIC_K)
    return S.semantic_dedup(
        emb, k=_SEMANTIC_K, n_iter=_KMEANS_ITER, threshold=0.35, fit=fit
    ).orderBy("vec_id")


# --- similarity range search -------------------------------------------------

_RADIUS_TAU = 0.32


@register(
    "sim_radius_search",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    dots AS (
      SELECT q.vec_id AS query_id, e.vec_id AS match_id,
             SUM(CAST(e.embedding[i] AS DOUBLE)
                 * CAST(q.embedding[i] AS DOUBLE)) AS dp
      FROM q JOIN embeddings e ON e.vec_id != q.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, match_id,
             ROUND(dp / (nq.nrm * nm.nrm), 4) AS cosine_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nm ON nm.vec_id = match_id
    )
    SELECT query_id, match_id, cosine_sim
    FROM scored
    WHERE cosine_sim >= CAST({_RADIUS_TAU!r} AS DOUBLE)
    ORDER BY query_id, cosine_sim DESC, match_id
    """,
    doc="Cosine RANGE search (radius query): every corpus vector within "
    f"cosine ≥ {_RADIUS_TAU} of each query — the threshold dual of "
    "top-k (top-k answers 'k nearest whatever the quality'; radius "
    "answers 'everything above the quality bar', the shape retrieval "
    "filters and dedup candidate generation actually want). Exact "
    "brute-force tier: queries broadcast, corpus scored map-side with "
    "zip_with/aggregate dot products (JVM, no UDF), NO top-k window — "
    "the threshold filter is map-side too, so the only exchange is the "
    "output sort; the cell-probed tier for selective radii is "
    "sim_kmeans_cells' assignment reused as a pre-filter. Threshold "
    "compares the ROUNDED 4-dp cosine via a python-repr'd CAST-AS-"
    "DOUBLE literal (the decimal-vs-double trap), so boundary "
    "membership is identical across engines.",
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: every corpus row does 10 dot products map-side with no
    # exchange before the threshold filter (the brute-force-topk shape)
    emb = _t(spark, sf_dir, "embeddings", rebalance=True)
    queries = emb.where(F.col("vec_id") < 10)
    return S.brute_force_radius(emb, queries, tau=_RADIUS_TAU).orderBy(
        "query_id", F.col("cosine_sim").desc(), "match_id"
    )


# --- hard negatives, centroid classifier eval, normalized dedup -------------


@register(
    "sim_hard_negatives",
    """
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings
               WHERE vec_id < 10),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    dots AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             e.vec_id AS match_id, e.label AS match_label,
             SUM(CAST(e.embedding[i] AS DOUBLE)
                 * CAST(q.embedding[i] AS DOUBLE)) AS dp
      FROM q JOIN embeddings e
        ON e.vec_id != q.vec_id AND e.label != q.label
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
             match_id, CAST(match_label AS BIGINT) AS match_label,
             ROUND(dp / (nq.nrm * nm.nrm), 4) AS cosine_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nm ON nm.vec_id = match_id
    )
    SELECT query_id, query_label, match_id, match_label, cosine_sim, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, match_id)
                  AS rnk
      FROM scored
    ) WHERE rnk <= 3
    ORDER BY query_id, rnk
    """,
    doc="Exact hard-negative mining: per query, the top-3 most similar "
    "corpus vectors with a DIFFERENT label — the contrastive-training "
    "data miner (high-similarity wrong-label neighbours are the "
    "negatives a contrastive/reranker objective learns most from; "
    "random negatives are too easy). Same broadcast-scorer scale shape "
    "as the cosine baseline: queries broadcast WITH their labels, the "
    "corpus never shuffles, the label-mismatch filter is map-side, "
    "per-query top-k reduces through the rank window. The ANN tier "
    "serves the same mining at scale by probing the trained IVF cells "
    "and post-filtering labels.",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: same scan-fused CPU shape as sim_topk_bruteforce
    emb = _t(spark, sf_dir, "embeddings", rebalance=True)
    queries = emb.where(F.col("vec_id") < 10)
    return (
        S.hard_negative_topk(emb, queries, k=3)
        .select(
            "query_id",
            F.col("query_label").cast("long").alias("query_label"),
            "match_id",
            F.col("match_label").cast("long").alias("match_label"),
            "cosine_sim",
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


_CC_LABELS = 16  # argmin encoding base: labels are 0-9, strictly < 16


@register(
    "sim_centroid_confusion",
    f"""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    qr AS (
      SELECT vec_id, label, i.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings CROSS JOIN dims i
    ),
    cents AS (
      SELECT label AS clabel, pos,
             CAST(FLOOR((2 * SUM(qx) + COUNT(*)) / (2.0 * COUNT(*)))
                  AS BIGINT) AS qc
      FROM qr GROUP BY 1, 2
    ),
    d AS (
      SELECT q.vec_id, q.label, c.clabel,
             SUM((q.qx - c.qc) * (q.qx - c.qc)) AS dist
      FROM qr q JOIN cents c ON c.pos = q.pos
      GROUP BY 1, 2, 3
    ),
    am AS (
      SELECT vec_id, label, MIN(dist * {_CC_LABELS} + clabel) AS m
      FROM d GROUP BY 1, 2
    ),
    pred AS (
      SELECT CAST(label AS BIGINT) AS true_label,
             CAST(m % {_CC_LABELS} AS BIGINT) AS predicted_label
      FROM am
    ),
    cells AS (
      SELECT true_label, predicted_label, COUNT(*) AS n_vecs
      FROM pred GROUP BY 1, 2
    ),
    rt AS (SELECT true_label, SUM(n_vecs) AS n_true FROM cells GROUP BY 1)
    SELECT c.true_label, c.predicted_label,
           CAST(c.n_vecs AS BIGINT) AS n_vecs,
           CAST((20000 * c.n_vecs + rt.n_true) // (2 * rt.n_true)
                AS BIGINT) AS row_share_bp
    FROM cells c JOIN rt USING (true_label)
    ORDER BY true_label, predicted_label
    """,
    doc="Nearest-centroid classifier confusion matrix over the embedding "
    "labels — the embedding-space analogue of text_langid_confusion and "
    "the cheapest label-quality audit (a mislabeled or drifted slice "
    "shows up as off-diagonal mass before any model training): each "
    "vector is assigned to its nearest per-label centroid and the "
    "(true, predicted) cells report resubstitution counts with "
    "row-share bp (the diagonal is per-label separability). EXACT "
    "integer end-to-end via the repo's quantized-arithmetic discipline: "
    "milli-unit components (floor(x·1000+0.5)), centroid means by the "
    "half-up identity floor((2Σ+n)/(2·n)) computed through one IEEE "
    "double division (identical both engines, floors correctly for "
    "NEGATIVE sums — the distributed form of the driver-side Lloyd "
    "rounding), squared-L2 in exact longs, and the argmin as ONE "
    f"primitive long aggregate min(dist·{_CC_LABELS} + label) decoded "
    "by modulus (the _argmin_cell pattern — lexicographic (dist, label) "
    "because label < 16, HashAggregate guaranteed). Shuffles carry "
    "(label, dim) sums and per-vector distance rows, never raw vectors "
    "to a window.",
)
def sim_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qr = S.quantized_vector_rows(emb)
    lab = emb.select(F.col("vec_id").alias("vid"), "label")
    qrl = qr.join(_bcast_if_small(lab, sf_dir, "embeddings"), "vid")
    qrl = qrl.localCheckpoint(eager=True)  # read twice: centroids + dists
    centq = (
        qrl.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "clabel",
            "pos",
            F.floor(
                (2 * F.col("s") + F.col("n")) / (2.0 * F.col("n"))
            )
            .cast("long")
            .alias("qc"),
        )
    )
    d = (
        qrl.join(F.broadcast(centq), "pos")
        .groupBy("vid", "label", "clabel")
        .agg(
            F.sum(
                (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
            ).alias("dist")
        )
    )
    am = d.groupBy("vid", "label").agg(
        F.min(F.col("dist") * _CC_LABELS + F.col("clabel")).alias("m")
    )
    pred = am.select(
        F.col("label").cast("long").alias("true_label"),
        (F.col("m") % _CC_LABELS).cast("long").alias("predicted_label"),
    )
    cells = pred.groupBy("true_label", "predicted_label").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    rowt = cells.groupBy("true_label").agg(F.sum("n_vecs").alias("n_true"))
    return (
        cells.join(F.broadcast(rowt), "true_label")
        .select(
            "true_label",
            "predicted_label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.expr("(20000 * n_vecs + n_true) div (2 * n_true)")
            .cast("long")
            .alias("row_share_bp"),
        )
        .orderBy("true_label", "predicted_label")
    )


@register(
    "dedup_exact_normalized",
    """
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                 '\\s+', ' ', 'g'))) AS nmd5,
             md5(text) AS rmd5
      FROM documents
    ),
    g AS (
      SELECT nmd5,
             COUNT(*) AS n_docs,
             MIN(doc_id) AS keep_doc_id,
             MAX(doc_id) AS max_doc_id,
             COUNT(DISTINCT rmd5) AS n_raw_variants
      FROM norm GROUP BY nmd5 HAVING COUNT(*) >= 2
    )
    SELECT keep_doc_id, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_raw_variants AS BIGINT) AS n_raw_variants,
           max_doc_id
    FROM g ORDER BY keep_doc_id
    """,
    doc="Normalization-aware exact dedup — the 'fuzzy-exact' tier between "
    "raw-hash dedup and MinHash: documents hash AFTER lowercasing, "
    "punctuation stripping, and whitespace collapsing, so trivially "
    "perturbed mirrors (case changes, reflowed whitespace, stripped "
    "markup punctuation) collapse into one group that raw md5 misses — "
    "n_raw_variants > 1 on a group is exactly the set this tier catches "
    "(the standard C4/RefinedWeb normalization step before expensive "
    "near-dup passes). Map-side normalize+hash projection, one "
    "hash-keyed aggregate; shuffles carry 32-byte hashes; keep-rule is "
    "min doc_id, the repo's deterministic keeper convention.",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), r"[^a-z0-9\s]", ""
                    ),
                    r"\s+",
                    " ",
                )
            )
        ).alias("nmd5"),
        F.md5(F.col("text")).alias("rmd5"),
    )
    g = (
        norm.groupBy("nmd5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.countDistinct("rmd5").alias("n_raw_variants"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return g.select(
        "keep_doc_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_raw_variants").cast("long").alias("n_raw_variants"),
        "max_doc_id",
    ).orderBy("keep_doc_id")


_PI_ROUNDS = 3
_PI_SCALE = 100000  # loading resolution (1e5)
_PI_QUANT = 10000  # embedding component quantization (1e4)


def _pi_round_sql(i: int) -> str:
    prev = f"v{i - 1}"
    return f"""
    y{i} AS (
      SELECT g.d1 AS d, SUM(g.gv * v.v) AS y
      FROM gram g JOIN {prev} v ON v.d = g.d2
      GROUP BY 1
    ),
    m{i} AS (SELECT MAX(ABS(y)) AS m FROM y{i}),
    v{i} AS (
      SELECT d,
             (y + (SELECT m FROM m{i}))
               // ((SELECT m FROM m{i}) // {_PI_SCALE}) - {_PI_SCALE} AS v
      FROM y{i}
    )"""


@register(
    "sim_pca_power_iteration",
    f"""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    eq AS (
      SELECT e.vec_id, i.i AS d,
             CAST(FLOOR(CAST(e.embedding[i.i] AS DOUBLE) * {_PI_QUANT}
                        + 0.5) AS BIGINT) AS q
      FROM embeddings e CROSS JOIN dims i
    ),
    gram AS (
      SELECT a.d AS d1, b.d AS d2, SUM(a.q * b.q) AS gv
      FROM eq a JOIN eq b ON b.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    v0 AS (SELECT i AS d, {_PI_SCALE} AS v FROM dims),
    {",".join(_pi_round_sql(i) for i in range(1, _PI_ROUNDS + 1))}
    SELECT d - 1 AS dim, CAST(v AS BIGINT) AS loading_e5
    FROM v{_PI_ROUNDS} ORDER BY dim
    """,
    doc="Top principal direction of the embedding matrix by matrix-free "
    f"power iteration ({_PI_ROUNDS} rounds) — the embedding-space QA "
    "primitive behind anisotropy checks and whitening (a space whose "
    "top direction hoards the mass retrieves badly; compare "
    "agg_magnitude_histogram). Components quantize ONCE to exact "
    f"integer 1e-4 units, the 64×64 GRAM MATRIX reduces in a single "
    "corpus pass (per-row transform² explodes 4096 (d,d',q·q) terms "
    "that combine map-side — the wire carries ≤ dim² rows per "
    "partition, never the corpus), and every iteration is a "
    "dim²-bounded join-aggregate: y = G·v in pure long arithmetic "
    "(|q|≤6k, |v|≤1.1e5 ⇒ |y| < 64·|G|max·1.1e5, within int64 through "
    "sf1). Per-round renormalization divides by the driver-collected "
    "max|y| with the POSITIVITY SHIFT (y+M) div (M div 1e5) − 1e5 — "
    "y is signed and Spark div truncates where DuckDB // floors, so "
    "the shift keeps every numerator positive (CLAUDE.md trap). "
    "Uncentered PCA (top right-singular direction of the raw matrix); "
    "deterministic all-ones start, sign fixed by the iteration itself.",
)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings", rebalance=True)
    gram = (
        emb.select(
            F.expr(
                f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
                f" * {_PI_QUANT} + 0.5) AS BIGINT))"
            ).alias("qa")
        )
        .select(
            F.expr(
                "explode(flatten(transform(qa, (x1, i1) ->"
                " transform(qa, (x2, i2) ->"
                " struct(i1 + 1 AS d1, i2 + 1 AS d2, x1 * x2 AS p)))))"
            ).alias("t")
        )
        .groupBy(F.col("t.d1").alias("d1"), F.col("t.d2").alias("d2"))
        .agg(F.sum("t.p").alias("gv"))
        .localCheckpoint(eager=True)  # dim^2 rows; read every round
    )
    # 64-row loading frame, broadcast to every round's join
    rows = [(i, _PI_SCALE) for i in range(1, 65)]
    vdim = gram.sparkSession.createDataFrame(rows, "d INT, v LONG")
    for _ in range(_PI_ROUNDS):
        y = (
            gram.join(F.broadcast(vdim), vdim.d == gram.d2)
            .groupBy(F.col("d1").alias("dd"))
            .agg(F.sum(F.col("gv") * F.col("v")).alias("y"))
        ).localCheckpoint(eager=True)  # 64 rows
        m = int(y.agg(F.max(F.abs(F.col("y"))).alias("m")).first()["m"])
        assert m >= _PI_SCALE, "degenerate embedding matrix"
        # exact long arithmetic end to end: (y+M) div (M div 1e5) - 1e5 —
        # a double quotient here would lose ulps above 2^53 and drift
        # from the oracle's integer //
        vdim = y.select(
            F.col("dd").alias("d"),
            F.expr(f"((y + {m}L) div {m // _PI_SCALE}L) - {_PI_SCALE}")
            .cast("long")
            .alias("v"),
        )
    return vdim.select(
        (F.col("d") - 1).cast("long").alias("dim"),
        F.col("v").cast("long").alias("loading_e5"),
    ).orderBy("dim")


# --- edit-distance approximate join (deletion-neighborhood blocking) --------


@register(
    "dedup_deletion_neighborhood",
    """
    WITH w AS (
      SELECT unnest(string_split(p_name, ' ')) AS word FROM part
    ),
    freq AS (SELECT word, COUNT(*) AS n_parts FROM w GROUP BY 1),
    vars AS (
      SELECT DISTINCT word,
             unnest(list_prepend(word, list_transform(
               range(1, length(word) + 1),
               i -> substr(word, 1, i - 1) || substr(word, i + 1)
             ))) AS variant
      FROM freq
    ),
    cand AS (
      SELECT DISTINCT a.word AS word_a, b.word AS word_b
      FROM vars a JOIN vars b
        ON a.variant = b.variant AND a.word < b.word
    )
    SELECT word_a, word_b,
           CAST(levenshtein(word_a, word_b) AS BIGINT) AS edit_dist,
           CAST(fa.n_parts AS BIGINT) AS n_parts_a,
           CAST(fb.n_parts AS BIGINT) AS n_parts_b
    FROM cand
    JOIN freq fa ON fa.word = word_a
    JOIN freq fb ON fb.word = word_b
    WHERE levenshtein(word_a, word_b) <= 1
    ORDER BY word_a, word_b
    """,
    doc="Edit-distance-1 approximate JOIN over the part-name vocabulary "
    "via deletion-neighborhood blocking (the FastSS scheme): every word "
    "generates itself + its single-character-deletion variants, and two "
    "words are within edit distance 1 only if their variant sets "
    "intersect — so the candidate generator is a plain EQUI-join on "
    "variant strings, exact-recall by construction, with an exact "
    "levenshtein verify pass killing the scheme's false positives "
    "(transposition-like pairs such as 'ab'/'ba' share a variant at "
    "distance 2). Complements dedup_levenshtein, which verifies "
    "MinHash-LSH candidates: LSH recall is probabilistic, the deletion "
    "neighborhood is lossless for distance <= 1 — the vocabulary-typo "
    "mining pass of a corpus-cleaning pipeline. At 100 TB everything is "
    "bounded by VOCABULARY, not corpus: word counts combine map-side; "
    "variants are <= vocab x (maxlen+1) slim strings; the self-join keys "
    "on variant (gate-asserted bounds). The quadratic all-pairs "
    "levenshtein this avoids is the scale mistake.",
)
def dedup_deletion_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    words = part.select(
        F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_parts"))
    freq = freq.localCheckpoint(eager=False)  # read 3x: variants + 2 probes
    variants = freq.select(
        "word",
        F.explode(
            F.concat(
                F.array(F.col("word")),
                F.expr(
                    "transform(sequence(1, length(word)), i ->"
                    " concat(substring(word, 1, i - 1), substring(word, i + 1)))"
                ),
            )
        ).alias("variant"),
    ).distinct()
    a = variants.select(F.col("word").alias("word_a"), "variant")
    b = variants.select(F.col("word").alias("word_b"), "variant")
    cand = (
        a.join(b, "variant")
        .where(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
    )
    fa = freq.select(
        F.col("word").alias("word_a"), F.col("n_parts").alias("na")
    )
    fb = freq.select(
        F.col("word").alias("word_b"), F.col("n_parts").alias("nb")
    )
    lev = F.levenshtein("word_a", "word_b")
    return (
        cand.where(lev <= 1)
        .join(fa, "word_a")
        .join(fb, "word_b")
        .select(
            "word_a",
            "word_b",
            lev.cast("long").alias("edit_dist"),
            F.col("na").cast("long").alias("n_parts_a"),
            F.col("nb").cast("long").alias("n_parts_b"),
        )
        .orderBy("word_a", "word_b")
    )


# --- Gram-free intra-class embedding cohesion -------------------------------


@register(
    "sim_intra_class_cohesion",
    """
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)
      GROUP BY 1, 2
    ),
    dims AS (
      SELECT e.label, i.pos,
             SUM(CAST(e.embedding[i.pos] AS DOUBLE) / n.nrm) AS s
      FROM embeddings e
      JOIN norms n ON n.vec_id = e.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) i
      GROUP BY 1, 2
    ),
    per_label AS (
      SELECT d.label, SUM(d.s * d.s) AS ss, MAX(c.n) AS n
      FROM dims d
      JOIN (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1) c
        ON c.label = d.label
      GROUP BY 1
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(n AS BIGINT) AS n_vectors,
           ROUND((ss - n) / (n * (n - 1)), 4) AS avg_cos
    FROM per_label WHERE n >= 2
    ORDER BY label
    """,
    doc="Average pairwise cosine similarity WITHIN each label — the "
    "cluster-tightness eval that tells you whether an embedding space "
    "separates classes before trusting it for SemDeDup or retrieval — "
    "computed WITHOUT materializing any pair: for unit-normalized "
    "vectors, sum of all pairwise dots = ||Σ v̂||² − n, so avg pairwise "
    "cos = (||Σ v̂||² − n)/(n(n−1)). ONE corpus pass: per-vector norms "
    "(map-side HOF), then a (label, dim)-keyed sum — the only exchanges "
    "carry |labels| × 64 partial sums and |labels| count rows, never "
    "vectors or pairs. The naive all-pairs cosine this replaces is "
    "O(n²·dim) and the 100 TB mistake; the identity is exact, not a "
    "sample.",
)
def sim_intra_class_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # Project the norm ONCE per row before the generate (CLAUDE.md:
    # expressions referenced >1x must be materialized columns) — a norm
    # aggregate inlined in a transform lambda re-evaluates the 64-element
    # sum per ELEMENT, ~64x the work on the only data-scaled stage.
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    dims = (
        emb.select("label", nrm.alias("nrm"), "embedding")
        .select(
            "label",
            "nrm",
            F.posexplode("embedding").alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(F.sum(F.col("x").cast("double") / F.col("nrm")).alias("s"))
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    per_label = (
        dims.groupBy("label")
        .agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
        .join(counts, "label")
        .where(F.col("n") >= 2)
    )
    return per_label.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").cast("long").alias("n_vectors"),
        F.round(
            (F.col("ss") - F.col("n")) / (F.col("n") * (F.col("n") - 1)), 4
        ).alias("avg_cos"),
    ).orderBy("label")


# --- between-class centroid separation (pairs with the cohesion op) ---------


@register(
    "sim_class_separation",
    """
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)
      GROUP BY 1, 2
    ),
    dims AS (
      SELECT e.label, i.pos,
             SUM(CAST(e.embedding[i.pos] AS DOUBLE) / n.nrm) AS s
      FROM embeddings e
      JOIN norms n ON n.vec_id = e.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) i
      GROUP BY 1, 2
    ),
    mag AS (SELECT label, sqrt(SUM(s * s)) AS m FROM dims GROUP BY 1)
    SELECT CAST(a.label AS BIGINT) AS label_a,
           CAST(b.label AS BIGINT) AS label_b,
           ROUND(SUM(a.s * b.s) / (ma.m * mb.m), 4) AS centroid_cos
    FROM dims a
    JOIN dims b ON b.pos = a.pos AND a.label < b.label
    JOIN mag ma ON ma.label = a.label
    JOIN mag mb ON mb.label = b.label
    GROUP BY a.label, b.label, ma.m, mb.m
    ORDER BY label_a, label_b
    """,
    doc="Between-class separation: cosine between every pair of label "
    "centroids over UNIT-NORMALIZED vectors — read together with "
    "sim_intra_class_cohesion it is the Fisher-style within/between "
    "split that says whether the space separates classes (high cohesion "
    "+ low centroid cosine = separable). Cosine is scale-invariant, so "
    "the per-label normalized SUM vector stands in for the mean and no "
    "count division happens at all. Same one-corpus-pass shape as the "
    "cohesion op: (label, dim)-keyed partial sums are the only "
    "data-scaled exchange; the pair join runs on |labels|x64 rows and "
    "emits C(|labels|,2) rows. Naive pairwise between-class cosine is "
    "O(n²·dim); this is exact and corpus-linear.",
)
def sim_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    dims = (
        emb.select("label", nrm.alias("nrm"), "embedding")
        .select("label", "nrm", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum(F.col("x").cast("double") / F.col("nrm")).alias("s"))
        .localCheckpoint(eager=True)  # |labels| x 64 rows; read 3x below
    )
    mag = dims.groupBy("label").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("m")
    )
    a = dims.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = dims.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    ma = mag.select(F.col("label").alias("label_a"), F.col("m").alias("ma"))
    mb = mag.select(F.col("label").alias("label_b"), F.col("m").alias("mb"))
    return (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
        .join(ma, "label_a")
        .join(mb, "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            F.round(F.col("dot") / (F.col("ma") * F.col("mb")), 4).alias(
                "centroid_cos"
            ),
        )
        .orderBy("label_a", "label_b")
    )


# --- LSH recall curve against the exact-recall ground truth -----------------


@register(
    "dedup_lsh_recall_eval",
    f"""
    WITH {_SHINGLE_ROWS},
    shsets AS (SELECT doc_id, list(DISTINCT shingle) AS shset
               FROM sh GROUP BY doc_id),
    truth AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
             ROUND(len(list_intersect(sa.shset, sb.shset))
                   / GREATEST(len(list_distinct(
                       list_cat(sa.shset, sb.shset))), 1), 4) AS jaccard_sim
      FROM shsets sa JOIN shsets sb ON sa.doc_id < sb.doc_id
      WHERE ROUND(len(list_intersect(sa.shset, sb.shset))
                  / GREATEST(len(list_distinct(
                      list_cat(sa.shset, sb.shset))), 1), 4)
            >= CAST(0.2 AS DOUBLE)
    ),
    lsh AS (
      SELECT DISTINCT doc_a, doc_b
      FROM ({_minhash_lsh_oracle().rsplit("ORDER BY", 1)[0]})
    ),
    flagged AS (
      SELECT t.jaccard_sim,
             CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM truth t
      LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    ),
    th AS (SELECT unnest([CAST(0.2 AS DOUBLE), CAST(0.4 AS DOUBLE),
                          CAST(0.6 AS DOUBLE), CAST(0.8 AS DOUBLE)])
             AS threshold)
    SELECT th.threshold,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(f.hit) AS BIGINT) AS n_lsh_found,
           CAST((20000 * SUM(f.hit) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS recall_bp
    FROM flagged f CROSS JOIN th
    WHERE f.jaccard_sim >= th.threshold
    GROUP BY 1 ORDER BY 1
    """,
    doc="Empirical recall curve of the MinHash-LSH candidate generator "
    "against the EXACT-recall ground truth (the prefix-filter set-"
    "similarity join, lossless for Jaccard ≥ 0.2): at each true-"
    "similarity threshold, what share of truly-similar pairs did the "
    "4-band×2-row banding surface? The index-quality eval the dedup "
    "family was missing — sim_ann_recall_eval plays this role for the "
    "ANN indexes — and the empirical counterpart of the theoretical "
    "S-curve 1−(1−s²)⁴: recall must RISE with similarity, which the "
    "output makes measurable per threshold. Both sides are existing "
    "bounded pipelines (banded equi-join; prefix-filter join); the eval "
    "adds one pair-keyed left join on the truth frame and a 4-element "
    "threshold EXPLODE (never a row-multiplying cross join on Spark's "
    "side), so its cost is the two generators it audits. Thresholds "
    "compare ROUND(·,4) doubles to exact double literals — identical "
    "constants on both engines (the CLAUDE.md decimal-literal trap).",
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: both generators checkpoint pre-exchange shingle frames
    # (the CLAUDE.md second criterion, same as their standalone entries)
    docs = _t(spark, sf_dir, "documents", rebalance=True)
    truth = D.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", 3, threshold=0.2
    ).select("doc_a", "doc_b", "jaccard_sim")
    lsh = (
        D.minhash_lsh_candidate_pairs(docs, "text", "doc_id", 3, 2)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    flagged = truth.join(lsh, ["doc_a", "doc_b"], "left").select(
        "jaccard_sim", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
    )
    fan = flagged.select(
        "jaccard_sim",
        "hit",
        F.explode(
            F.array(*[F.lit(t) for t in (0.2, 0.4, 0.6, 0.8)])
        ).alias("threshold"),
    ).where(F.col("jaccard_sim") >= F.col("threshold"))
    return (
        fan.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum("hit").cast("long").alias("n_lsh_found"),
            F.expr("(20000 * sum(hit) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("threshold")
    )


@register(
    "sim_knn_label_eval",
    f"""
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0
    ),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    dots AS (
      SELECT q.vec_id AS query_id, e.vec_id AS match_id,
             SUM(CAST(e.embedding[i] AS DOUBLE)
                 * CAST(q.embedding[i] AS DOUBLE)) AS dp
      FROM q JOIN embeddings e ON e.vec_id != q.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, match_id,
             ROUND(dp / (nq.nrm * nm.nrm), 4) AS cosine_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nm ON nm.vec_id = match_id
    ),
    topn AS (
      SELECT query_id, match_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, match_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS v
      FROM topn t JOIN embeddings e ON e.vec_id = t.match_id
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT query_id,
             1023 - MAX(v * 1024 + (1023 - label)) % 1024 AS pred_label
      FROM votes GROUP BY 1
    )
    SELECT q.label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((20000 * SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0
                             END) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS accuracy_bp
    FROM pred p JOIN q ON q.vec_id = p.query_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="Leave-one-out 5-NN label-prediction accuracy per class — the "
    "embedding-quality eval a retrieval pipeline runs before trusting a "
    "space for dedup or clustering (labels that 5-NN can't recover mean "
    "cosine neighborhoods don't respect the class structure; compare "
    "sim_centroid_confusion's linear baseline). Query set is the "
    "deterministic vec_id%5 sample (bounded at any corpus size); "
    "scoring reuses brute_force_topk — broadcast queries, corpus never "
    "shuffles, per-query WindowGroupLimit top-5 with the established "
    "ROUND(cos,4)/match-id tiebreak. Majority vote is the encode-decode "
    "argmax (votes·1024 + (1023−label)); the label ∈ [0, 1024) capacity "
    "that decode correctness rests on is ASSERTED via one slim "
    "column-pruned agg on the labels frame (ADVICE r10 — an out-of-range "
    "label would decode the wrong prediction identically on both "
    "engines, invisible to the oracle), so vote ties break to the "
    "smallest label identically on both engines; per-class accuracy in "
    "half-up bp over positive counts.",
)
def sim_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings", rebalance=True)
    queries = emb.where(F.col("vec_id") % 5 == 0)
    top = S.brute_force_topk(emb, queries, k=5).select("query_id", "match_id")
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    # Encode capacity (asserted, not narrated — mirrors the changepoint
    # guard): labels outside [0, 1024) would silently decode a wrong
    # pred_label on BOTH engines. One slim 2-column scan.
    lab = labels.agg(F.min("label").alias("lo"), F.max("label").alias("hi")).first()
    assert lab["lo"] is None or (0 <= int(lab["lo"]) and int(lab["hi"]) < 1024), (
        "knn vote encode supports labels in [0, 1024)"
    )
    votes = (
        top.join(labels, top.match_id == labels.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    pred = votes.groupBy("query_id").agg(
        (F.lit(1023) - F.max(F.expr("v * 1024 + (1023 - label)")) % 1024).alias(
            "pred_label"
        )
    )
    truth = queries.select(F.col("vec_id").alias("qid"), F.col("label").alias("tl"))
    return (
        pred.join(truth, pred.query_id == truth.qid)
        .groupBy(F.col("tl").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(F.when(F.col("pred_label") == F.col("tl"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "(20000 * sum(CASE WHEN pred_label = tl THEN 1 ELSE 0 END)"
                " + count(*)) div (2 * count(*))"
            )
            .cast("long")
            .alias("accuracy_bp"),
        )
        .orderBy("label")
    )


# --- simplified-silhouette eval of the trained k-means partition ------------

@register(
    "sim_silhouette_eval",
    f"""
    WITH {_kmeans_ctes()},
    b AS (
      SELECT fd.vid, MIN(fd.dist) AS b
      FROM fd JOIN fa ON fa.vid = fd.vid
      WHERE fd.cell <> fa.cell
      GROUP BY fd.vid
    ),
    s AS (
      SELECT fa.cell,
             (2000 * (b.b - fa.dist) + GREATEST(b.b, fa.dist, 1))
               // (2 * GREATEST(b.b, fa.dist, 1)) AS s_milli
      FROM fa JOIN b ON b.vid = fa.vid
    )
    SELECT CAST(cell AS BIGINT) AS cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST((2 * SUM(s_milli) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS mean_silhouette_milli,
           CAST(SUM(CASE WHEN s_milli < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boundary
    FROM s GROUP BY cell
    ORDER BY cell_id
    """,
    doc="Simplified-silhouette quality of the TRAINED k-means partition "
    "(Hruschka et al.'s centroid variant): per vector, a = squared "
    "distance to its own (argmin) centroid, b = min squared distance to "
    "any OTHER centroid, s = (b−a)/max(a,b) in half-up milli-units — "
    "s ≈ 0 flags boundary vectors (ambiguous cells, the IVF recall "
    "risk), s → 1000 means well-separated cells. Completes the "
    "index-quality dashboard: the recall evals (sim_ann_recall_eval, "
    "dedup_lsh_recall_eval) score RETRIEVAL against exact ground truth; "
    "this row scores the PARTITION the IVF index routes through, per "
    "cell (a cell with many boundary vectors wants a higher nprobe — "
    "read next to sim_nprobe_recall_sweep). O(corpus × k): the distance "
    "frame is the SAME broadcast-join shape as the assignment pass "
    "(centroids are model literals; the corpus never shuffles), b is "
    "one vid-keyed aggregate over the k-bounded frame, and because the "
    "assignment IS the argmin, b ≥ a always — every term is "
    "non-negative exact integer (quantized milli-space, the trained "
    "model's own metric; GREATEST(...,1) guards the degenerate "
    "point-equals-two-centroids zero). Reuses the session-cached "
    "trained model (plans.llm_pipeline._coarse_model) and the SAME "
    "Lloyd CTE chain as the certified sim_kmeans_cells oracle.",
)
def sim_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import similarity as S

    fit, cents = _coarse_model(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = S.quantized_vector_rows(emb)
    fd = (
        q.join(F.broadcast(cents), "pos")
        .groupBy("vid", "cell")
        .agg(
            F.sum(
                (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
            ).alias("dist")
        )
    )
    own = fit.select(
        F.col("vec_id").alias("vid"),
        F.col("cell_id").alias("own_cell"),
        F.col("dist").alias("a"),
    )
    b = (
        fd.join(own.select("vid", "own_cell"), "vid")
        .where(F.col("cell") != F.col("own_cell"))
        .groupBy("vid")
        .agg(F.min("dist").alias("b"))
    )
    s = own.join(b, "vid").select(
        F.col("own_cell").alias("cell"),
        F.expr(
            "(2000 * (b - a) + GREATEST(b, a, 1))"
            " div (2 * GREATEST(b, a, 1))"
        ).alias("s_milli"),
    )
    return (
        s.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s_milli").alias("ssum"),
            F.sum(F.when(F.col("s_milli") < 100, 1).otherwise(0)).alias(
                "nb"
            ),
        )
        .select(
            F.col("cell").cast("long").alias("cell_id"),
            F.col("n").cast("long").alias("n_vectors"),
            F.expr("(2 * ssum + n) div (2 * n)")
            .cast("long")
            .alias("mean_silhouette_milli"),
            F.col("nb").cast("long").alias("n_boundary"),
        )
        .orderBy("cell_id")
    )


# --- PQ codebook distortion eval (sibling of the silhouette row) ------------


@register(
    "sim_pq_distortion_eval",
    """
    WITH {PQ_CTES},
    dm AS (SELECT vid, sub, MIN(dist) AS d FROM fd GROUP BY 1, 2),
    en AS (SELECT sub, SUM(CAST(qx AS HUGEINT) * qx) AS e FROM q GROUP BY 1),
    ds AS (
      SELECT sub, COUNT(*) AS n, SUM(CAST(d AS HUGEINT)) AS sd,
             MAX(d) AS mx
      FROM dm GROUP BY 1
    )
    SELECT CAST(ds.sub AS BIGINT) AS sub,
           CAST(ds.n AS BIGINT) AS n_vectors,
           CAST((2 * ds.sd + ds.n) // (2 * ds.n) AS BIGINT)
             AS mean_distortion,
           CAST(ds.mx AS BIGINT) AS max_distortion,
           CAST((2 * 10000::HUGEINT * ds.sd + en.e) // (2 * en.e)
             AS BIGINT) AS err_bp
    FROM ds JOIN en USING (sub)
    WHERE en.e > 0
    ORDER BY sub
    """.replace("{PQ_CTES}", _pq_ctes().strip()),
    doc="Per-subspace quantization distortion of the trained PQ codebook: "
    "mean/max squared error between each vector's subspace components "
    "and its NEAREST codeword (the assignment distance, so no code "
    "unpacking needed — distortion = min over cells), plus err_bp = "
    "Σdistortion / Σ‖x_sub‖² in half-up basis points, the "
    "quantization-error fraction from the PQ paper (Jégou et al. 2011 "
    "§ quantization MSE) — the PQ-side sibling of sim_silhouette_eval: "
    "silhouette scores the IVF routing partition, this scores the "
    "compression codebook (a subspace with high err_bp dominates ADC "
    "ranking noise and wants more bits — read next to "
    "sim_nprobe_recall_sweep and sim_ann_recall_eval, which measure the "
    "composed effect). All integer-exact in the model's quantized "
    "milli-space; the energy/distortion sums run in wide integers "
    "(DuckDB HUGEINT / Spark DECIMAL(38,0) — 2e4·Σd only nears the "
    "DECIMAL(38) ceiling past ~1e25 vectors, documented not asserted). "
    "Reuses the session-cached PQ model; the codebook broadcasts into "
    "one corpus pass whose exchanges carry (vid, sub, cell) partials — "
    "corpus×m×k-bounded, never raw components (gate-asserted).",
)
def sim_pq_distortion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators import similarity as S
    from kinesis_stream_consumer_spark.plans.llm_pipeline import (
        _DIM,
        _PQ_M,
        _pq_model,
    )

    _, cents = _pq_model(spark, sf_dir)
    sub_dim = _DIM // _PQ_M
    emb = _t(spark, sf_dir, "embeddings")
    q = S.quantized_vector_rows(emb).select(
        "vid",
        F.expr(f"CAST(pos div {sub_dim} AS INT)").alias("sub"),
        F.expr(f"pos % {sub_dim}").alias("pos"),
        "qx",
    )
    q = q.localCheckpoint(eager=False)  # read twice: distances + energy
    fd = (
        q.join(F.broadcast(cents), ["sub", "pos"])
        .groupBy("vid", "sub", "cell")
        .agg(
            F.sum(
                (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
            ).alias("dist")
        )
    )
    dm = fd.groupBy("vid", "sub").agg(F.min("dist").alias("d"))
    en = q.groupBy("sub").agg(
        F.sum(F.expr("CAST(qx AS DECIMAL(38,0)) * qx")).alias("e")
    )
    ds = dm.groupBy("sub").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0))")).alias("sd"),
        F.max("d").alias("mx"),
    )
    return (
        ds.join(en, "sub")
        .where(F.col("e") > 0)
        .select(
            F.col("sub").cast("long").alias("sub"),
            F.col("n").cast("long").alias("n_vectors"),
            F.expr("(2 * sd + n) div (2 * n)")
            .cast("long")
            .alias("mean_distortion"),
            F.col("mx").cast("long").alias("max_distortion"),
            F.expr(
                "(2 * CAST(10000 AS DECIMAL(38,0)) * sd + e) div (2 * e)"
            ).cast("long").alias("err_bp"),
        )
        .orderBy("sub")
    )
