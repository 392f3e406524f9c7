"""Shuffle-volume contracts: executed-plan SQL metrics prove the scale
claims the operator docstrings make. These bounds are the difference
between "works on 60k rows" and "survives 100 TB" — a regression that
breaks map-side combine or starts shuffling payload columns fails here."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.functions.metrics import shuffle_stats
from kinesis_stream_consumer_spark.operators import dedup as D
from tests.conftest import SF_CORRECT

N_DOCS = 500  # sf0.01 documents rows


def _docs(spark):
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")


def test_minhash_signature_shuffle_is_per_doc_not_per_shingle(spark):
    sigs = D.minhash_signatures(_docs(spark), "text", "doc_id")
    sigs.collect()
    s = shuffle_stats(sigs)
    # thousands of shingle rows fan out of the explode...
    assert s["generated_rows"] > 10 * N_DOCS
    # ...but partial min() collapses them BEFORE the exchange: the shuffle
    # carries one slim row per doc (doc + 8 longs ≈ 80 B + overhead)
    assert s["shuffle_records"] == N_DOCS
    assert s["shuffle_bytes"] < N_DOCS * 200


def test_simhash_shuffle_is_per_doc(spark):
    sh = D.simhash32_df(_docs(spark), "text", "doc_id")
    sh.collect()
    s = shuffle_stats(sh)
    assert s["generated_rows"] > 10 * N_DOCS
    # 32 vote sums combine map-side; shuffle = one row per doc
    assert s["shuffle_records"] == N_DOCS
    assert s["shuffle_bytes"] < N_DOCS * 450


def test_exact_dedup_single_shuffle_on_digest(spark):
    groups = D.exact_dedup_groups(_docs(spark), "text", "doc_id")
    groups.collect()
    s = shuffle_stats(groups)
    assert s["exchanges"] == 1
    # the shuffle carries (digest, partial min, partial count) — bounded by
    # distinct digests, never by corpus text
    assert s["shuffle_records"] <= N_DOCS
    assert s["shuffle_bytes"] < N_DOCS * 150


def test_brute_force_topk_corpus_never_shuffles(spark):
    from kinesis_stream_consumer_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_corpus = emb.count()
    queries = emb.where(F.col("vec_id") < 10)
    topk = brute_force_topk(emb, queries, k=5)
    topk.collect()
    s = shuffle_stats(topk)
    # the only exchange feeds the per-query top-k window: scored slim rows
    # (query, match, sim) — the embedding vectors themselves never shuffle
    assert s["shuffle_records"] <= n_corpus * 10  # |corpus| × |queries|
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 64, f"scored rows should be slim, got {per_row:.0f} B/row"


def test_repetition_shuffles_are_slim_gram_counts(spark):
    from kinesis_stream_consumer_spark.operators.text import repetition_gram_rows

    grams = repetition_gram_rows(_docs(spark), "text", "doc_id")
    cnts = grams.groupBy("doc", "kind", "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = cnts.groupBy("doc", "kind").agg(
        F.max("c").alias("mx"), F.sum("c").alias("tot")
    )
    stats.collect()
    s = shuffle_stats(stats)
    # two hash shuffles: (doc, kind, gram) partial counts, then (doc, kind)
    assert s["exchanges"] == 2
    # explode fans out every token + bigram occurrence...
    assert s["generated_rows"] > 20 * N_DOCS
    # ...but map-side combine means the shuffles carry gram COUNTS (bounded
    # by distinct grams), never raw occurrences, and rows stay slim
    assert s["shuffle_records"] < s["generated_rows"]
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 120, f"gram-count rows should be slim, got {per_row:.0f} B/row"


def test_pq_adc_shuffle_is_slim_partials(spark):
    """PQ-ADC's only full-corpus shuffle carries (query, vid, partial-sum)
    triples — the encoded corpus joins the BROADCAST distance table, so no
    vectors and no per-component rows ever shuffle in the scoring stage."""
    from kinesis_stream_consumer_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n = emb.count()
    queries = emb.where(F.col("vec_id") < 10)
    out = pq_adc_topk(emb, queries, m=8, k=16, n_iter=1, topk=5, rerank=20)
    out.collect()
    s = shuffle_stats(out)
    # scoring: ≤ |q|·n (query, vid, partial) rows; training shuffles are
    # per-(vid, sub[, cell]) — everything is keyed slim rows, never vectors
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 64, f"PQ shuffle rows should be slim, got {per_row:.0f} B"
    # the ADC lookup join must be broadcast (no shuffle of the m·n codes
    # against the distance table): codes appear in ONE exchange (groupBy),
    # bounded by |q|·n + training volume
    assert s["shuffle_records"] < 30 * n * 10


def test_tfidf_combines_map_side(spark):
    """tf shuffle is bounded by distinct (doc, term) pairs — the token
    explosion collapses in the partial aggregate, never shuffling raw
    token rows."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    out = QUERIES["text_tfidf_topk"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    distinct_pairs = (
        _docs(spark)
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .distinct()
        .count()
    )
    assert s["generated_rows"] > distinct_pairs  # explode really fanned out
    # tf + df + window exchanges, each ≤ distinct pairs (+ slim df rows)
    assert s["shuffle_records"] <= 4 * distinct_pairs


def test_paa_profile_pair_stage_is_banded_not_all_pairs(spark):
    """ts_profile_similarity's exact-distance stage consumes LSH candidate
    pairs, not the all-pairs product (r3 VERDICT #4): the candidate count
    must be strictly below C(n_users, 2), and every candidate must come
    from a real bucket collision (recall > 0 sanity-checks the bands)."""
    from kinesis_stream_consumer_spark.plans.relational import (
        _paa_candidates,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    res = QUERIES["ts_profile_similarity"].fn(spark, SF_CORRECT)
    rows = res.collect()
    assert len(rows) > 0  # banding keeps real neighbors

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").where(
        F.col("user_id") < 40
    )
    n_users = ev.select("user_id").distinct().count()
    prof = (
        ev.select(
            "user_id",
            F.hour(F.col("ts").cast("timestamp")).alias("hr"),
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).alias("v6"),
        )
        .groupBy("user_id", "hr")
        .agg(F.expr("(2*sum(v6) + 100*count(*)) div (200*count(*))").alias("p"))
    )
    n_cand = _paa_candidates(prof).count()
    all_pairs = n_users * (n_users - 1) // 2
    assert 0 < n_cand < all_pairs, (
        f"candidates {n_cand} not bounded below all-pairs {all_pairs}"
    )


def test_boilerplate_segments_shuffles_are_slim(spark):
    """text_boilerplate_segments: the distinct-count aggregate and the
    join back ride (seg, doc) rows — bounded by segment count, and no
    shuffle row ever carries document text (segments are 5 words)."""
    from kinesis_stream_consumer_spark.plans.text import (
        text_boilerplate_segments,
    )

    res = text_boilerplate_segments(spark, SF_CORRECT)
    rows = res.collect()
    assert len(rows) == N_DOCS
    s = shuffle_stats(res)
    n_segs_total = sum(r["n_segs"] for r in rows)
    # distinct-agg (two phases) + join + per-doc agg: each stage's input
    # is bounded by total segments, never tokens or characters
    assert s["shuffle_records"] <= 6 * n_segs_total
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 120, f"shuffle rows should be slim, got {per_row:.0f} B/row"


def test_lexical_sparse_join_is_df_pruned(spark):
    """sim_lexical_sparse_topk: the postings self-join input is bounded by
    the df cap — every surviving term has <= max(2, N/20) postings, so
    per-term join fan-out is capped (the inverted-index analogue of the
    LSH candidate bound), and no common term floods the pair stage."""
    from kinesis_stream_consumer_spark.plans.similarity import (
        sim_lexical_sparse_topk,
    )
    from kinesis_stream_consumer_spark.plans.queries import _table_row_count

    n = _table_row_count(SF_CORRECT, "documents")
    cap = min(max(2, n // 20), 32)  # same formula as the plan fn
    res = sim_lexical_sparse_topk(spark, SF_CORRECT)
    rows = res.collect()
    assert rows, "rare-term candidates must exist at sf0.01"
    # re-derive the pruned postings and check the bound the plan relies on
    docs = _docs(spark)
    bi = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg"),
    )
    tf = bi.groupBy("doc_id", "bg").count()
    dfs = tf.groupBy("bg").count().withColumnRenamed("count", "df")
    max_rare_df = (
        dfs.where(F.col("df") <= cap).agg(F.max("df")).first()[0]
    )
    assert max_rare_df is not None and max_rare_df <= cap
    # and the cap actually prunes: some terms exceed it and are dropped
    assert dfs.where(F.col("df") > cap).count() > 0


def test_dup_ngram_coverage_shuffles_slim_hashes(spark):
    """text_dup_ngram_coverage: every aggregate/join keys on the 56-bit
    gram hash or the doc id — shuffle rows are (long, long)-ish, never
    shingle strings or document text."""
    from kinesis_stream_consumer_spark.plans.text import (
        text_dup_ngram_coverage,
    )

    res = text_dup_ngram_coverage(spark, SF_CORRECT)
    rows = res.collect()
    assert len(rows) == N_DOCS
    assert any(r["n_dup"] > 0 for r in rows), "corpus has duplicated 5-grams"
    s = shuffle_stats(res)
    n_grams_total = sum(r["n_grams"] for r in rows)
    # df-count agg (two phases) + dup-set join + two per-doc aggs: each
    # stage bounded by total distinct grams
    assert s["shuffle_records"] <= 8 * n_grams_total
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 80, f"gram-hash shuffle rows should be slim longs, got {per_row:.0f} B/row"


def test_media_chunk_pairs_join_on_uniform_hash(spark):
    """dedup_media_chunks: payloads reduce to (idx, md5) rows before any
    join; the self-join keys on the chunk hash so per-bucket fan-out is
    the true copy count, and no payload bytes ride a shuffle."""
    from kinesis_stream_consumer_spark.operators.multimodal import (
        as_media,
        chunk_hash_rows,
        chunk_signature_pairs,
    )

    media = as_media(_docs(spark), "doc_id", F.col("text"), "text/plain")
    n_chunks = chunk_hash_rows(media, 64).count()
    pairs = chunk_signature_pairs(media, 64, 2)
    rows = pairs.collect()
    assert rows, "chunk-identical near-dup media must exist at sf0.01"
    s = shuffle_stats(pairs)
    # pair agg + two count joins, all bounded by chunk rows / pair rows —
    # never by payload bytes (64B chunks hash to 32-char md5 BEFORE the
    # exchange; generous constant covers the small count/pair tables)
    assert s["shuffle_records"] <= 6 * n_chunks + 10 * len(rows)
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 150, f"chunk shuffle rows should be slim, got {per_row:.0f} B/row"


def test_random_projection_corpus_never_shuffles(spark):
    """sim_random_projection_topk: projection is map-side (matrix is plan
    literals); only the per-query top-k window shuffles, carrying 8-long
    projected rows — the corpus embeddings never cross an exchange."""
    from kinesis_stream_consumer_spark.operators.similarity import (
        random_projection_topk,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_corpus = emb.count()
    queries = emb.where(F.col("vec_id") < 10)
    res = random_projection_topk(emb, queries, 8, 5)
    res.collect()
    s = shuffle_stats(res)
    # scored rows (corpus × queries) reach the window top-k exchange as
    # slim (query_id, match_id, pdist) triples; the 64-float embeddings
    # stay in the scan stage
    assert s["shuffle_records"] <= 10 * n_corpus + 20
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 60, f"projected rows should be 3 longs, got {per_row:.0f} B/row"


def test_cms_sketch_shuffle_bounded_by_sketch_size(spark):
    """text_heavy_hitters_cms: the sketch aggregate's post-combine shuffle
    is bounded by depth×width counters plus the (small) vocabulary rows of
    the exact side — NEVER by token occurrences (map-side combine must
    hold or the sketch loses its entire reason to exist)."""
    from kinesis_stream_consumer_spark.operators.text import (
        cms_token_estimates,
        tokens,
    )
    from pyspark.sql import functions as F

    docs = _docs(spark)
    n_occurrences = docs.select(
        F.explode(tokens(F.col("text"))).alias("t")
    ).count()
    res = cms_token_estimates(docs, "text", 32, 4, 20)
    rows = res.collect()
    assert len(rows) == 20
    assert any(r["overest_bp"] > 0 for r in rows), "width 32 must collide"
    assert all(r["cms_estimate"] >= r["exact_count"] for r in rows)
    s = shuffle_stats(res)
    # sketch (≤ 4·32·partitions partials) + exact vocab + top-N + estimate
    # join: all orders of magnitude below occurrence count
    assert s["shuffle_records"] < n_occurrences / 10, (
        f"sketch shuffle {s['shuffle_records']} rows vs {n_occurrences} "
        "occurrences — map-side combine broken"
    )


def test_interval_overlap_is_banded_not_all_pairs(spark):
    """join_interval_overlap's candidate stage is the day-bucket band
    join, never the |intervals|^2 product: candidate rows (pre-DISTINCT
    bucket collisions) must sit strictly below C(n_intervals, 2), and
    the exact result must be non-empty (banding keeps real overlaps —
    with bucket >= max interval span every true overlap shares a
    bucket)."""
    from pyspark.sql.window import Window as W

    from kinesis_stream_consumer_spark.plans.relational import (
        join_interval_overlap,
    )

    res = join_interval_overlap(spark, SF_CORRECT)
    n_pairs = res.count()
    assert n_pairs > 0

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tu")
    )
    w = W.partitionBy("user_id").orderBy("tu", "event_id")
    s = ev.withColumn(
        "is_new",
        F.when(
            F.lag("tu").over(w).isNull()
            | ((F.col("tu") - F.lag("tu").over(w)) > 28_800_000_000),
            1,
        ).otherwise(0),
    ).withColumn(
        "sn", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    big = (
        s.groupBy("user_id", "sn")
        .agg(F.min("tu").alias("st"), F.max("tu").alias("en"),
             F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 8)
    )
    n_intervals = big.count()
    banded = big.withColumn(
        "bucket",
        F.explode(F.sequence(F.expr("st div 86400000000"),
                             F.expr("en div 86400000000"))),
    )
    n_cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .count()
    )
    all_pairs = n_intervals * (n_intervals - 1) // 2
    assert 0 < n_cand < all_pairs, (
        f"bucket candidates {n_cand} not below all-pairs {all_pairs}"
    )


def test_phash_neardup_pairs_come_from_band_collisions(spark):
    """multimodal_phash_neardup compares band-collision candidates only;
    with Hamming threshold <= bands-1 the pigeonhole guarantees banding
    loses nothing, so the banded result must EQUAL the all-pairs filter
    (checked on the sf0.01 corpus) while the candidate count stays far
    below C(n, 2)."""
    from kinesis_stream_consumer_spark.operators import multimodal as M
    from kinesis_stream_consumer_spark.plans.llm_pipeline import (
        _PHASH_MAX_HAMMING,
        _PHASH_SEGMENTS,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    banded_rows = {
        tuple(r)
        for r in QUERIES["multimodal_phash_neardup"]
        .fn(spark, SF_CORRECT)
        .collect()
    }
    assert banded_rows  # non-empty on the sf0.01 corpus (real near-dups)

    docs = _docs(spark)
    media = M.as_media(docs, "doc_id", F.col("text"), "text/plain")
    sigs = M.perceptual_signature(media, _PHASH_SEGMENTS).localCheckpoint(
        eager=True
    )
    n = sigs.count()
    exact = {
        tuple(r)
        for r in (
            sigs.alias("a")
            .join(sigs.alias("b"), F.col("a.media_id") < F.col("b.media_id"))
            .select(
                F.col("a.media_id").alias("media_a"),
                F.col("b.media_id").alias("media_b"),
                F.bit_count(
                    F.col("a.sig").bitwiseXOR(F.col("b.sig"))
                ).cast("long").alias("hamming"),
            )
            .where(F.col("hamming") <= _PHASH_MAX_HAMMING)
            .collect()
        )
    }
    assert banded_rows == exact  # pigeonhole: banding is lossless

    bands = sigs.select(
        "media_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(f"(sig >> {8 * b}) & 255").alias("bkey"),
                )
                for b in range(4)
            ])
        ).alias("t"),
    ).select("media_id", "t.band", "t.bkey")
    n_cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .count()
    )
    assert n_cand < n * (n - 1) // 2, "banding should prune the pair space"


def test_winnowing_pair_stage_is_df_capped(spark):
    """text_winnowing_pairs' inverted-index join is bounded by the
    stop-fingerprint cap: every surviving posting list has <= _WINNOW_DF
    docs, so candidate pair volume is sum(C(df,2)) <= C(_WINNOW_DF,2) per
    hash — strictly below the all-pairs product."""
    from kinesis_stream_consumer_spark.operators.text import (
        winnowing_fingerprints,
    )
    from kinesis_stream_consumer_spark.plans.text import (
        _WINNOW_DF,
        _WINNOW_K,
        _WINNOW_W,
        text_winnowing_pairs,
    )

    assert text_winnowing_pairs(spark, SF_CORRECT).count() > 0

    fp = winnowing_fingerprints(_docs(spark), "text", "doc_id",
                                k=_WINNOW_K, w=_WINNOW_W)
    dfreq = fp.groupBy("hv").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = dfreq.where(F.col("n_docs") <= _WINNOW_DF)
    n_cand = int(
        kept.agg(
            F.sum(F.col("n_docs") * (F.col("n_docs") - 1) / 2)
        ).first()[0]
    )
    all_pairs = N_DOCS * (N_DOCS - 1) // 2
    assert 0 < n_cand < all_pairs, (
        f"candidate volume {n_cand} not bounded below all-pairs {all_pairs}"
    )


def test_hll_register_shuffle_bounded_by_m_not_values(spark):
    from kinesis_stream_consumer_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_groups = ev.select("event_type").distinct().count()
    reg = SK.hll_registers(ev, "event_type", F.col("user_id").cast("string"))
    reg.collect()
    s = shuffle_stats(reg)
    # max() combines map-side: the shuffle carries at most
    # m registers × groups × map-partitions — never one row per event
    n_parts = ev.rdd.getNumPartitions()
    bound = SK.HLL_M * n_groups * max(n_parts, 1)
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_events / 10


def test_histogram_shuffle_bounded_by_bins_not_rows(spark):
    from kinesis_stream_consumer_spark.operators import sketches as SK

    od = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_orders = od.count()
    v = od.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    hist = SK.histogram_bins(v, "cents", 100_000)
    n_bins = hist.count()
    hist.collect()
    s = shuffle_stats(hist)
    n_parts = od.rdd.getNumPartitions()
    # count() combines map-side: shuffle ≤ bins × map-partitions, and the
    # bin count itself is bounded by the value DOMAIN (range/width), not n
    assert s["shuffle_records"] <= n_bins * max(n_parts, 1)
    assert s["shuffle_records"] < n_orders / 10


def test_hll_registers_merge_linearly(spark):
    """Register mergeability — the property that makes HLL distributable:
    sketching two halves separately and max-merging the registers gives
    EXACTLY the registers of sketching the whole (so partial sketches
    compose across partitions / micro-batches / days)."""
    from kinesis_stream_consumer_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    val = F.col("user_id").cast("string")
    whole = SK.hll_registers(ev, "event_type", val)
    lo = SK.hll_registers(ev.where(F.col("event_id") % 2 == 0), "event_type", val)
    hi = SK.hll_registers(ev.where(F.col("event_id") % 2 == 1), "event_type", val)
    merged = (
        lo.unionByName(hi)
        .groupBy("g", "bucket")
        .agg(F.max("r").alias("r"))
    )
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b
    # and therefore the estimates agree too
    ea = sorted(map(tuple, SK.hll_estimate(whole).collect()))
    eb = sorted(map(tuple, SK.hll_estimate(merged).collect()))
    assert ea == eb


def test_bloom_bits_shuffle_bounded_by_filter_size(spark):
    from kinesis_stream_consumer_spark.operators import dedup as D
    from kinesis_stream_consumer_spark.plans.curation import (
        _BLOOM_K,
        _BLOOM_M,
    )

    docs = _docs(spark)
    dg = docs.select("doc_id", D.exact_digest(F.col("text")).alias("dg"))
    ref = dg.where(F.col("doc_id") % 2 == 0)
    js = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    pos = (
        D.md5_u56_le(
            F.concat(F.col("j").cast("string"), F.lit("|"), F.col("dg"))
        )
        % _BLOOM_M
    ).alias("pos")
    bits = ref.select(F.explode(js).alias("j"), "dg").select(pos).distinct()
    n_bits = bits.count()
    bits.collect()
    s = shuffle_stats(bits)
    n_parts = docs.rdd.getNumPartitions()
    # partial distinct combines map-side: the shuffle is bounded by the
    # FILTER SIZE (m positions) × map partitions, never by n_ref × k
    assert n_bits <= _BLOOM_M
    assert s["shuffle_records"] <= _BLOOM_M * max(n_parts, 1)


def test_source_lift_classifier_shuffles_keyed_counts_only(spark):
    """text_source_lift_classifier's exchanges carry (key, count/score)
    rows — token explosions collapse in partial aggregates before every
    shuffle, and document text never rides an exchange."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    out = QUERIES["text_source_lift_classifier"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # the two token explodes (seed + eval) really fanned out...
    assert s["generated_rows"] > 20 * N_DOCS
    # ...but every exchange carries keyed aggregates, bounded by
    # distinct (tok, source) + (doc, tok) + (doc, source) keys — far
    # below the raw occurrence volume
    assert s["shuffle_records"] < s["generated_rows"]
    per_row = s["shuffle_bytes"] / max(s["shuffle_records"], 1)
    assert per_row < 120, f"lift rows should be slim, got {per_row:.0f} B"


def test_qsketch_shuffle_bounded_by_registers_not_rows(spark):
    from kinesis_stream_consumer_spark.operators import sketches as SK

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    n_rows = li.count()
    src = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    n_groups = src.select("l_returnflag").distinct().count()
    buckets = SK.qsketch_buckets(src, "l_returnflag", F.col("cents"))
    buckets.collect()
    s = shuffle_stats(buckets)
    # count() combines map-side: the shuffle carries at most
    # (63·K+1) registers × groups × map-partitions — never a row per
    # value, and the register count is DOMAIN-FREE (no range parameter)
    n_parts = li.rdd.getNumPartitions()
    bound = (63 * SK.QSK_K + 1) * n_groups * max(n_parts, 1)
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_rows / 10


def test_bloom_pruned_join_shrinks_fact_exchange(spark):
    """The runtime-filter contract: with the Bloom predicate on the fact
    scan, the join's exchanges carry only probable matches — the pruned
    run must shuffle a small fraction of the ungated run's rows (both
    arms forced to shuffle-merge so the fact side actually exchanges)."""
    from kinesis_stream_consumer_spark.operators import sketches as SK

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").select(
        "l_orderkey"
    )
    od_f = (
        spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (
                F.col("o_orderdate")
                >= F.lit("2001-01-01").cast("timestamp")
            )
        )
        .select("o_orderkey")
    )
    set_pos, m = SK.bloom_join_build(od_f, F.col("o_orderkey").cast("string"))

    def run(fact):
        j = fact.join(
            od_f.hint("merge"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        ).agg(F.count(F.lit(1)).alias("n"))
        j.collect()
        return shuffle_stats(j)["shuffle_records"]

    ungated = run(li)
    pruned = run(
        SK.bloom_join_prune(
            li, F.col("l_orderkey").cast("string"), set_pos, m
        )
    )
    n_fact = li.count()
    n_pass = SK.bloom_join_prune(
        li, F.col("l_orderkey").cast("string"), set_pos, m
    ).count()
    # the pruned fact side exchanges ~n_pass rows instead of ~n_fact
    assert pruned < ungated / 5
    assert ungated >= n_fact  # fact side really did shuffle whole
    assert pruned <= n_pass + od_f.count() + 64  # pass + build (+agg rows)


def test_reservoir_register_shuffle_bounded_by_sample_size(spark):
    """Priority-sampling register: the rank-filtered row_number window
    plans as WindowGroupLimit, so each map partition ships at most n+1
    rows per group into the exchange — the shuffle is register-bounded,
    never a row per document."""
    from kinesis_stream_consumer_spark.operators import sketches as SK
    from kinesis_stream_consumer_spark.operators import text as T

    docs = _docs(spark).select("doc_id", "lang", "text")
    n_rows = docs.count()
    n_groups = docs.select("lang").distinct().count()
    n = 8
    regs = SK.reservoir_registers(
        docs, "lang", "doc_id", T.bpe_ish_token_count(F.col("text")), n
    )
    regs.collect()
    s = shuffle_stats(regs)
    n_parts = docs.rdd.getNumPartitions()
    assert s["shuffle_records"] <= (n + 1) * n_groups * max(n_parts, 1)
    assert s["shuffle_records"] < n_rows / 10


def test_embedding_contamination_candidates_cell_bounded(spark):
    """The embedding decontamination pass scores eval x train pairs ONLY
    within a trained coarse cell: the realized candidate count equals the
    per-cell eval*train sum exactly (never all-pairs), and with the eval
    side broadcast the pair rows themselves never cross an exchange —
    the only shuffled rows are the cell assignment and per-eval partial
    aggregates."""
    from kinesis_stream_consumer_spark.operators import curation as C
    from kinesis_stream_consumer_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    fit = S.kmeans_fit_quantized(
        emb, 32, 2, sample_mod=S.train_sample_modulus(emb.count(), 32)
    )
    out = S.embedding_contamination(
        emb, fit, eval_bucket_lt=500, bcast_eval=F.broadcast
    )
    out.collect()
    # exact cell-pair bound from the assignment + split alone
    split = fit.select(
        "vec_id", "cell_id", C.hash_bucket(F.col("vec_id")).alias("_hb")
    )
    per_cell = split.groupBy("cell_id").agg(
        F.sum((F.col("_hb") < 500).cast("long")).alias("ne"),
        F.sum((F.col("_hb") >= 500).cast("long")).alias("nt"),
    )
    bound = per_cell.agg(
        F.sum(F.col("ne") * F.col("nt")).alias("b")
    ).collect()[0]["b"]
    n_ev = split.where(F.col("_hb") < 500).count()
    n_tr = split.where(F.col("_hb") >= 500).count()
    realized = out.agg(F.sum("n_cand").alias("s")).collect()[0]["s"]
    assert realized == bound
    assert realized < n_ev * n_tr / 4  # cells actually prune
    s = shuffle_stats(out)
    # pair rows are generated and aggregated inside one broadcast-join
    # stage: the exchanges carry assignment/partial rows, never the
    # pair set
    assert s["shuffle_records"] < max(bound, 1)


def test_kmv_register_shuffle_bounded_by_k(spark):
    """KMV distinct sketch: the distinct-dedup combines map-side and the
    rank filter plans as WindowGroupLimit — the exchanges carry at most
    (distinct hashes per partition, then k per group per partition),
    never a row per event."""
    from kinesis_stream_consumer_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_rows = ev.count()
    k = 64
    src = ev.select(F.lit("users").alias("g"), F.col("user_id").cast("string").alias("u"))
    regs = SK.kmv_registers(src, "g", F.col("u"), k)
    regs.collect()
    s = shuffle_stats(regs)
    n_dist = src.select("u").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    # distinct stage: <= distinct-per-partition; top-k stage: <= k/part
    assert s["shuffle_records"] <= n_dist * max(n_parts, 1) + k * max(n_parts, 1)
    assert s["shuffle_records"] < n_rows / 5


def test_prefix_filter_join_never_shuffles_allpairs(spark):
    """The exact set-similarity join's contract: lossless output (the
    oracle is brute force — pinned by test_oracle_parity) WITHOUT an
    all-pairs product anywhere in the plan. Every exchange carries
    O(shingle-rows) slim rows; no single exchange approaches the
    N·(N-1)/2 pair volume a naive exact join would shuffle."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        executed_metrics,
    )

    docs = _docs(spark)
    out = D.prefix_filter_jaccard_pairs(docs, "text", "doc_id", 3, 0.2)
    out.collect()
    all_pairs = N_DOCS * (N_DOCS - 1) // 2  # 124,750
    n_shingle_rows = (
        D.shingle_rows(docs, "text", "doc_id", 3).count()
    )
    for name, m in executed_metrics(out):
        if name == "Exchange":
            recs = m.get("shuffleRecordsWritten", 0)
            # each exchange is bounded by the shingle-row volume (df agg,
            # rarity join, prefix rows), never by the quadratic pair count
            assert recs <= max(2 * n_shingle_rows, 1000), (name, recs)
            assert recs < all_pairs // 4, (name, recs)


def test_skyline_banded_sweep_never_goes_quadratic(spark):
    """The skyline's contract vs its NOT-EXISTS oracle: dominance is
    resolved by the banded sweep, not a pairwise product. Every exchange
    carries at most one row per part (per-price summaries, band maxima,
    frontier join keys) — never the n² dominance-pair volume."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        executed_metrics,
    )
    from kinesis_stream_consumer_spark.operators.frontier import skyline_2d

    part = spark.read.parquet(f"{SF_CORRECT}/part.parquet")
    n_part = part.count()
    out = skyline_2d(part, "p_retailprice", "p_size", n_bands=32)
    out.collect()
    for name, m in executed_metrics(out):
        if name == "Exchange":
            recs = m.get("shuffleRecordsWritten", 0)
            assert recs <= n_part, (name, recs)


def test_triangle_orientation_caps_wedge_volume(spark):
    """The degree-oriented triangle join's scale claim: orientation caps
    out-degrees at O(sqrt E), so generated wedges stay far below the
    naive Sum d(d-1)/2 bound a hub-skewed graph would produce."""
    from kinesis_stream_consumer_spark.operators.graph import (
        triangle_participation,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .count()
    )
    naive_wedges = deg.select(
        F.sum(F.expr("count * (count - 1) / 2")).alias("w")
    ).collect()[0][0]
    # count the oriented wedges the operator actually generates: rebuild
    # its wedge stage (same code path feeds the closing join)
    out = triangle_participation(edges)
    out.collect()
    # the oriented wedge volume is implied by the closing join's left
    # side; assert via the algorithm's own invariant instead: re-derive
    # oriented out-degrees and their wedge sum
    du = deg.select(F.col("node").alias("u"), F.col("count").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("count").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"))
    )
    oriented_wedges = (
        oe.groupBy("src")
        .count()
        .select(F.sum(F.expr("count * (count - 1) / 2")).alias("w"))
        .collect()[0][0]
    )
    assert oriented_wedges < naive_wedges / 2, (oriented_wedges, naive_wedges)


def test_hll_rollup_levels_shuffle_registers_not_values(spark):
    """The sketch-cube claim: rolling leaf registers up to type and
    grand-total levels shuffles register rows (<= m per group), never
    re-scans or re-shuffles the distinct values themselves."""
    from kinesis_stream_consumer_spark.operators import sketches as SK

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    evd = ev.select(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias(
            "day"
        ),
        F.col("user_id").cast("string").alias("uid"),
    )
    regs = SK.hll_registers(
        evd.withColumn("g", F.concat_ws("#", "event_type", "day")),
        "g",
        F.col("uid"),
    ).localCheckpoint(eager=True)
    n_leaf_groups = regs.select("g").distinct().count()
    tregs = (
        regs.select(
            F.expr("split_part(g, '#', 1)").alias("t"), "bucket", "r"
        )
        .groupBy("t", "bucket")
        .agg(F.max("r").alias("r"))
    )
    tregs.collect()
    s = shuffle_stats(tregs)
    # the rollup exchange carries at most one row per (leaf, bucket):
    # register-bounded, independent of the event volume underneath
    assert s["shuffle_records"] <= n_leaf_groups * SK.HLL_M
    assert s["shuffle_bytes"] < n_leaf_groups * SK.HLL_M * 120


def test_epoch_shuffle_has_no_single_partition_exchange(spark):
    """The terasort-rank claim: the epoch shuffle never funnels the corpus
    through a single-partition exchange (a global ROW_NUMBER window
    would). Only hash/range exchanges may appear."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    df = QUERIES["curation_epoch_shuffle"].fn(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]


def test_misra_gries_truncation_shuffle_register_bounded(spark):
    """Misra-Gries summary: the truncation's rank-filtered row_number
    window plans as WindowGroupLimit, so each map partition ships at
    most k+1 rows per group into its exchange — counter-bounded, never
    a row per occurrence. (The exact-count exchange upstream ships
    counts with map-side combine; checked separately below against the
    occurrence volume.)"""
    from kinesis_stream_consumer_spark.operators import sketches as SK
    from kinesis_stream_consumer_spark.operators import text as T

    docs = _docs(spark).select("lang", "text")
    toks = docs.select(
        F.col("lang").alias("g"),
        F.explode(T.tokens(F.col("text"))).alias("key"),
    )
    n_occ = toks.count()
    n_groups = docs.select("lang").distinct().count()
    k = 8
    counts = (
        toks.groupBy("g", "key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)  # isolate the truncation's exchanges
    )
    out = SK.mg_truncate(counts, k)
    out.collect()
    s = shuffle_stats(out)
    n_parts = counts.rdd.getNumPartitions()
    # window exchange <= (k+1)*groups*parts; thr aggregate + join add at
    # most the same register volume again
    assert s["shuffle_records"] <= 3 * (k + 1) * n_groups * max(n_parts, 1)
    # full path: every exchange carries counts / registers, never an
    # occurrence row per token
    full = SK.mg_summary(toks, "g", "key", F.lit(1), k)
    full.collect()
    s_full = shuffle_stats(full)
    assert s_full["shuffle_records"] < n_occ / 10


def test_label_propagation_round_shuffles_vertex_bounded(spark):
    """LPA: one round's exchanges carry neighbour-label COUNT rows and the
    WindowGroupLimit-filtered top-1 rows — bounded by edge endpoints and
    vertices, never all-pairs; and the final labels frame is exactly one
    row per vertex."""
    from kinesis_stream_consumer_spark.operators.graph import (
        label_propagation,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select("v"))
        .distinct()
        .count()
    )
    labels = label_propagation(edges, rounds=1)
    assert labels.count() == n_nodes
    s = shuffle_stats(labels)
    n_parts = edges.rdd.getNumPartitions()
    # per round: bidir build reads the checkpoint (no shuffle), the join
    # shuffles <= 2E label rows + V vertex rows, the count aggregate's
    # map-side combine caps its exchange at distinct (node,label) per
    # partition <= 2E, and the top-1 WindowGroupLimit ships <= 1 row per
    # node per map partition
    assert s["shuffle_records"] <= 5 * n_edges + 2 * n_nodes * max(n_parts, 1)


def test_source_novelty_shuffles_carry_keys_not_text(spark):
    """text_source_novelty: every exchange carries (shingle, doc) keys or
    counts — the total shuffled row count is bounded by a small multiple
    of the distinct (doc, shingle) rows, never document text replicated
    per pair."""
    from kinesis_stream_consumer_spark.operators import dedup as D
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = _docs(spark).select("doc_id", "text", "source")
    n_sh = D.shingle_rows(docs, "text", "doc_id", k=3).count()
    out = QUERIES["text_source_novelty"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # shingle->min agg (<= distinct shingles per partition), join back
    # (n_sh probe rows + first-doc rows), doc->source join, source agg
    assert s["shuffle_records"] <= 6 * n_sh


def test_centroid_shift_shuffles_dimension_sums_only(spark):
    """agg_embedding_centroid_shift: the corpus never re-shuffles — the
    exchanges carry per-(label, dim) partial sums and the #labels-bounded
    result, orders of magnitude below the exploded value rows."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_vals = emb.count() * 64
    n_labels = emb.select("label").distinct().count()
    out = QUERIES["agg_embedding_centroid_shift"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = emb.rdd.getNumPartitions()
    # label×dim partial sums per partition + dim sums + label frames
    assert s["shuffle_records"] <= (n_labels + 2) * 64 * max(n_parts, 1) + 4 * n_labels
    assert s["shuffle_records"] < n_vals / 10


def test_link_prediction_wedges_capped(spark):
    """common_neighbor_pairs: the degree cap bounds the wedge join's
    output at Σ C(min(d, cap), 2) — hub skew cannot blow it up to Σ d² —
    and the cap filter itself is WindowGroupLimit register-bounded."""
    from kinesis_stream_consumer_spark.operators.graph import (
        common_neighbor_pairs,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    cap = 8
    bidir = edges.unionAll(edges.select("v", "u"))
    capped_bound = (
        bidir.groupBy("u")
        .agg(F.least(F.count(F.lit(1)), F.lit(cap)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2))
        .first()[0]
    )
    out = common_neighbor_pairs(edges, cap=cap)
    n_pairs = out.count()
    assert n_pairs <= capped_bound
    s = shuffle_stats(out)
    n_parts = edges.rdd.getNumPartitions()
    # exchanges: bidir rows into the cap window (<= cap+slack per node
    # per partition via WindowGroupLimit), wedge pair aggregation
    # (<= capped_bound per map partition), anti-join probe
    assert s["shuffle_records"] <= 4 * capped_bound + 4 * bidir.count()


def test_personalized_pagerank_round_shuffles_vertex_bounded(spark):
    """PPR: the mass frame is bounded by the seed neighbourhood, and one
    round's exchanges carry (node, mass) rows — <= 2E join rows plus
    vertex-bounded aggregate/outer-join rows, never all-pairs."""
    from kinesis_stream_consumer_spark.operators.graph import (
        personalized_pagerank,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select("v"))
        .distinct()
        .count()
    )
    seeds = edges.select(F.col("u").alias("node")).distinct().limit(20)
    pr = personalized_pagerank(edges, seeds, rounds=1)
    n_mass = pr.count()
    # the mass frame holds seeds + their frontier, never exceeds V + seeds
    assert n_mass <= n_nodes + 20
    s = shuffle_stats(pr)
    n_parts = edges.rdd.getNumPartitions()
    # per round: mass join <= 2E + V rows, destination aggregate map-side
    # combined (<= V per partition), full outer join against the
    # #seeds-bounded teleport frame
    assert s["shuffle_records"] <= 4 * n_edges + 3 * n_nodes * max(n_parts, 1)


def test_adamic_adar_wedges_capped_and_weights_integer(spark):
    """adamic_adar_pairs: same Σ C(min(d, cap), 2) wedge bound as the raw
    common-neighbour operator, and every score is an exact integer sum of
    per-apex micro-unit weights (no float accumulation in the ranking)."""
    from kinesis_stream_consumer_spark.operators.graph import (
        adamic_adar_pairs,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    cap = 8
    bidir = edges.unionAll(edges.select("v", "u"))
    capped_bound = (
        bidir.groupBy("u")
        .agg(F.least(F.count(F.lit(1)), F.lit(cap)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2))
        .first()[0]
    )
    out = adamic_adar_pairs(edges, cap=cap)
    rows = out.collect()
    assert len(rows) <= capped_bound
    # scores are integer micro-units: each pair's aa_micro is a sum of
    # n_common per-apex weights, every weight <= 1e6/ln(2)
    for r in rows:
        assert isinstance(r["aa_micro"], int)
        assert 0 <= r["aa_micro"] <= r["n_common"] * 1_442_696
    s = shuffle_stats(out)
    assert s["shuffle_records"] <= 4 * capped_bound + 5 * bidir.count()


def test_personalized_pagerank_teleport_invariants(spark):
    """PPR semantics pins: every seed holds at least its teleport mass
    every round; non-seed mass is propagation-only (< any seed's teleport
    after round 1 only via received mass); all masses non-negative so the
    truncate-vs-floor division identity holds."""
    from kinesis_stream_consumer_spark.operators.graph import (
        personalized_pagerank,
    )

    li = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    seeds = edges.select(F.col("u").alias("node")).distinct().limit(10)
    seed_ids = {r["node"] for r in seeds.collect()}
    pr = personalized_pagerank(edges, seeds, rounds=2)
    rows = {r["node"]: r["pr"] for r in pr.collect()}
    assert all(v >= 0 for v in rows.values())
    for sid in seed_ids:
        assert rows[sid] >= 150000  # teleport floor every round
    # total mass never exceeds seeds * (teleport + damped carryover bound)
    assert sum(rows.values()) <= len(seed_ids) * 2_000_000


def _ppr_reference(edge_list, seed_ids, rounds):
    """Pure-python mirror of the PPR integer recurrence — a THIRD
    implementation (next to the Spark plan and the DuckDB oracle, which
    share only the formula spec): pr0 = 1e6 per seed; pr_{i+1}(v) =
    150000*[v in seeds] + (17 * sum_u pr_i(u)//deg(u)) // 20 over the
    symmetrized graph."""
    from collections import defaultdict

    adj = defaultdict(list)
    deg = defaultdict(int)
    for u, v in edge_list:
        adj[u].append(v)
        adj[v].append(u)
        deg[u] += 1
        deg[v] += 1
    pr = {s: 1_000_000 for s in seed_ids}
    for _ in range(rounds):
        prop = defaultdict(int)
        for u, mass in pr.items():
            if u in deg:
                share = mass // deg[u]
                for v in adj[u]:
                    prop[v] += share
        nxt = {}
        for v, p in prop.items():
            nxt[v] = (17 * p) // 20
        for s in seed_ids:
            nxt[s] = nxt.get(s, 0) + 150_000
        pr = nxt
    return pr


def _aa_reference(edge_list, cap):
    """Pure-python mirror of capped Adamic-Adar: per apex, first `cap`
    neighbours by id; weight floor(1e6/ln(true_deg)+0.5); pair scores are
    integer sums; existing (u<v) edges excluded."""
    import math
    from collections import defaultdict

    adj = defaultdict(list)
    for u, v in edge_list:
        adj[u].append(v)
        adj[v].append(u)
    existing = {(u, v) for u, v in edge_list}
    scores = defaultdict(lambda: [0, 0])  # (a,b) -> [n_common, aa_micro]
    for s, nbrs in adj.items():
        d = len(nbrs)
        w = int(math.floor(1_000_000.0 / math.log(d) + 0.5)) if d >= 2 else 0
        capped = sorted(nbrs)[:cap]
        for i in range(len(capped)):
            for j in range(i + 1, len(capped)):
                a, b = capped[i], capped[j]
                if (a, b) in existing:
                    continue
                scores[(a, b)][0] += 1
                scores[(a, b)][1] += w
    return scores


def test_ppr_and_adamic_adar_match_python_reference(spark):
    """Third-implementation check on a small deterministic graph: the
    distributed operators reproduce a from-scratch python computation of
    the same integer recurrences exactly (not just the mirrored oracle)."""
    from kinesis_stream_consumer_spark.operators.graph import (
        adamic_adar_pairs,
        personalized_pagerank,
    )

    # deterministic pseudo-random graph: 40 nodes, u<v edges via a hash rule
    edge_list = sorted(
        {
            (u, v)
            for u in range(40)
            for v in range(u + 1, 40)
            if (u * 7919 + v * 104729) % 7 == 0
        }
    )
    edges = spark.createDataFrame(edge_list, "u bigint, v bigint")
    seeds_ids = [n for n in range(40) if n % 9 == 0]
    seeds = spark.createDataFrame([(s,) for s in seeds_ids], "node bigint")

    got = {
        r["node"]: r["pr"]
        for r in personalized_pagerank(edges, seeds, rounds=3).collect()
    }
    want = _ppr_reference(edge_list, seeds_ids, rounds=3)
    assert got == want

    got_aa = {
        (r["a"], r["b"]): (r["n_common"], r["aa_micro"])
        for r in adamic_adar_pairs(edges, cap=5).collect()
    }
    want_aa = {k: tuple(v) for k, v in _aa_reference(edge_list, cap=5).items()}
    assert got_aa == want_aa


def test_poisson_bootstrap_explode_never_reaches_shuffle(spark):
    """agg_poisson_bootstrap_ci: the 32x replicate explode combines
    map-side into 32 (replicate, sums) groups — the wire carries at most
    32 rows per input partition plus the 32-row order-statistics frame,
    never the exploded fact rows."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_orders = orders.count()
    n_exploded = n_orders * 32
    n_parts = spark.sparkContext.defaultParallelism
    before = last_execution_id(spark)
    QUERIES["agg_poisson_bootstrap_ci"].fn(spark, SF_CORRECT).collect()
    # session sweep, not shuffle_stats(out): the query pulls scalars in
    # internal executions the final plan never shows (VERDICT r13 #3)
    total = session_shuffle_records(spark, before)
    # one rebalance exchange of slim (key, cents) rows + the 32-group
    # combine + the 32-row order-statistics frame — the 32x explode
    # itself NEVER crosses the wire (rebalance=True spreads the
    # md5-heavy scan to defaultParallelism)
    assert total <= n_orders + 32 * n_parts + 3 * 32 + 64
    assert total < n_exploded / 10


def test_ks_two_sample_shuffles_value_grid_not_order_rows(spark):
    """agg_ks_two_sample: after the map-side (nation, cents) pair-count
    combine, every exchange is bounded by the distinct value grid — the
    cumulative-CDF window and the final per-nation aggregate never see
    raw order rows replicated."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    out = QUERIES["agg_ks_two_sample"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    # distinct (nation, cents) rows upper-bound: the 2-segment order subset
    n_pairs = orders.count()  # grid <= segment order rows (~2/5 of orders)
    # pair-count agg + window exchange + final agg, each grid-bounded
    assert s["shuffle_records"] <= 3 * n_pairs + 100
    assert s["shuffle_bytes"] < n_pairs * 3 * 120


def test_changepoint_shuffles_daily_grain_only(spark):
    """ts_changepoint_rate: the event scan reduces map-side to (type, day)
    counts; the cumulative window, candidate aggregate, and decode join
    all run on the #days-per-type-bounded frame."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_daily = events.select(
        "event_type", F.col("ts").cast("date").alias("d")
    ).distinct().count()
    n_parts = events.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["ts_changepoint_rate"].fn(spark, SF_CORRECT).collect()
    # session sweep: internal scalar pulls run executions the final
    # plan never shows (VERDICT r13 #3)
    total = session_shuffle_records(spark, before)
    assert total <= n_daily * (max(n_parts, 1) + 6) + 200
    assert total < n_events / 10


def test_pca_gram_reduction_is_dimension_squared_bounded(spark):
    """sim_pca_power_iteration: the per-row transform² explodes n·4096
    (d, d', q·q) terms, but the Gram aggregate combines them map-side —
    the wire carries at most dim² rows per partition plus the 64-row
    per-round frames, never the exploded corpus terms."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_terms = emb.count() * 64 * 64
    n_parts = spark.sparkContext.defaultParallelism
    before = last_execution_id(spark)
    QUERIES["sim_pca_power_iteration"].fn(spark, SF_CORRECT).collect()
    # session sweep: the Gram collect and per-round pulls run internal
    # executions the final plan never shows (VERDICT r13 #3);
    # rebalance=True spreads the scan to defaultParallelism
    total = session_shuffle_records(spark, before)
    assert total <= 64 * 64 * (n_parts + 4) + 24 * 64
    assert total < n_terms / 10


def test_markov_stationary_rounds_are_type_vocabulary_bounded(spark):
    """events_markov_stationary: one per-user window partition exchange is
    the only data-scaled shuffle; every power-iteration round moves at
    most |types|² transition rows + |types| mass rows."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    out = QUERIES["events_markov_stationary"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = events.rdd.getNumPartitions()
    # window partition exchange (<= event rows) + transition combine +
    # 6 rounds of (types^2 join rows + types mass rows)
    bound = n_events + n_types * n_types * (max(n_parts, 1) + 8) + 10 * n_types
    assert s["shuffle_records"] <= bound


def test_sequence_patterns_shuffles_are_vocab_bounded(spark):
    """events_sequence_patterns: the per-user window partition exchange is
    the only event-scaled shuffle. The gram explode fans out 2x event
    rows, but both aggregates combine map-side, so the candidate exchange
    carries at most users x 2·vocab³ per-user pattern rows and the final
    pattern exchange at most 2·vocab³ — never raw gram occurrences."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    n_users = events.select("user_id").distinct().count()
    out = QUERIES["events_sequence_patterns"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    vocab_k = n_types**2 + n_types**3
    # window partition (<= event rows) + per-(k,pattern,user) candidates
    # (the map-side combine caps per-partition duplicates) + pattern agg
    # + the 20-row top-k window exchange
    bound = n_events + n_users * vocab_k + 2 * vocab_k + 40
    assert s["shuffle_records"] <= bound
    # the explode generated ~2 rows/event, none of which crossed a wire raw
    assert s["generated_rows"] >= 2 * n_events - 4 * n_users
    assert s["shuffle_records"] < s["generated_rows"]


def test_deletion_neighborhood_shuffles_are_vocab_bounded(spark):
    """dedup_deletion_neighborhood: exchanges carry vocabulary-scaled
    rows (word counts, deletion variants, candidate pairs) — never part
    rows. Variant volume <= vocab x (maxlen+1); the verify join probes
    the tiny freq frame."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    part = spark.read.parquet(f"{SF_CORRECT}/part.parquet")
    n_parts = part.count()
    words = part.select(F.explode(F.split("p_name", " ")).alias("w"))
    vocab = words.select("w").distinct().count()
    max_len = words.agg(F.max(F.length("w"))).first()[0]
    out = QUERIES["dedup_deletion_neighborhood"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_scan_parts = part.rdd.getNumPartitions()
    # word-count combine (<= vocab/partition) + variant distinct +
    # candidate join/distinct + 2 freq probes + the output sort
    var_rows = vocab * (max_len + 1)
    bound = (
        vocab * (max(n_scan_parts, 1) + 4)  # freq combine + 2 probes + sort
        + 4 * var_rows  # variant distinct in + out, both join sides
        + 8 * vocab  # candidate pairs (dist<=1 pairs are vocab-sparse)
    )
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_parts * 5  # never word OCCURRENCES


def test_intra_class_cohesion_shuffles_are_label_dim_bounded(spark):
    """sim_intra_class_cohesion: the pairwise-cosine identity runs in ONE
    corpus pass; exchanges carry |labels| x 64 partial dim-sums and
    |labels| counts — never vectors, never pairs."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_vec = emb.count()
    n_labels = emb.select("label").distinct().count()
    out = QUERIES["sim_intra_class_cohesion"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_scan_parts = emb.rdd.getNumPartitions()
    bound = n_labels * 64 * (max(n_scan_parts, 1) + 2) + n_labels * (
        max(n_scan_parts, 1) + 6
    )
    assert s["shuffle_records"] <= bound
    # the all-pairs construction this replaces would cross n^2/2 rows
    assert s["shuffle_records"] < n_vec * 64


def test_trend_pair_joins_shuffle_daily_rows_not_pairs(spark):
    """ts_kendall_tau / ts_theil_sen_trend: the pairwise comparison is
    generated INSIDE a type-keyed join of the days-bounded daily frame;
    exchanges carry (type, day) rows in and per-type (or per-pair-slope)
    rows out — never event rows."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    daily = (
        events.groupBy("event_type", F.col("ts").cast("date"))
        .count()
        .count()
    )
    n_parts = events.rdd.getNumPartitions()
    for name, pair_rows_out in [
        ("ts_kendall_tau", 0),  # collapses to one row per type map-side
        ("ts_theil_sen_trend", daily * daily),  # slope rows enter a window
    ]:
        out = QUERIES[name].fn(spark, SF_CORRECT)
        out.collect()
        s = shuffle_stats(out)
        bound = (
            daily * (max(n_parts, 1) + 6)  # daily combine + both join sides
            + pair_rows_out
            + 10 * max(n_parts, 1)
        )
        assert s["shuffle_records"] <= bound, name
        assert s["shuffle_records"] < n_events, name


def test_value_band_join_is_bucketed_equi_join(spark):
    """join_value_band: the inequality predicate never becomes a
    BNLJ/Cartesian (hygiene gate) and exchanges carry 3 probes/order +
    lineitem bucket rows + per-order combines — candidate volume is band
    density x 3, not |orders| x |lineitem|."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    n_orders, n_li = orders.count(), li.count()
    out = QUERIES["join_value_band"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = max(orders.rdd.getNumPartitions(), li.rdd.getNumPartitions())
    bound = 3 * n_orders + n_li + 2 * n_orders + 10 * max(n_parts, 1)
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_orders * n_li / 100


def test_id_gaps_audit_avoids_global_window(spark):
    """audit_id_gaps: islands via the id+1 anti-pattern equi-join — two
    id-keyed exchanges plus one combined row per partition; the global
    ORDER BY window this replaces would serialize the corpus through one
    task."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_ids = events.select("event_id").distinct().count()
    out = QUERIES["audit_id_gaps"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = events.rdd.getNumPartitions()
    assert s["shuffle_records"] <= 3 * n_ids + 8 * max(n_parts, 1) + 64


def test_transition_lift_rounds_are_vocab_bounded(spark):
    """events_transition_lift: one per-user window exchange; marginals and
    probes all run over the checkpointed |types|²-bounded transition
    frame."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    n_parts = events.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["events_transition_lift"].fn(spark, SF_CORRECT).collect()
    # session sweep: the checkpointed transition frame's build is an
    # internal execution the final plan never shows (VERDICT r13 #3)
    total = session_shuffle_records(spark, before)
    bound = n_events + n_types * n_types * (max(n_parts, 1) + 12) + 128
    assert total <= bound


def test_latency_cohorts_shuffle_user_keyed_slim_rows(spark):
    """events_latency_between_types: user-keyed min/join rows + cohort
    rollups; never more than the type-filtered event slices cross a
    wire."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_su = events.where(F.col("event_type") == "signup").count()
    n_pu = events.where(F.col("event_type") == "purchase").count()
    n_users = events.select("user_id").distinct().count()
    out = QUERIES["events_latency_between_types"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = events.rdd.getNumPartitions()
    # signup combine + purchase probe + conv combine + cohort/median frames
    bound = (
        n_users * (max(n_parts, 1) + 2)
        + n_pu
        + 6 * n_users
        + 10 * max(n_parts, 1)
    )
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < (n_su + n_pu) * 3


def test_survivorship_shuffles_hashes_never_text(spark):
    """curation_survivorship: exchanges carry 32-byte digests, ids and
    source tags from the checkpointed hash frame — never document
    text."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n_docs = docs.count()
    out = QUERIES["curation_survivorship"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = docs.rdd.getNumPartitions()
    assert s["shuffle_records"] <= 6 * n_docs + 10 * max(n_parts, 1)
    # ~100 B/row of digest+tag payload; text rows would be ~10x wider
    assert s["shuffle_bytes"] < 6 * n_docs * 200


def test_daily_peaks_and_ooo_window_volume(spark):
    """events_daily_peaks / audit_out_of_order_rate: one event-scaled
    exchange each (the count combine / user window partition); everything
    downstream is days- or types-bounded."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_parts = events.rdd.getNumPartitions()
    for name, extra in [
        ("events_daily_peaks", 1024 * 8),  # daily frame into the windows
        ("audit_out_of_order_rate", 8 * max(n_parts, 1)),  # type rollup
    ]:
        out = QUERIES[name].fn(spark, SF_CORRECT)
        out.collect()
        s = shuffle_stats(out)
        assert s["shuffle_records"] <= n_events + extra + 64, name


def test_class_separation_shuffles_are_label_dim_bounded(spark):
    """sim_class_separation: one corpus pass to (label, dim) sums; the
    pair join runs on |labels| x 64 rows."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_vec = emb.count()
    n_labels = emb.select("label").distinct().count()
    out = QUERIES["sim_class_separation"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = emb.rdd.getNumPartitions()
    dims_rows = n_labels * 64
    bound = (
        dims_rows * (max(n_parts, 1) + 6)  # partial sums + joins/checkpoint
        + n_labels * n_labels * 8  # pair aggregate + magnitude probes
        + 64
    )
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_vec * 64


def test_value_rules_single_pass_one_row(spark):
    """audit_value_rules: the four indicator sums combine map-side to ONE
    row per partition; only the orderkey join moves data-scaled rows."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n = li.count() + orders.count()
    out = QUERIES["audit_value_rules"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = max(li.rdd.getNumPartitions(), orders.rdd.getNumPartitions())
    assert s["shuffle_records"] <= n + 16 * max(n_parts, 1) + 64


def test_lsh_recall_eval_cost_is_the_two_generators(spark):
    """dedup_lsh_recall_eval: the eval adds one pair-keyed join on the
    truth frame + a 4x literal explode — shuffle stays in the same order
    as running the two generators it audits."""
    from kinesis_stream_consumer_spark.operators import dedup as D
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    truth = D.prefix_filter_jaccard_pairs(docs, "text", "doc_id", 3, 0.2)
    truth.collect()
    t_stats = shuffle_stats(truth)
    cand = D.minhash_lsh_candidate_pairs(docs, "text", "doc_id", 3, 2)
    cand.collect()
    c_stats = shuffle_stats(cand)
    n_true = truth.count()
    out = QUERIES["dedup_lsh_recall_eval"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # generators (their own shuffles, rebalanced scans add ~docs rows)
    # + pair join both sides + 4x explode aggregate
    base = t_stats["shuffle_records"] + c_stats["shuffle_records"]
    n_docs = docs.count()
    assert s["shuffle_records"] <= base + 4 * n_docs + 12 * n_true + 256


def test_modularity_joins_are_node_and_edge_bounded(spark):
    """graph_modularity: LPA rounds + two label-keyed edge joins +
    community-bounded aggregates — nothing beyond edges/nodes crosses a
    wire."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    out = QUERIES["graph_modularity"].fn(spark, SF_CORRECT)
    rows = out.collect()
    s = shuffle_stats(out)
    from kinesis_stream_consumer_spark.plans.graph_shared import _co_edges

    edges = _co_edges(spark, SF_CORRECT)
    n_edges = edges.count()
    n_nodes = (
        edges.select("u").union(edges.select("v")).distinct().count()
    )
    n_parts = max(edges.rdd.getNumPartitions(), 1)
    # 3 LPA rounds (bidir join + vote agg + argmax window per round) +
    # degree agg + 2 label probes of the edge frame + community aggs
    bound = (3 + 2) * 2 * 2 * n_edges + 12 * n_nodes * (n_parts + 2) + 256
    assert s["shuffle_records"] <= bound
    assert len(rows) <= 10


def test_mann_whitney_shuffles_value_grid_not_orders(spark):
    """agg_mann_whitney: same contract as the KS row — the rank windows
    run over the distinct-cents grid; order rows cross a wire only into
    the grid-combine."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_orders = orders.count()
    grid = (
        orders.selectExpr(
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents"
        )
        .distinct()
        .count()
    )
    out = QUERIES["agg_mann_whitney"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = orders.rdd.getNumPartitions()
    # join sides (orders slice + dims) + grid combine + windows + nation agg
    bound = 2 * n_orders + 3 * grid + 40 * max(n_parts, 1) + 256
    assert s["shuffle_records"] <= bound


def test_stickiness_shuffles_identity_pairs(spark):
    """events_stickiness_ratio: distinctness reduces to (week, day, user)
    / (week, user) key sets before counting; raw events never cross a
    second exchange."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_pairs = (
        events.selectExpr("CAST(ts AS DATE) AS d", "user_id").distinct().count()
    )
    out = QUERIES["events_stickiness_ratio"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = events.rdd.getNumPartitions()
    # two distinct passes (partial distinct map-side) + week aggregates
    bound = 4 * n_pairs + 30 * max(n_parts, 1) + 128
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < 2 * n_events


def test_gapped_sequence_patterns_shuffles_are_vocab_bounded(spark):
    """events_sequence_patterns_gapped: same contract as the contiguous
    miner — the per-user window partition exchange is the only
    event-scaled shuffle; the W-way gram explode fans out in place and
    both aggregates combine map-side, so candidate exchanges carry at
    most users x vocab² per-user pattern rows and the final pattern
    exchange at most vocab² — never raw skip-gram occurrences."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES
    from kinesis_stream_consumer_spark.plans.events import _GAP_W

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    n_users = events.select("user_id").distinct().count()
    out = QUERIES["events_sequence_patterns_gapped"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    vocab2 = n_types**2
    # window partition (<= event rows) + per-(pattern,user) candidates
    # (map-side combine caps per-partition duplicates) + pattern agg +
    # the 15-row top-k window exchange
    bound = n_events + n_users * vocab2 + 2 * vocab2 + 30
    assert s["shuffle_records"] <= bound
    # the explode generated ~W rows/event, none of which crossed a wire raw
    assert s["generated_rows"] >= _GAP_W * (n_events - _GAP_W * n_users)
    assert s["shuffle_records"] < s["generated_rows"]


def test_chi_square_shuffles_cell_counts_not_events(spark):
    """agg_chi_square_independence: the contingency groupBy combines
    map-side (<= types x 7 cells per map partition); the marginal frames
    broadcast; nothing event-scaled crosses a wire."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    n_parts = events.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_chi_square_independence"].fn(spark, SF_CORRECT).collect()
    # session sweep: the checkpointed contingency cells and the marginal
    # pulls run internal executions the final plan never shows
    # (VERDICT r13 #3)
    total = session_shuffle_records(spark, before)
    cells = n_types * 7
    # cell combine per map partition + marginal/one-row aggregates
    bound = cells * max(n_parts, 1) + 6 * cells + 128
    assert total <= bound
    assert total < n_events


def test_hodges_lehmann_pairs_are_sample_bounded(spark):
    """agg_hodges_lehmann: Walsh pairs generate inside the type-keyed
    equi-join over the DETERMINISTIC bounded sample — pair volume is
    capped by the per-type sample sizes (~constant at ANY corpus size via
    the corpus-derived modulus), and the rank window shuffles exactly
    those pairs, never corpus rows."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES
    from kinesis_stream_consumer_spark.plans.aggregates import _HL_SAMPLE_TARGET

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    m = max(1, n_events // _HL_SAMPLE_TARGET)
    per_type = (
        events.where(
            (F.pmod(F.col("event_id"), F.lit(m)) == 0)
            & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .count()
        .collect()
    )
    n_sample = sum(r["count"] for r in per_type)
    n_pairs = sum(r["count"] * (r["count"] + 1) // 2 for r in per_type)
    out = QUERIES["agg_hodges_lehmann"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # join sides (2x sample) + pair rank window + per-type aggregates
    bound = 3 * n_sample + n_pairs + 128
    assert s["shuffle_records"] <= bound
    # the scale claim: pair volume is capped by the CORPUS-INDEPENDENT
    # sample target (the modulus grows with the corpus), so the shuffle
    # ceiling is a constant at any sf — at tiny local sf the pair frame
    # may exceed event count; at 100 TB it is a rounding error. The
    # honest constant: just below a modulus step the sample reaches up
    # to ~2*target-1 rows (N in (target, 2*target) keeps m=1), so pairs
    # <= ~(2*target)^2/2 = 2*target^2 (r12 review tightened this from a
    # false ~target^2 claim)
    assert n_pairs <= 2 * _HL_SAMPLE_TARGET**2
    assert (
        s["shuffle_records"]
        <= 3 * n_sample + 2 * _HL_SAMPLE_TARGET**2 + 128
    )


def test_runs_and_turning_point_shuffles_are_days_bounded(spark):
    """ts_runs_test / ts_turning_points: the only event-scaled exchange
    is the daily combine (map-side); every window pass runs over the
    days x types frame."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_cells = (
        events.selectExpr("event_type", "CAST(ts AS DATE) AS d")
        .distinct()
        .count()
    )
    n_parts = events.rdd.getNumPartitions()
    for name, passes in (("ts_runs_test", 3), ("ts_turning_points", 2)):
        out = QUERIES[name].fn(spark, SF_CORRECT)
        out.collect()
        s = shuffle_stats(out)
        # daily combine (<= cells per map partition) + window passes over
        # the days frame + per-type aggregates
        bound = n_cells * max(n_parts, 1) + passes * n_cells + 64
        assert s["shuffle_records"] <= bound, name
        assert s["shuffle_records"] < n_events, name


def test_simpson_diversity_shuffles_counts_not_text(spark):
    """text_simpson_diversity: the tokenize explode fans out in place;
    the (source, term) combine is the only token-scaled exchange and it
    carries counts, never text payloads."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n_pairs = (
        docs.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("t"),
        )
        .distinct()
        .count()
    )
    n_tokens = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    n_parts = docs.rdd.getNumPartitions()
    out = QUERIES["text_simpson_diversity"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # (source, term) partial-combined rows + the source rollup
    bound = n_pairs * max(n_parts, 1) + 4 * n_pairs + 64
    assert s["shuffle_records"] <= bound
    assert s["generated_rows"] >= n_tokens  # the explode ran in place
    assert s["shuffle_records"] < n_tokens  # ...but combined before the wire


def test_kruskal_wallis_shuffles_value_grid_not_orders(spark):
    """agg_kruskal_wallis: same contract as the MWU gate — exchanges
    carry the distinct-cents grid (plus the join sides), never a
    per-order rank row."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_orders = orders.count()
    grid = (
        orders.selectExpr(
            "o_custkey", "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c"
        )
        .select("c")
        .distinct()
        .count()
    )
    out = QUERIES["agg_kruskal_wallis"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = orders.rdd.getNumPartitions()
    # order->customer join side + (nation,cents,seg) combine + grid window
    # + rank join + per-nation aggregates
    bound = 2 * n_orders + 6 * grid * 5 + 40 * max(n_parts, 1) + 512
    assert s["shuffle_records"] <= bound


def test_neighbor_jaccard_wedges_are_orientation_capped(spark):
    """graph_neighbor_jaccard: common-neighbor counts ride the
    degree-oriented wedge join (out-degree capped O(sqrt E)); exchanges
    carry edges/degrees/triangle-fanout rows, never unoriented wedges."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.graph_shared import _co_edges
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    edges = _co_edges(spark, SF_CORRECT)
    n_edges = edges.count()
    # oriented wedge ceiling: sum over nodes of C(outdeg, 2) with the
    # degree orientation — computed exactly the way the operator orients
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    out_deg = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src")
        )
        .groupBy("src")
        .count()
    )
    n_wedges = out_deg.select(
        F.sum(F.expr("count * (count - 1) / 2"))
    ).first()[0]
    out = QUERIES["graph_neighbor_jaccard"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # degree/orientation joins (edge-scaled) + wedge closing + 3x triangle
    # fanout + edge joins for the output
    bound = 12 * n_edges + 2 * int(n_wedges) + 512
    assert s["shuffle_records"] <= bound


def test_term_burstiness_shuffles_counts_not_text(spark):
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n_pairs = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
        )
        .distinct()
        .count()
    )
    n_tokens = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    n_parts = docs.rdd.getNumPartitions()
    out = QUERIES["text_term_burstiness"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    bound = n_pairs * max(n_parts, 1) + 4 * n_pairs + 128
    assert s["shuffle_records"] <= bound
    assert s["generated_rows"] >= n_tokens
    assert s["shuffle_records"] < n_tokens


def test_cohort_ltv_shuffles_are_user_and_cell_bounded(spark):
    """events_cohort_ltv: the first-seen aggregate and the cohort join
    are user-keyed; cells combine map-side; the cumulative window runs
    over the cohorts x ages frame."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    n_purch = events.where(F.col("event_type") == "purchase").count()
    out = QUERIES["events_cohort_ltv"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    n_parts = events.rdd.getNumPartitions()
    # first-seen combine (user-bounded per partition) + purchase join
    # sides + distinct-user cell pass + cell/window frames
    bound = (
        n_users * max(n_parts, 1)
        + 2 * n_purch
        + 3 * n_users
        + 2 * n_purch
        + 1024
    )
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < 3 * n_events


def test_langid_kappa_shuffles_label_cells_only(spark):
    """text_langid_kappa: after the one scan that tokenizes and predicts,
    everything that crosses a wire is labels x labels cells. The result
    frame is driver-literal (scalar pulls + createDataFrame), so the old
    shuffle_stats(out) form measured an exchange-free plan and passed
    vacuously — migrated (r13) to the session sweep, which bounds the
    checkpoint materialization and every scalar-pull execution too."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n_docs = docs.count()
    n_parts = docs.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["text_langid_kappa"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    cells = 5 * 5  # 4 languages + 'und'
    bound = 4 * cells * max(n_parts, 1) + 16 * cells + 128
    assert total <= bound
    assert total < n_docs


def test_ljung_box_shuffles_are_days_bounded(spark):
    """ts_ljung_box: one daily combine, then every frame (#residuals,
    lag fan-out, per-lag terms) is days-bounded. Migrated (r13) to the
    session sweep: parts of the query run in scalar-pull/checkpoint
    executions the output plan alone can't see."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES
    from kinesis_stream_consumer_spark.plans.events import _LB_LAGS

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_days = events.selectExpr("CAST(ts AS DATE) AS d").distinct().count()
    n_parts = events.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["ts_ljung_box"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = (
        2 * n_days * max(n_parts, 1)
        + 2 * (_LB_LAGS + 4) * n_days
        + _LB_LAGS * 8
        + 128
    )
    assert total <= bound
    assert total < n_events


def test_user_lifespan_shuffles_are_user_bounded(spark):
    """Migrated (r13) to the session sweep — see the ljung-box note."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    events = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    n_parts = events.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["events_user_lifespan"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    # user min/max combine + weeks-bucket aggregate + the tiny window
    bound = 2 * n_users * max(n_parts, 1) + 4 * n_users + 512
    assert total <= bound
    assert total < n_events


def test_silhouette_shuffles_are_k_bounded(spark):
    """sim_silhouette_eval: centroids broadcast; the exploded component
    rows (corpus x dim) combine to (vid, cell) partials before the wire,
    so every exchange carries <= corpus x k rows, and the raw corpus
    never shuffles."""
    from kinesis_stream_consumer_spark.plans.llm_pipeline import _KMEANS_K
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_corpus = emb.count()
    n_parts = emb.rdd.getNumPartitions()
    out = QUERIES["sim_silhouette_eval"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    k = _KMEANS_K
    # distance combine (corpus x k) + argmin/own join sides + b aggregate
    # + per-cell rollup (model-training shuffles are session-cached and
    # may or may not be included depending on cache state; bound both)
    bound = 6 * n_corpus * k + 4 * n_corpus + 64 * max(n_parts, 1) + 512
    assert s["shuffle_records"] <= bound
    # the component explode (corpus x 64) runs in place, never on a wire
    assert s["generated_rows"] >= 64 * n_corpus


def test_pq_distortion_shuffles_are_mk_bounded(spark):
    """sim_pq_distortion_eval: the codebook broadcasts; component rows
    combine to (vid, sub, cell) partials before any wire, then reduce to
    (vid, sub) minima and m-row aggregates."""
    from kinesis_stream_consumer_spark.plans.llm_pipeline import (
        _PQ_K,
        _PQ_M,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    n_corpus = emb.count()
    n_parts = emb.rdd.getNumPartitions()
    out = QUERIES["sim_pq_distortion_eval"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    # distance combine (corpus x m x k) + per-(vid,sub) minima + energy
    # partials + m-row rollups (+ session-cached training when cold)
    bound = (
        3 * n_corpus * _PQ_M * _PQ_K
        + 4 * n_corpus * _PQ_M
        + 64 * max(n_parts, 1)
        + 512
    )
    assert s["shuffle_records"] <= bound
    # (no generated_rows floor here: the component rows sit behind a
    # lazy localCheckpoint, so the generate node's metrics live in the
    # checkpoint-materialization subtree, not the final plan)

def test_friedman_shuffles_cell_grid_not_events(spark):
    """agg_friedman_test: ONE map-side-combined (type, dow) aggregate
    touches the corpus; every exchange after it carries the <= k*7 cell
    grid. The result frame is driver-literal, so the gate sweeps ALL the
    executions the query ran (session_shuffle_records), not just the
    output plan."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_types = ev.select("event_type").distinct().count()
    cells = 7 * n_types
    n_parts = ev.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_friedman_test"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * cells + 12 * cells + 1024
    assert total <= bound
    assert bound < n_events  # the gate is meaningful at this sf


def test_jonckheere_shuffles_value_grid_not_pairs(spark):
    """agg_jonckheere_trend: the order side broadcasts (stats-gated), the
    (group, latency-day) combine bounds the corpus-touching exchange, and
    all window passes run on the 5 x days grid — NO cross-group pair ever
    crosses a wire (the brute-force definition is ~0.4*N^2 pairs)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_li = li.count()
    grid = 5 * (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .selectExpr("datediff(l_shipdate, o_orderdate) AS v")
        .distinct()
        .count()
    )
    n_parts = li.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_jonckheere_trend"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    # one corpus combine (partials bounded by rows) + a constant number
    # of joins/windows/distincts over the bounded grid
    bound = 2 * n_li + 2 * n_parts * grid + 4096
    assert total <= bound
    assert bound < (n_li * n_li) // 100  # pairs would blow this by 1000x


def test_rich_club_shuffles_edges_and_histograms_only(spark):
    """graph_rich_club: no per-threshold subgraph ever materializes —
    with the shared edge checkpoint warm, everything on the wire is the
    degree build, two endpoint-degree joins, and the histogram/axis
    frames; never thresholds x edges."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.graph_shared import _co_edges
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    edges = _co_edges(spark, SF_CORRECT)  # warm the shared checkpoint
    n_edges = edges.count()
    before = last_execution_id(spark)
    QUERIES["graph_rich_club"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = 14 * n_edges + 1024
    assert total <= bound


def _events_span_days(ev):
    """Calendar span of the events corpus in days, measured from the data
    (ADVICE r13: a hard-coded 40 would fail spuriously — or silently
    loosen — if the test data regenerates with a different span). The
    survival queries' duration values are day deltas within the span, so
    distinct death days <= span."""
    row = ev.selectExpr(
        "datediff(max(CAST(ts AS DATE)), min(CAST(ts AS DATE))) AS s"
    ).first()
    return int(row["s"] or 0) + 1


def test_survival_km_shuffles_users_then_days(spark):
    """events_survival_km: ONE per-user aggregate touches the corpus
    (map-side combined); the histogram, risk windows, packing and the
    O(D^2) folds all run on the span-days frame."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_survival_km"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 12 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_nelson_aalen_shuffles_users_then_days(spark):
    """events_hazard_nelson_aalen: same contract as the KM gate — one
    per-user combine touches the corpus, then days-bounded frames."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_hazard_nelson_aalen"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 12 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_survival_logrank_shuffles_users_then_days(spark):
    """events_survival_logrank: the KM/Nelson-Aalen contract with a 2x
    group factor — one per-user combine, then 2 x span-days frames."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_survival_logrank"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 24 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_survival_rmst_shuffles_users_then_days(spark):
    """events_survival_rmst: the KM contract — one per-user combine, then
    span-days frames (curve, LEAD segments, scalar pulls)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_survival_rmst"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 24 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_stratified_logrank_shuffles_users_then_strata_days(spark):
    """events_survival_logrank_stratified: the log-rank contract with a
    7-strata factor — one per-user combine touches the corpus, then
    7 x 2 x span-days frames and driver-literal scalars (session-sweep
    gated: the result frame is literal)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_survival_logrank_stratified"].fn(
        spark, SF_CORRECT
    ).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 7 * 24 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_hazard_ratio_shuffles_users_then_days(spark):
    """events_hazard_ratio_mh: identical wire contract to the log-rank
    gate — one per-user combine, then 2 x span-days frames."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["events_hazard_ratio_mh"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * n_users + n_users + 24 * days + 1024
    assert total <= bound
    assert bound < 2 * n_events


def test_page_trend_shuffles_cell_grid_not_events(spark):
    """agg_page_trend: the Friedman wire contract transposed — ONE
    map-side-combined (type, dow) aggregate touches the corpus; every
    exchange after carries the <= 7k cell grid (driver-literal result,
    session-sweep gated)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_types = ev.select("event_type").distinct().count()
    cells = 7 * n_types
    n_parts = ev.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_page_trend"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * cells + 12 * cells + 1024
    assert total <= bound
    assert bound < n_events


def test_cochran_q_shuffles_day_type_grid_only(spark):
    """agg_cochran_q: ONE map-side-combined (day, type) count aggregate
    touches the corpus; the share filter is a window over the grid and
    the square sums are grid aggregates pulled as driver literals."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_types = ev.select("event_type").distinct().count()
    days = _events_span_days(ev)
    cells = days * n_types
    n_parts = ev.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_cochran_q"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_parts * cells + 16 * cells + 1024
    assert total <= bound
    assert bound < n_events


def test_gamma_shuffles_value_grid_not_pairs(spark):
    """agg_goodman_kruskal_gamma: the Jonckheere wire contract — order
    side broadcasts, the (group, latency-day) combine bounds the
    corpus-touching exchange, all window passes run on the 5 x days
    grid; NO cross-group pair ever crosses a wire."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_li = li.count()
    grid = 5 * (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .selectExpr("datediff(l_shipdate, o_orderdate) AS v")
        .distinct()
        .count()
    )
    n_parts = li.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_goodman_kruskal_gamma"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = 2 * n_li + 3 * n_parts * grid + 4096
    assert total <= bound
    assert bound < (n_li * n_li) // 100


def test_holt_linear_shuffles_daily_grain_only(spark):
    """ts_holt_linear: ONE map-side-combined per-day aggregate touches
    the corpus; the checkpointed day series, the collect_list fold frame
    and the posexplode output are all span-days-bounded (session-sweep
    gated: the series build and count run internal executions)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    before = last_execution_id(spark)
    QUERIES["ts_holt_linear"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = days * (max(n_parts, 1) + 8) + 256
    assert total <= bound
    assert total < n_events / 10


def test_mean_excess_shuffles_daily_histogram_only(spark):
    """events_mean_excess_curve: one per-day combine + the distinct
    daily-total histogram and its suffix windows — nothing event-scaled
    crosses a wire after the first exchange."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    out = QUERIES["events_mean_excess_curve"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    bound = days * (max(n_parts, 1) + 8) + 256
    assert s["shuffle_records"] <= bound
    assert s["shuffle_records"] < n_events / 10


def test_recurrent_mcf_shuffles_users_and_days_only(spark):
    """events_recurrent_mcf: one per-user combine + one filtered per-day
    combine touch the corpus; the difference array, merge and windows
    are span-days-bounded."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    n_parts = ev.rdd.getNumPartitions()
    days = _events_span_days(ev)
    out = QUERIES["events_recurrent_mcf"].fn(spark, SF_CORRECT)
    out.collect()
    s = shuffle_stats(out)
    bound = n_parts * n_users + 2 * n_users + 16 * days + 1024
    assert s["shuffle_records"] <= bound
    assert bound < 2 * n_events


def test_ansari_bradley_shuffles_value_grid_not_ranks(spark):
    """agg_ansari_bradley: the order side broadcasts (stats-gated), one
    (value) grid combine bounds the corpus-touching exchange, and the
    closed-form score arithmetic never materializes a rank row
    (session-sweep gated: grid scalars are pulled as driver literals)."""
    from kinesis_stream_consumer_spark.functions.metrics import (
        last_execution_id,
        session_shuffle_records,
    )
    from kinesis_stream_consumer_spark.plans.queries import QUERIES

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    n_li = li.count()
    grid = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .selectExpr("datediff(l_shipdate, o_orderdate) AS v")
        .distinct()
        .count()
    )
    n_parts = li.rdd.getNumPartitions()
    before = last_execution_id(spark)
    QUERIES["agg_ansari_bradley"].fn(spark, SF_CORRECT).collect()
    total = session_shuffle_records(spark, before)
    bound = n_li + 3 * n_parts * grid + 4096
    assert total <= bound
    assert bound < (n_li * n_li) // 100
