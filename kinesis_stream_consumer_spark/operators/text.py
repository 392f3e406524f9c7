"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage codegen) —
no Python UDFs in the hot path, so they scale linearly with executors and
survive a 100× scale-up without Arrow/pickle overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.functions.numeric import round_half_up

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic: language ID at 100 TB must
# be a cheap column expression, not a model inference.
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "auf", "ist"),
    "fr": ("le", "la", "les", "de", "et", "des", "un", "une", "dans", "est"),
}

PUNCT_RE = r"[^\w\s]"
# BPE-ish token pattern: word pieces, numbers, or single punctuation marks
BPE_TOKEN_RE = r"[A-Za-z]+|\d+|[^\w\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via the BPE-like regex (letters / digits /
    punctuation all count separately) — a deterministic stand-in for a real
    tokenizer's length signal."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0))


def stopword_hits(text: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*words)))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword quality signals (rounded so the
    DuckDB oracle hash-matches)."""
    n_tok = token_count(text)
    n_chars = F.length(text)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": round_half_up((n_chars - (n_tok - 1)) / n_tok, 4),
        "punct_ratio": round_half_up(
            punct_count(text) / F.greatest(n_chars, F.lit(1)), 4
        ),
        "stopword_ratio": round_half_up(
            stopword_hits(text, "en") / F.greatest(n_tok, F.lit(1)), 4
        ),
    }


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1]: rewards moderate length,
    some English stopwords, low punctuation density."""
    feats = quality_features(text)
    len_score = F.least(feats["n_tokens"] / F.lit(20.0), F.lit(1.0))
    stop_score = F.least(feats["stopword_ratio"] * 5.0, F.lit(1.0))
    punct_penalty = F.least(feats["punct_ratio"] * 5.0, F.lit(1.0))
    return round_half_up(
        0.5 * len_score + 0.5 * stop_score - 0.25 * punct_penalty, 4
    )


def lang_id_from_tokens(lowered_toks: Column) -> Column:
    """Stopword-hit language ID from a LOWERCASED token-array column; ties
    broken by fixed language order (en > es > de > fr), 'und'
    (undetermined) when no hits.

    Hot paths should pass a MATERIALIZED token column (a projection step):
    the per-language hit counts each reference the tokens, and with an
    inline tokens(lower(text)) expression Catalyst re-evaluates the regex
    split once per language — measured 3× slower (same trick as
    shingles_from_tokens)."""

    def _pred(words):
        # closure factory: a 2-arg lambda would receive Spark's element
        # index as the second argument, not the default
        return lambda t: t.isin(*words)

    hit_cols = {
        lang: F.size(F.filter(lowered_toks, _pred(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*hit_cols.values())
    expr = F.lit("und")
    # fixed priority order, reversed build so 'en' wins ties
    for lang in reversed(list(LANG_STOPWORDS)):
        expr = F.when(
            (hit_cols[lang] > 0) & (hit_cols[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def char_ngram_min_fingerprint(text: Column, n: int = 5) -> Column:
    """Document fingerprint: min-of-md5 over all character n-grams
    (winnowing-style selection with window = whole doc). Deterministic,
    robust to word order; an O(len) column expression."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))
    )
    grams = F.transform(positions, lambda i: F.md5(F.substring(text, i, n).cast("binary")))
    return F.array_min(grams)


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles over a token-array Column — the single
    shared shingle-window builder (dedup + text paths both use this).

    Pass a MATERIALIZED token column (a projection step) in hot paths:
    with `toks` as a column reference each element_at is O(1); inlining
    tokens() makes Catalyst re-evaluate the regex split per element_at —
    k full splits per shingle position, O(k·n²) per document (see
    dedup.shingle_sets for the linear-time two-step)."""
    positions = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(
            positions,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
    )


def repetition_gram_rows(df, text_col: str, id_col: str):
    """(doc, kind, gram) rows for repetition analysis: kind 0 = unigrams
    (every token occurrence), kind 1 = adjacent bigrams. Counts matter
    here (unlike the DISTINCT shingle sets), so this explodes occurrences.

    Scale shape: the token array materializes once per doc (same
    linear-time two-step as shingle_sets); bigrams come from a transform
    over the SAME array — no window function, no per-doc shuffle. The
    downstream aggregations key on (doc, kind, gram) then (doc, kind):
    uniform keys with map-side combine, so the plan is two slim hash
    shuffles at any corpus size.
    """
    from pyspark.sql import functions as F

    toked = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    )
    uni = toked.select(
        "doc", F.lit(0).alias("kind"), F.explode("toks").alias("gram")
    )
    big = toked.select(
        "doc",
        F.lit(1).alias("kind"),
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (t, i) -> concat(t, ' ', element_at(toks, i + 2)))"
            )
        ).alias("gram"),
    )
    return uni.unionByName(big)


# Representative Gopher-style repetition thresholds (Rae et al. 2021,
# "Scaling Language Models" appendix A1.1 uses per-n-gram thresholds of
# this magnitude): docs whose single most frequent word exceeds 20% of
# tokens, or where words inside repeated bigrams exceed 50%, are flagged.
REPETITION_TOP_UNIGRAM_MAX = 0.2
REPETITION_DUP_BIGRAM_MAX = 0.5


def _cms_bucket_pairs(width: int, depth: int):
    """The sketch's salted bucket layout as ONE shared expression — an
    array of (d, b) structs per token, b = md5_u56_le(f"{d}|tok") % width.
    Build-side (cms_bucket_rows) and lookup-side (cms_token_estimates)
    both explode this same expression, so the hash/salt format cannot
    drift between the sketch and its probes."""
    from kinesis_stream_consumer_spark.operators.dedup import md5_u56_le

    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (md5_u56_le(F.concat(F.lit(f"{d}|"), F.col("tok"))) % width).alias("b"),
            )
            for d in range(depth)
        ]
    )


def cms_bucket_rows(df, text_col: str, width: int = 256, depth: int = 4):
    """(tok, d, b) rows — one row per token occurrence per sketch depth,
    with b the md5-salted bucket. The pre-aggregation layout shared by the
    batch sketch and the STREAMING sketch (a streaming groupBy(d, b) count
    over these rows maintains the CMS incrementally across micro-batches —
    sketches are linear, so the merged counters equal the batch sketch)."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    return toks.select("tok", F.explode(_cms_bucket_pairs(width, depth)).alias("p")).select(
        "tok", F.col("p.d").alias("d"), F.col("p.b").alias("b")
    )


def cms_token_estimates(
    df,
    text_col: str,
    width: int = 256,
    depth: int = 4,
    top_n: int = 20,
):
    """Count–Min-Sketch heavy-hitter estimation over token occurrences:
    build a depth×width CMS (md5-salted bucket rows, counts per
    (depth, bucket)) and report, for the exact top-``top_n`` tokens, the
    exact count next to the sketch estimate (min over depths of the
    token's bucket counts) and the overestimate in basis points.

    The sketch is the bounded-memory path for frequency queries at scale:
    its size is depth·width counters REGARDLESS of vocabulary, so where a
    full token count needs a vocabulary-sized shuffle, the sketch
    aggregate reduces to ≤ depth·width rows with map-side combine — the
    standard streaming/heavy-hitter trade (Cormode & Muthukrishnan 2005).
    Estimates only ever OVERcount (collisions add), which the output
    makes visible per token. All hashing is md5 (cross-engine exact); no
    randomness, no Python.

    The exploded token frame is checkpointed ONCE and feeds both the
    sketch aggregate and the exact-count side — tokenization is the
    dominant map cost and must not run twice.
    """
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("tok")
    ).localCheckpoint(eager=True)
    pairs = _cms_bucket_pairs(width, depth)
    sketch = (
        toks.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.d").alias("d"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    # orderBy+limit plans as TakeOrderedAndProject (distributed top-N) —
    # a global row_number window would drag the whole vocabulary through
    # one partition
    top = exact.orderBy(F.col("exact_count").desc(), "tok").limit(top_n)
    tb = top.select("tok", "exact_count", F.explode(pairs).alias("p")).select(
        "tok", "exact_count", F.col("p.d").alias("d"), F.col("p.b").alias("b")
    )
    est = (
        tb.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        F.col("tok").alias("token"),
        F.col("exact_count").cast("long").alias("exact_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        F.floor(
            10000.0
            * (F.col("cms_estimate") - F.col("exact_count"))
            / F.col("exact_count")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("overest_bp"),
    )


def winnowing_fingerprints(df, text_col: str, id_col: str,
                           k: int = 20, w: int = 4):
    """(doc_id, hv) — the DISTINCT winnowing-selected fingerprint hashes
    of each document (Schleimer/Wilkerson/Aiken local algorithm): hash
    every character k-gram, slide a window of ``w`` consecutive gram
    hashes, select each window's RIGHTMOST MINIMAL hash. Guarantee: any
    substring of length >= k + w - 1 shared by two documents produces at
    least one shared fingerprint.

    Plan shape: positions explode map-side (one md5 per char position),
    each position fans out to the <= w windows covering it, and the
    rightmost-min rule is ONE primitive long HashAggregate per (doc,
    window): enc = hv * 2^20 + (2^20 - 1 - pos), whose MIN is the
    smallest hash and, among ties, the LARGEST position — the 40-bit
    md5 slice (dedup.md5_u40_le) exists so the pack fits a long. The
    2^20 pack bound caps document length at ~1M chars (asserted via the
    position filter: longer docs would need a wider pack, not a new
    algorithm)."""
    from kinesis_stream_consumer_spark.operators.dedup import md5_u40_le

    ng = F.length(F.col(text_col)) - (k - 1)
    g = (
        df.where(F.length(F.col(text_col)) >= k + w - 1)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_txt"),
            ng.alias("ng"),
        )
        .select(
            "doc_id",
            "_txt",
            "ng",
            F.explode(F.sequence(F.lit(1), F.col("ng").cast("int"))).alias("p"),
        )
    )
    h = g.select(
        "doc_id",
        "ng",
        "p",
        (
            md5_u40_le(F.expr(f"substring(_txt, p, {k})")) * 1048576
            + (1048575 - F.col("p"))
        ).alias("enc"),
    )
    # each window j's rightmost-min = MIN(enc) over the w-row frame
    # starting at j — a frame-bounded running min over ONE doc-keyed sort
    # instead of exploding every position into its <= w windows and hash-
    # aggregating the 4x row volume (A/B r5: 5.8s -> ~2s at sf0.1; the
    # shuffle carries slim (doc, p, enc) longs either way, but the window
    # form never materializes the blowup)
    from pyspark.sql.window import Window as W

    wf = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.currentRow, w - 1)
    )
    sel = h.select(
        "doc_id",
        "ng",
        "p",
        F.min("enc").over(wf).alias("enc"),
    ).where(F.col("p") <= F.col("ng") - (w - 1))
    return sel.select(
        "doc_id", F.expr("enc div 1048576").alias("hv")
    ).distinct()
