"""Plan-hygiene gate over EVERY registered query: the physical plan must
not contain the operators that kill 100 TB runs — cartesian products
(unless the query's design is an intentional broadcast cross score) and
row-at-a-time Python UDF evaluation (BatchEvalPython; Arrow-batched
pandas forms are the sanctioned Python surface)."""

from __future__ import annotations

import contextlib
import io

import pytest

from kinesis_stream_consumer_spark.plans import QUERIES
from tests.conftest import SF_SMOKE

# Queries whose plan INTENTIONALLY contains a cross join: the brute-force
# scorer broadcasts a tiny query set against corpus partitions (the
# documented baseline), IVF assigns cells by broadcast-scoring against
# the centroid set, and the JL random-projection scorer broadcasts the
# projected query set (the same shape at 1/8th the per-pair flops).
# Everything else must be equi-driven.
CROSS_JOIN_OK = {
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "sim_random_projection_topk",
    "sim_ann_recall_eval",  # composes the two broadcast scorers above
    "sim_mips_topk",  # same broadcast-scorer shape, inner-product score
    "sim_radius_search",  # broadcast scorer, threshold instead of top-k
    "sim_hard_negatives",  # broadcast scorer + map-side label filter
    "sim_knn_label_eval",  # reuses the brute-force broadcast scorer on the
    # deterministic vec_id%5 query sample (bounded at any corpus size)
}

# State-writing queries excluded from the cheap explain pass (they create
# tables/write state as a side effect of building the DataFrame).
SKIP = {"join_bucketed_colocated"}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", [n for n in QUERIES if n not in SKIP])
def test_plan_has_no_scale_killers(spark, name):
    df = QUERIES[name].fn(spark, SF_SMOKE)
    plan = _plan(df)
    if name not in CROSS_JOIN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join — add an equi key or broadcast+"
            "window instead"
        )
    # row-at-a-time Python UDFs are banned everywhere; Arrow-batched
    # pandas evaluation (ArrowEvalPython / mapInPandas / FlatMapGroups*)
    # is the sanctioned Python surface
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"


# --- forced-broadcast gating (VERDICT r4 #1) -------------------------------
# A forced F.broadcast bypasses autoBroadcastJoinThreshold, so hinting a
# row-scaled table (customer sf x 150k, part sf x 200k, supplier sf x 10k)
# OOMs at the 100x target. Row-scaled hints must go through
# plans.queries._bcast_if_small, which withholds the hint above
# BROADCAST_ROW_CEILING and lets AQE decide from runtime sizes.

# (query, ResolvedHint count when stats say "huge") — the remaining hints
# are nation/region-derived, fixed-size at any sf.
GATED_BROADCASTS = {
    "q3_top_orders": 0,
    "q5_region_revenue": 4,
    "q10_returned_revenue_top": 1,
    "q14_promo_revenue_share": 0,
}


def _n_hints(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


@pytest.mark.parametrize("name", sorted(GATED_BROADCASTS))
def test_row_scaled_broadcast_hint_is_stats_gated(spark, name, monkeypatch):
    """With catalog stats above the ceiling, the row-scaled table's hint
    disappears from the analyzed plan (AQE decides); locally (small stats)
    it stays, so the sf0.1 plans are unchanged."""
    import kinesis_stream_consumer_spark.plans.queries as Q

    small = _n_hints(QUERIES[name].fn(spark, SF_SMOKE))
    monkeypatch.setattr(Q, "_table_row_count", lambda sf_dir, t: 10**9)
    big = _n_hints(QUERIES[name].fn(spark, SF_SMOKE))
    assert big == GATED_BROADCASTS[name], (
        f"{name}: expected only fixed-size hints above the ceiling, got {big}"
    )
    assert small > big, f"{name}: hint should be PRESENT under small stats"


def test_no_unguarded_broadcast_of_row_scaled_tables():
    """Registry-wide static gate: every direct F.broadcast( in plans/ must
    hint an identifier on the fixed-size allowlist (nation/region frames);
    anything else must route through _bcast_if_small. Catches new queries
    that reintroduce a forced row-scaled broadcast."""
    import re as _re
    from pathlib import Path

    import kinesis_stream_consumer_spark.plans as plans_pkg

    # nation/region-derived frames (fixed 25/5 rows at any sf) plus the
    # MaxSim query sub-vector set (bounded by the query workload, not the
    # corpus — the same class as the query-set broadcasts in operators/)
    # sidx: curation_interleave's literal source-index frame (bounded by
    # #sources, created from a driver list — never row-scaled)
    # idf: text_bm25_topk's per-term document-frequency frame — at most
    # len(_BM25_TERMS) rows (fixed query workload), never corpus-scaled
    # stot: text_source_lift_classifier's per-source token totals — a
    # local relation rebuilt from the #sources-bounded collected rows
    # prl: text_source_overlap_kmv's pair-membership table — 2 rows per
    # source pair, built from the driver-collected source list (the
    # model-table pattern), never row-scaled
    # r9 additions — all GROUP-CARDINALITY-bounded aggregate frames
    # (one row per language / event type / return flag / phase / label /
    # embedding dimension — fixed enumerations, never row-scaled):
    # langt: agg_topk_misra_gries per-language token totals
    # etn/etq: audit_outlier_iqr per-event-type counts / quartiles
    # fln/flmed/flmad: agg_mad_robust_z per-return-flag count/median/MAD
    # flw: agg_weighted_median per-return-flag quantity totals
    # dimg/labn: agg_embedding_centroid_shift per-dimension sums (64) /
    #            per-label counts
    # pht: curation_curriculum_schedule per-phase token totals (3)
    allowed = {
        "na", "re", "na_asia", "n1", "n2", "qs", "sidx", "idf", "stot",
        "prl",
        "langt", "etn", "etq", "fln", "flmed", "flmad", "flw",
        "dimg", "labn", "pht",
        # lgt: text_langid_confusion per-labeled-language totals (#langs)
        # natt/nattop: agg_pareto_share per-nation totals / top-decile
        #              sums (25 rows, nation-derived)
        "lgt", "natt", "nattop",
        # vdim: sim_pca_power_iteration's 64-row loading frame (one row
        # per embedding dimension, rebuilt each power-iteration round —
        # dimension-bounded, never row-scaled)
        "vdim",
        # r10 additions — group-cardinality-bounded aggregate frames:
        # natm: agg_skewness_kurtosis per-nation (n, mean) pass-1 frame
        # ssb: ts_seasonal_strength per-type between-group sums
        # ttot: agg_magnitude_histogram per-type totals
        # stot (already listed): also text_jsd_source_divergence's
        #     per-source token totals — same #sources bound
        "natm", "ssb", "ttot",
        # topk: engine_topk_from_cms candidate register —
        #     k rows per shard (WindowGroupLimit-truncated,
        #     checkpointed), never row-scaled
        "topk",
        # sza/szb: events_audience_overlap per-type set sizes —
        #     #event-types rows (bounded enumeration)
        "sza", "szb",
        # centq/rowt: sim_centroid_confusion per-(label,dim) centroid
        #     frame (10x64 rows) / per-label row totals — bounded
        "centq", "rowt",
        # r12 additions — group-cardinality-bounded aggregate frames:
        # etm/dowm: agg_chi_square_independence marginals — one row per
        #     event type / per ISO weekday (<= 7), never row-scaled
        "etm", "dowm",
    }
    # Module-scoped entries (ADVICE r12): generic identifiers that are
    # safe ONLY where a specific module binds them to a bounded frame —
    # a global allowlist would silently exempt any future row-scaled
    # frame that reuses the name (e.g. "cents" is also a money-column
    # name in agg_kruskal_wallis and events_cohort_ltv).
    # cents @ similarity.py: the TRAINED model's literal centroid/codebook
    #     frame (k x dim rows for k-means, m*k*sub_dim for PQ) returned by
    #     _coarse_model/_pq_model — model-sized by construction (the
    #     driver-side Lloyd trains on the bounded id-modulus sample and
    #     ships literals), never row-scaled; used by the silhouette/
    #     distortion eval rows exactly like the serving queries broadcast
    #     it inside operators/similarity.py
    allowed_scoped = {
        "cents": {"similarity.py"},
    }
    offenders = []
    for path in Path(plans_pkg.__path__[0]).glob("*.py"):
        if path.name == "queries.py":  # helper definition itself
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            for m in _re.finditer(r"F\.broadcast\(\s*([A-Za-z_]\w*)", line):
                ident = m.group(1)
                if ident in allowed:
                    continue
                if path.name in allowed_scoped.get(ident, ()):
                    continue
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, (
        "forced broadcast of a non-allowlisted frame in plans/ — use "
        "_bcast_if_small for row-scaled tables:\n" + "\n".join(offenders)
    )


def _executed_plan_descriptions(spark, from_execution_id: int) -> list[str]:
    """Physical-plan descriptions of every SQL execution with id >
    ``from_execution_id`` — the engine runs many internal jobs per batch;
    this captures ALL of them, not just the plans a test happens to hold a
    DataFrame for."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        if e.executionId() > from_execution_id:
            out.append(e.physicalPlanDescription())
    return out


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


def test_engine_batch_plans_have_no_batch_eval_python(spark, tmp_path):
    """The engine holds itself to the same bar as the query registry: no
    SQL execution issued by process_batch (ingest, sequencing, revive join,
    exec, processAll scoping, finalise, state save, counters) may contain a
    row-wise Python UDF (BatchEvalPython). The exec/finalise passes are
    Arrow-batched mapInPandas; the processAll scope flag is emitted by the
    exec fn itself rather than derived by a per-row UDF afterwards."""
    from kinesis_stream_consumer_spark.streaming import TaskDef
    from tests.test_engine import make_engine, noop, records_df

    def master(batch_df, engine):
        batch_df.count()
        return None

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", noop)],
        all_defs=[TaskDef("agg", master)],
    )
    mark = _last_execution_id(spark)
    res = eng.process_batch(records_df(spark, 12), batch_id=1)
    assert res.fully_finalised == 12
    plans = _executed_plan_descriptions(spark, mark)
    assert plans, "no SQL executions captured for the engine batch"
    for p in plans:
        assert "BatchEvalPython" not in p, (
            "engine batch plan contains a row-wise Python UDF:\n" + p[:2000]
        )
