"""Graph analytics over the user/item co-occurrence edge list that
plans/graph_shared.py builds: centrality, communities, link
prediction and motif counts (the ``graph_*`` names; the earliest of
them live in plans/relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_consumer_spark.plans.graph_shared import (
    _COEDGES_SQL,
    _LPA_ROUNDS,
    _co_edges,
    _lpa_round_sql,
)
from kinesis_stream_consumer_spark.plans.queries import _t, register


# --- graph ranking ----------------------------------------------------------

_PPR_BRAND = "Brand#4"
_PPR_ROUNDS = 3
_PPR_TOP = 30


def _ppr_round_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
    p{i} AS (
      SELECT b.d AS node, (17 * SUM(p.pr // g.dg)) // 20 AS prop
      FROM bidir b
      JOIN {prev} p ON p.node = b.s
      JOIN deg g ON g.s = b.s
      GROUP BY 1
    ),
    r{i} AS (
      SELECT COALESCE(t.node, p.node) AS node,
             COALESCE(t.tel, 0) + COALESCE(p.prop, 0) AS pr
      FROM tel t FULL JOIN p{i} p ON p.node = t.node
    )"""


@register(
    "graph_personalized_pagerank",
    f"""
    WITH {_COEDGES_SQL},
    bidir AS (
      SELECT u AS s, v AS d FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT s, COUNT(*) AS dg FROM bidir GROUP BY s),
    seeds AS (
      SELECT DISTINCT p_partkey AS node FROM part
      WHERE p_brand = '{_PPR_BRAND}'
    ),
    tel AS (SELECT node, CAST(150000 AS BIGINT) AS tel FROM seeds),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM seeds),
    {",".join(_ppr_round_sql(i).lstrip() for i in range(1, _PPR_ROUNDS + 1))}
    SELECT node AS part_id, CAST(pr AS BIGINT) AS ppr_micro, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rnk
      FROM r{_PPR_ROUNDS}
    ) WHERE rnk <= {_PPR_TOP}
    ORDER BY rnk
    """,
    doc="Personalized PageRank over the co-purchase graph with a teleport "
    f"vector on one brand's parts ({_PPR_BRAND}) — 'rank the catalog by "
    "proximity to THIS product line', the recommender/expansion query "
    f"plain PageRank can't answer. {_PPR_ROUNDS} unrolled power "
    "iterations in exact integer micro-units (teleport 150000 per seed "
    "per round, damping 0.85 as (17·x) div 20, per-edge mass pr div deg "
    "— all masses non-negative so truncating and flooring division "
    "agree), so the DuckDB unrolled-CTE oracle matches bit-for-bit. "
    "Scale shape: per round one vertex-keyed equi-join of the CURRENT "
    "mass frontier (bounded by the seed set's i-hop neighbourhood, "
    "never the whole graph) with the shared checkpointed edge frame + "
    "one destination-keyed aggregate with map-side combine + a full "
    "outer join against the #seeds-bounded teleport frame; per-round "
    "checkpoints keep lineage flat (gate-asserted vertex-bounded round "
    "shuffles in test_shuffle_volume); global top-30 plans as "
    "TakeOrderedAndProject.",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = _co_edges(spark, sf_dir)  # session-cached checkpoint
    seeds = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == _PPR_BRAND)
        .select(F.col("p_partkey").alias("node"))
        .distinct()
    )
    pr = personalized_pagerank(edges, seeds, rounds=_PPR_ROUNDS)
    top = pr.orderBy(F.col("pr").desc(), "node").limit(_PPR_TOP)
    w = Window.orderBy(F.col("pr").desc(), "node")
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            F.col("node").alias("part_id"),
            F.col("pr").alias("ppr_micro"),
            "rnk",
        )
        .orderBy("rnk")
    )


_AA_CAP = 32
_AA_TOP = 20


@register(
    "graph_adamic_adar",
    f"""
    WITH {_COEDGES_SQL},
    bidir AS (
      SELECT u AS s, v AS d FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    degs AS (SELECT s, COUNT(*) AS dg FROM bidir GROUP BY s),
    adj AS (
      SELECT s, d FROM (
        SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s ORDER BY d) AS rn
        FROM bidir) WHERE rn <= {_AA_CAP}
    ),
    wadj AS (
      SELECT a.s, a.d,
             CASE WHEN g.dg >= 2
                  THEN CAST(FLOOR(1000000.0 / LN(g.dg) + 0.5) AS BIGINT)
                  ELSE 0 END AS w_micro
      FROM adj a JOIN degs g ON g.s = a.s
    ),
    wedges AS (
      SELECT e1.d AS a, e2.d AS b, e1.w_micro
      FROM wadj e1 JOIN adj e2 ON e1.s = e2.s AND e1.d < e2.d
    ),
    aa AS (
      SELECT a, b, COUNT(*) AS n_common, SUM(w_micro) AS aa_micro
      FROM wedges GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT aa.a, aa.b, aa.n_common, aa.aa_micro FROM aa
      LEFT JOIN edges x ON x.u = aa.a AND x.v = aa.b
      WHERE x.u IS NULL
    )
    SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
           CAST(aa_micro AS BIGINT) AS aa_micro, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY aa_micro DESC, a, b) AS rnk
      FROM nonadj
    ) WHERE rnk <= {_AA_TOP}
    ORDER BY rnk
    """,
    doc="Adamic-Adar link prediction on the co-purchase graph: top-20 "
    "non-adjacent pairs by Σ 1/ln(deg(w)) over common neighbours w — "
    "the degree-discounted upgrade of the raw common-neighbour count "
    "(a shared rare part says more than a shared bestseller). Per-apex "
    "weight floor(1e6/ln(deg)+0.5) is ONE deterministic IEEE op chain; "
    "pair scores are INTEGER sums of those micro-units, so the ranking "
    "never depends on float summation order. Same degree-capped wedge "
    f"bound as graph_link_prediction (first {_AA_CAP} neighbours per "
    "apex, rank filter plans as WindowGroupLimit, wedge volume under "
    "Σ C(min(d,cap),2) whatever the hub skew — gate-asserted); true "
    "(uncapped) degrees feed the weight; candidates anti-join the edge "
    "table; global top-20 plans as TakeOrderedAndProject.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        adamic_adar_pairs,
    )

    edges = _co_edges(spark, sf_dir)  # session-cached checkpoint
    aa = adamic_adar_pairs(edges, cap=_AA_CAP)
    top = aa.orderBy(F.col("aa_micro").desc(), "a", "b").limit(_AA_TOP)
    w = Window.orderBy(F.col("aa_micro").desc(), "a", "b")
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("a", "b", "n_common", "aa_micro", "rnk")
        .orderBy("rnk")
    )


# --- triangle counts over the shared _co_edges cache --------------------------

@register(
    "graph_triangle_counts",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY 1
    ),
    oe AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
               AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
               AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
               AS dst_d
      FROM edges e
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    wedges AS (
      SELECT e1.src, e1.dst AS v, e2.dst AS w
      FROM oe e1 JOIN oe e2
        ON e1.src = e2.src AND ((e1.dst_d, e1.dst) < (e2.dst_d, e2.dst))
    ),
    tri AS (
      SELECT wedges.src, wedges.v, wedges.w
      FROM wedges JOIN oe ON oe.src = wedges.v AND oe.dst = wedges.w
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT src AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
      ) GROUP BY 1
    )
    SELECT p.node AS node, d.d AS degree, p.n_triangles
    FROM per_node p JOIN deg d ON d.node = p.node
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
    doc="Triangle counting over the part co-purchase graph (parts "
    "co-ordered in ≥2 orders) via the degree-oriented wedge join — the "
    "classic distributed triangle algorithm. Orientation (each edge "
    "points from its lower-(degree, id) endpoint) caps every out-degree "
    "at O(√E), so wedge volume is O(E^1.5) regardless of hub skew — the "
    "naive wedge join is Σd² and melts on a skewed graph (gate-asserted: "
    "the oriented wedge count stays under half the unoriented bound). "
    "All stages are vertex-keyed equi-joins; each triangle counts once "
    "at its lowest-ordered apex. Output: top-20 parts by triangle "
    "participation with degree — the clustering-density analytics behind "
    "bundle detection. Edge generation is per-order pairs (bounded by "
    "basket size, the agg_basket_affinity pattern) with a support floor, "
    "via the session-cached shared co-purchase edge frame (r10).",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        triangle_participation,
    )

    # r10: the inline edge build duplicated _co_edges exactly (distinct
    # order-part pairs -> pair join -> support >= 2); share the session-
    # cached checkpointed frame with the other five graph queries instead
    # (one edge construction per session, bit-identical results).
    edges = _co_edges(spark, sf_dir)
    return (
        triangle_participation(edges)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


# --- local clustering coefficient (closes the triangle family) --------------


@register(
    "graph_clustering_coefficient",
    f"""
    WITH {_COEDGES_SQL},
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY 1
    ),
    oe AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
               AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
               AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
               AS dst_d
      FROM edges e
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    wedges AS (
      SELECT e1.src, e1.dst AS v, e2.dst AS w
      FROM oe e1 JOIN oe e2
        ON e1.src = e2.src AND ((e1.dst_d, e1.dst) < (e2.dst_d, e2.dst))
    ),
    tri AS (
      SELECT wedges.src, wedges.v, wedges.w
      FROM wedges JOIN oe ON oe.src = wedges.v AND oe.dst = wedges.w
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT src AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
      ) GROUP BY 1
    )
    SELECT d.node AS node, d.d AS degree,
           CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST((40000 * COALESCE(p.n_triangles, 0) + d.d * (d.d - 1))
                // (2 * d.d * (d.d - 1)) AS BIGINT) AS cc_bp
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    WHERE d.d >= 2
    ORDER BY cc_bp DESC, degree DESC, node LIMIT 20
    """,
    doc="Local clustering coefficient per node over the co-purchase "
    "graph: cc(v) = 2·tri(v)/(d(v)·(d(v)−1)) in half-up basis points — "
    "closes the triangle family (graph_triangle_counts reports raw "
    "participation; this normalizes by the wedge capacity, the "
    "density-vs-hubness split). Triangles ride the same degree-oriented "
    "wedge join (out-degree capped at O(sqrt E), wedge volume O(E^1.5) "
    "under any hub skew) on the session-cached shared edge frame; nodes "
    "on zero triangles enter via a LEFT join against the degree frame so "
    "cc=0 rows are reported, not dropped. The bp formula is all-positive "
    "integer arithmetic (tri <= d², 40000·tri << 2^63), so truncating "
    "and flooring division agree and both engines match bit-for-bit. "
    "Top-20 by (cc_bp, degree, node) — ties broken identically.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        triangle_participation,
    )

    edges = _co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_participation(edges).select("node", "n_triangles")
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "(40000 * coalesce(n_triangles, 0) + degree * (degree - 1))"
                " div (2 * degree * (degree - 1))"
            )
            .cast("long")
            .alias("cc_bp"),
        )
        .orderBy(F.col("cc_bp").desc(), F.col("degree").desc(), "node")
        .limit(20)
    )


# --- modularity of the LPA partition ----------------------------------------

# Positivity shift for the signed per-community modularity contribution
# (|contribution_micro| <= 1e6 by definition, so 4e6 dominates).
_MOD_SHIFT = 4_000_000

# Worst-case int64 coefficient of m^2 in the modularity numerator
# (ADVICE r11: the old 8e6*m^2 assert understated the real requirement ~5x):
#   shift term   2 * (4m^2) * _MOD_SHIFT           = 3.2e7 * m^2
#   signed term  |2e6 * (4m*m_c - d_c^2)| <= 2e6*4m^2 = 8e6 * m^2
#   half-up term 4m^2                               =    4 * m^2
_MOD_COEFF = 8 * _MOD_SHIFT + 8_000_000 + 4  # 40_000_004


@register(
    "graph_modularity",
    f"""
    WITH {_COEDGES_SQL},
    bidir AS (
      SELECT u AS s, v AS d FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM bidir),
    {",".join(_lpa_round_sql(i).lstrip() for i in range(1, _LPA_ROUNDS + 1))},
    m AS (SELECT COUNT(*) AS m FROM edges),
    deg AS (SELECT s AS node, COUNT(*) AS d FROM bidir GROUP BY 1),
    intra AS (
      SELECT la.label, COUNT(*) AS m_c
      FROM edges e
      JOIN l{_LPA_ROUNDS} la ON la.node = e.u
      JOIN l{_LPA_ROUNDS} lb ON lb.node = e.v
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    comm AS (
      SELECT l.label, COUNT(*) AS n_nodes, SUM(deg.d) AS d_c
      FROM l{_LPA_ROUNDS} l JOIN deg ON deg.node = l.node
      GROUP BY 1
    )
    SELECT CAST(c.label AS BIGINT) AS community,
           CAST(c.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(i.m_c, 0) AS BIGINT) AS intra_edges,
           CAST(c.d_c AS BIGINT) AS degree_sum,
           CAST((2000000 * (4 * m.m * COALESCE(i.m_c, 0) - c.d_c * c.d_c)
                 + 4 * m.m * m.m
                 + 2 * (4 * m.m * m.m) * {_MOD_SHIFT})
                // (2 * (4 * m.m * m.m)) - {_MOD_SHIFT}
             AS BIGINT) AS contribution_micro
    FROM comm c LEFT JOIN intra i ON i.label = c.label CROSS JOIN m
    ORDER BY n_nodes DESC, community LIMIT 10
    """,
    doc="Newman modularity of the LPA communities over the co-purchase "
    "graph, per community: contribution_c = m_c/m − (D_c/2m)² in exact "
    "half-up integer MICRO-units — the quality score that says whether "
    "the label-propagation partition found real structure (Σ "
    "contributions = Q; random partitions sit near 0). Pairs with "
    "graph_label_propagation the way the recall evals pair with their "
    "indexes: the partition op reports membership, this one scores it. "
    "Signed numerator 4m·m_c − D_c² takes the positivity shift so "
    "DuckDB's floor and Spark's truncate agree; int64 capacity is "
    "ASSERTED from the edge count the plan already pulls as a driver "
    "literal, with the coefficient DERIVED from the expression's actual "
    "worst-case term (~4.0e7·m² < 2^63 ⟹ m < ~4.8e5 edges; ADVICE r11 "
    "caught the old 8e6·m² assert understating this ~5x) — beyond it, "
    "rerun with the double objective. Labels ride the SAME unrolled-"
    "round oracle fragment as graph_label_propagation (plans/"
    "graph_shared.py); the Spark side reuses the session-cached edge "
    "checkpoint and the label_propagation operator, adds two label-"
    "keyed joins and community-bounded aggregates — nothing new is "
    "corpus-scaled.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        label_propagation,
    )

    edges = _co_edges(spark, sf_dir)
    m = edges.count()  # checkpointed frame: a cheap driver literal
    assert _MOD_COEFF * m * m < 2**63, (
        "modularity micro-unit arithmetic supports < ~4.8e5 edges — rerun "
        "with the double objective"
    )
    labels = label_propagation(edges, rounds=_LPA_ROUNDS).localCheckpoint(
        eager=True
    )  # node-bounded; read 3x below
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    la = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lb = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    intra = (
        edges.join(la, "u")
        .join(lb, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("d_c"))
    )
    four_m2 = 4 * m * m
    return (
        comm.join(intra, "label", "left")
        .select(
            F.col("label").cast("long").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("m_c"), F.lit(0)).cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.expr(
                f"(CAST(2000000 AS BIGINT)"
                f" * (4 * CAST({m} AS BIGINT) * coalesce(m_c, 0) - d_c * d_c)"
                f" + CAST({four_m2} AS BIGINT)"
                f" + 2 * CAST({four_m2} AS BIGINT) * {_MOD_SHIFT})"
                f" div (2 * CAST({four_m2} AS BIGINT)) - {_MOD_SHIFT}"
            )
            .cast("long")
            .alias("contribution_micro"),
        )
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(10)
    )


# --- neighborhood Jaccard of co-purchase edges ------------------------------


@register(
    "graph_neighbor_jaccard",
    f"""
    WITH {_COEDGES_SQL},
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY 1
    ),
    oe AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
               AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
               AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
               AS dst_d
      FROM edges e
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    wedges AS (
      SELECT e1.src, e1.dst AS v, e2.dst AS w
      FROM oe e1 JOIN oe e2
        ON e1.src = e2.src AND ((e1.dst_d, e1.dst) < (e2.dst_d, e2.dst))
    ),
    tri AS (
      SELECT wedges.src, wedges.v, wedges.w
      FROM wedges JOIN oe ON oe.src = wedges.v AND oe.dst = wedges.w
    ),
    pairs3 AS (
      SELECT LEAST(src, v) AS u, GREATEST(src, v) AS v2 FROM tri
      UNION ALL SELECT LEAST(src, w), GREATEST(src, w) FROM tri
      UNION ALL SELECT LEAST(v, w), GREATEST(v, w) FROM tri
    ),
    et AS (SELECT u, v2 AS v, COUNT(*) AS common FROM pairs3 GROUP BY 1, 2)
    SELECT e.u, e.v,
           CAST(du.d AS BIGINT) AS deg_u,
           CAST(dv.d AS BIGINT) AS deg_v,
           CAST(COALESCE(et.common, 0) AS BIGINT) AS common_neighbors,
           CAST((20000 * COALESCE(et.common, 0)
                 + ((du.d - 1) + (dv.d - 1) - COALESCE(et.common, 0)))
                // (2 * ((du.d - 1) + (dv.d - 1) - COALESCE(et.common, 0)))
             AS BIGINT) AS jaccard_bp
    FROM edges e
    JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    LEFT JOIN et ON et.u = e.u AND et.v = e.v
    WHERE (du.d - 1) + (dv.d - 1) - COALESCE(et.common, 0) > 0
    ORDER BY jaccard_bp DESC, e.u, e.v LIMIT 20
    """,
    doc="Neighborhood Jaccard similarity of each co-purchase EDGE: "
    "|N(u)∩N(v)| / |N(u)∪N(v)| over endpoint-excluded neighborhoods "
    "(= common/(d(u)−1 + d(v)−1 − common)) in half-up basis points — "
    "the edge-strength dual of graph_clustering_coefficient (that row "
    "normalizes triangles per NODE; this one scores each TIE: a "
    "high-Jaccard edge joins two products whose buyers are the same "
    "crowd, the substitutable/bundle signal; graph_adamic_adar ranks "
    "NON-edges for prediction, this scores existing edges for "
    "strength). Common-neighbor counts are per-edge triangle counts "
    "from the SAME degree-oriented wedge join (out-degree capped "
    "O(√E), wedge volume O(E^1.5) under any hub skew, gate-asserted) "
    "on the session-cached shared edge frame; each triangle fans back "
    "to its three canonical edges and combines map-side. All-positive "
    "integer bp arithmetic — truncate and floor agree. Top-20 with "
    "(jaccard_bp, u, v) tie-break.",
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_stream_consumer_spark.operators.graph import (
        triangle_edge_counts,
    )

    edges = _co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)  # read 3x: operator + both probes
    )
    et = triangle_edge_counts(edges, deg=deg)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    j = (
        edges.join(du, "u")
        .join(dv, "v")
        .join(et, ["u", "v"], "left")
        .select(
            "u",
            "v",
            "deg_u",
            "deg_v",
            F.coalesce(F.col("common"), F.lit(0)).alias("common_neighbors"),
        )
        .withColumn(
            "uni",
            (F.col("deg_u") - 1)
            + (F.col("deg_v") - 1)
            - F.col("common_neighbors"),
        )
    )
    return (
        j.where(F.col("uni") > 0)
        .select(
            "u",
            "v",
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            F.expr("(20000 * common_neighbors + uni) div (2 * uni)")
            .cast("long")
            .alias("jaccard_bp"),
        )
        .orderBy(F.col("jaccard_bp").desc(), "u", "v")
        .limit(20)
    )


# --- rich-club coefficient curve of the co-purchase graph -------------------


@register(
    "graph_rich_club",
    f"""
    WITH {_COEDGES_SQL},
    deg AS (
      SELECT node, COUNT(*) AS deg
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY 1
    ),
    emd AS (
      SELECT LEAST(du.deg, dv.deg) AS md
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    eh AS (SELECT md AS x, COUNT(*) AS e_cnt FROM emd GROUP BY 1),
    nh AS (SELECT deg AS x, COUNT(*) AS n_cnt FROM deg GROUP BY 1),
    axis AS (
      SELECT COALESCE(eh.x, nh.x) AS x,
             COALESCE(e_cnt, 0) AS e_cnt, COALESCE(n_cnt, 0) AS n_cnt
      FROM eh FULL JOIN nh ON nh.x = eh.x
    ),
    cum AS (
      SELECT x,
             SUM(e_cnt) OVER ()
               - SUM(e_cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               AS egt,
             SUM(n_cnt) OVER ()
               - SUM(n_cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               AS ngt
      FROM axis
    )
    SELECT CAST(x AS BIGINT) AS k_degree,
           CAST(ngt AS BIGINT) AS n_nodes,
           CAST(egt AS BIGINT) AS n_edges,
           CAST((2 * 2000000::HUGEINT * egt
                 + CAST(ngt AS HUGEINT) * (ngt - 1))
                // (2 * CAST(ngt AS HUGEINT) * (ngt - 1)) AS BIGINT)
             AS phi_micro
    FROM cum WHERE ngt >= 2 ORDER BY x
    """,
    doc="Rich-club coefficient curve of the co-purchase graph (Zhou & "
    "Mondragon 2004): for every realized degree threshold k, "
    "phi(k) = 2*E_>k / (N_>k * (N_>k - 1)) — the edge density among "
    "nodes of degree > k; a rising curve means hubs preferentially "
    "interconnect (the 'rich club'). Pinned on a hand graph (clique + "
    "pendant gives phi(1) = 1) in the textbook pins. NO per-threshold "
    "subgraph is ever built: an edge with endpoint-degree minimum md "
    "survives exactly the thresholds k < md, so the whole curve falls "
    "out of ONE pass — degree frame (checkpointed, read 3x: two "
    "endpoint joins + the node histogram), edge min-degree histogram, "
    "and suffix sums over the merged degree axis (a window over the "
    "degree-bounded frame, never over rows). Exchanges carry node- and "
    "histogram-sized frames only (gate-asserted); phi is exact half-up "
    "micro-units.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)  # read 3x
    )
    emd = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .select(F.least("du", "dv").alias("md"))
    )
    eh = emd.groupBy(F.col("md").alias("x")).agg(
        F.count(F.lit(1)).alias("e_cnt")
    )
    nh = deg.groupBy(F.col("deg").alias("x")).agg(
        F.count(F.lit(1)).alias("n_cnt")
    )
    axis = (
        eh.join(nh, "x", "full")
        .select(
            "x",
            F.coalesce(F.col("e_cnt"), F.lit(0)).alias("e_cnt"),
            F.coalesce(F.col("n_cnt"), F.lit(0)).alias("n_cnt"),
        )
    )
    w_le = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = axis.select(
        "x",
        (F.sum("e_cnt").over(w_all) - F.sum("e_cnt").over(w_le)).alias(
            "egt"
        ),
        (F.sum("n_cnt").over(w_all) - F.sum("n_cnt").over(w_le)).alias(
            "ngt"
        ),
    )
    return (
        cum.where(F.col("ngt") >= 2)
        .select(
            F.col("x").cast("long").alias("k_degree"),
            F.col("ngt").cast("long").alias("n_nodes"),
            F.col("egt").cast("long").alias("n_edges"),
            F.expr(
                # DECIMAL(38,0), not BIGINT: ngt*(ngt-1) wraps int64 past
                # ~2e9 nodes (ANSI ARITHMETIC_OVERFLOW); DuckDB side is
                # already HUGEINT
                "CAST((2 * CAST(2000000 AS DECIMAL(38,0)) * egt"
                " + CAST(ngt AS DECIMAL(38,0)) * (ngt - 1))"
                " div (2 * CAST(ngt AS DECIMAL(38,0)) * (ngt - 1))"
                " AS BIGINT)"
            ).alias("phi_micro"),
        )
        .orderBy("k_degree")
    )
