"""Textbook ground-truth pins for the shipped statistics' integer
recurrences (the r12 Kruskal-Wallis lesson, applied retroactively).

The oracle-parity + third-impl discipline proves three implementations
AGREE — it cannot prove they compute the intended statistic when the
author mirrors one wrong derivation three times (r12 shipped H with a
4x-wrong coefficient through exactly that hole; the code review caught
it against a textbook example). Each test here applies a query's EXACT
half-up/shift integer recurrence — copied verbatim from the query
source, cited per test — to literal data with a published or
hand-derivable answer. A failure means the recurrence computes the
wrong STATISTIC even though all three engines agree on it.

No Spark, no DuckDB, no parquet: pure arithmetic, runs in milliseconds.
"""

from __future__ import annotations

import math
from collections import Counter


def _half_up(num: int, den: int) -> int:
    """Half-up of num/den for POSITIVE den and non-negative num — the
    repo's (2*num + den) div (2*den) idiom."""
    assert den > 0 and num >= 0
    return (2 * num + den) // (2 * den)


def test_mann_whitney_grid_recurrence_with_ties():
    """agg_mann_whitney (plans/aggregates.py): u1_x2 = sum over the value grid
    of c1*(2*(less1+less2) + (c1+c2+1)) - n1*(n1+1), effect_bp =
    half-up(10000*U1/(n1*n2)). Hand example WITH TIES: X=[1,2,2],
    Y=[2,3] -> average ranks 1, 3,3 | 3, 5 -> R1=7, U1 = R1 - n1(n1+1)/2
    = 1, effect = 1/6."""
    x, y = [1, 2, 2], [2, 3]
    grid = sorted(set(x + y))
    c1 = Counter(x)
    c2 = Counter(y)
    less1 = less2 = 0
    u1_x2 = 0
    for v in grid:
        u1_x2 += c1[v] * (2 * (less1 + less2) + (c1[v] + c2[v] + 1))
        less1 += c1[v]
        less2 += c2[v]
    n1, n2 = len(x), len(y)
    u1_x2 -= n1 * (n1 + 1)
    assert u1_x2 == 2 * 1  # U1 = 1 exactly
    effect_bp = (20000 * u1_x2 + 2 * n1 * n2) // (2 * 2 * n1 * n2)
    assert effect_bp == 1667  # half-up(10000/6)


def test_kendall_tau_b_pair_recurrence():
    """ts_kendall_tau (plans/events.py): tau_b = (C-D)/sqrt(n0*(n0-T)) with
    x distinct (days). Hand example y=[1,2,2,3,1] over x=1..5:
    C=5, D=3, T=2, tau_b = 2/sqrt(80) = 0.2236."""
    y = [1, 2, 2, 3, 1]
    c = d = t = n0 = 0
    for i in range(len(y)):
        for j in range(i + 1, len(y)):
            n0 += 1
            if y[j] > y[i]:
                c += 1
            elif y[j] < y[i]:
                d += 1
            else:
                t += 1
    assert (c, d, t, n0) == (5, 3, 2, 10)
    assert round((c - d) / math.sqrt(n0 * (n0 - t)), 4) == 0.2236


def test_spearman_bp_shift_recurrence():
    """text_rank_correlation (plans/text.py): spearman_bp =
    (2*10000*(n(n^2-1) - 6*sum_d2) + n(n^2-1) + 40000*n(n^2-1))
    // (2*n(n^2-1)) - 20000. Perfectly reversed ranks (n=3, sum_d2=8)
    must give exactly -10000 bp (rho = -1)."""
    n, sum_d2 = 3, 8
    m = n * (n * n - 1)
    bp = (2 * 10000 * (m - 6 * sum_d2) + m + 40000 * m) // (2 * m) - 20000
    assert bp == -10000
    # and perfectly equal ranks give +10000
    bp1 = (2 * 10000 * (m - 0) + m + 40000 * m) // (2 * m) - 20000
    assert bp1 == 10000


def test_gini_rank_identity():
    """agg_gini_concentration (plans/relational.py): G = (2*sum(i*x_i)
    - (n+1)*sum(x)) / (n*sum(x)) over ascending ranks; gini_bp =
    FLOOR(10000*G + 0.5). Known: x=[1,3] -> G = 0.25 -> 2500 bp."""
    xs = sorted([1, 3])
    n = len(xs)
    sx = sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    gini_bp = int(math.floor(10000.0 * (2 * six - (n + 1) * sx) / (n * sx) + 0.5))
    assert gini_bp == 2500


def test_runs_expectation_milli():
    """ts_runs_test (plans/events.py): e_runs_milli = half-up(1000 *
    (n + 2*n1*n2) / n). Textbook n1=5, n2=4: E[R] = 1 + 40/9 =
    5.4444 -> 5444 milli."""
    n1, n2 = 5, 4
    n = n1 + n2
    assert _half_up(1000 * (n + 2 * n1 * n2), n) == 5444


def test_turning_points_expectation_and_variance():
    """ts_turning_points (plans/events.py): E[T] = 2(n-2)/3,
    Var[T] = (16n-29)/90. Textbook n=10: E = 5.3333 -> 5333 milli,
    Var = 131/90 = 1.4556 -> 1456 milli."""
    n = 10
    assert (2000 * 2 * (n - 2) + 3) // (2 * 3) == 5333
    assert (2000 * (16 * n - 29) + 90) // (2 * 90) == 1456


def test_ljung_box_recurrence_matches_float_formula():
    """ts_ljung_box (plans/events.py): the per-lag half-up micro terms must
    sum to 1e6 * Q for the textbook formula Q = n(n+2) * sum_k
    r_k^2/(n-k) within one micro per lag, on literal residuals."""
    dev = [3, -1, -4, 2, 0, 1, -2, 3, -2, 0]
    n = len(dev)
    dd = sum(x * x for x in dev)
    q_micro = 0
    q_float = 0.0
    m = 3
    for k in range(1, m + 1):
        num = sum(dev[i] * dev[i + k] for i in range(n - k))
        den = dd * dd * (n - k)
        q_micro += (2 * 1000000 * n * (n + 2) * num * num + den) // (2 * den)
        r = num / dd
        q_float += n * (n + 2) * r * r / (n - k)
    assert abs(q_micro - q_float * 1e6) <= m  # half-up per lag: <=0.5 each


def test_chi_square_known_2x2():
    """agg_chi_square_independence (plans/aggregates.py): per-cell half-up
    micro terms on the classic 2x2 [[10,20],[30,40]]: chi^2 =
    0.79365..., Cramer's V = sqrt(chi2/N) = 0.0891."""
    cells = {("a", 1): 10, ("a", 2): 20, ("b", 1): 30, ("b", 2): 40}
    n = sum(cells.values())
    rows: Counter = Counter()
    cols: Counter = Counter()
    for (r, c), o in cells.items():
        rows[r] += o
        cols[c] += o
    chi2_micro = 0
    for (r, c), o in cells.items():
        num = o * n - rows[r] * cols[c]
        den = n * rows[r] * cols[c]
        chi2_micro += (2 * 1000000 * num * num + den) // (2 * den)
    # chi2 = 50/63 = 0.793650793...
    assert abs(chi2_micro - 793651) <= 2  # per-cell half-up slack
    v = round(math.sqrt((chi2_micro / 1e6) / (n * 1)), 6)
    assert v == 0.089087


def test_cohens_kappa_published_example():
    """text_langid_kappa (plans/text.py): shifted recurrence on the
    standard worked example [[20,5],[10,15]]: p_o=0.7, p_e=0.5,
    kappa = 0.4 -> 400000 micro."""
    n, diag = 50, 35
    rows = {"y": 25, "n": 25}
    cols = {"y": 30, "n": 20}
    rc = sum(rows[k] * cols[k] for k in rows)
    den = n * n - rc
    shift = 2000000
    kappa_micro = (
        2 * 1000000 * (n * diag - rc) + den + 2 * den * shift
    ) // (2 * den) - shift
    assert kappa_micro == 400000


def test_mcnemar_known_discordants():
    """text_langid_mcnemar (plans/text.py): b=10, c=5 -> chi^2 = 25/15 =
    1.666667 -> 1666667 micro (half-up)."""
    b, c = 10, 5
    assert _half_up(1000000 * (b - c) * (b - c), b + c) == 1666667


def test_simpson_lambda_micro():
    """text_simpson_diversity (plans/text.py): counts [2,2]: lambda =
    (2+2)/(4*3) = 1/3 -> 333333 micro; inverse-Simpson = 3.0."""
    counts = [2, 2]
    n = sum(counts)
    s2 = sum(c * (c - 1) for c in counts)
    d = n * (n - 1)
    assert _half_up(1000000 * s2, d) == 333333
    assert round(d / s2, 4) == 3.0


def test_hodges_lehmann_small_sample():
    """agg_hodges_lehmann (plans/aggregates.py): sample [1,2,3] -> Walsh sums
    [2,3,4,4,5,6], lower nearest-rank median (rank (6+1)//2 = 3) = 4,
    HL = 2.0 (the symmetric case where HL equals the median)."""
    vals = [1.0, 2.0, 3.0]
    sums = sorted(
        vals[i] + vals[j]
        for i in range(len(vals))
        for j in range(i, len(vals))
    )
    r = (len(sums) + 1) // 2
    assert round(sums[r - 1] / 2, 4) == 2.0


def test_modularity_barbell_communities():
    """graph_modularity (plans/graph.py): two triangles joined by one edge
    (m=7), each triangle its own community: contribution = 3/7 -
    (7/14)^2 = 0.178571 each -> 178571 micro through the shift
    recurrence; Q = 2 * 0.178571 = 0.357142 (published barbell value)."""
    m = 7
    m_c, d_c = 3, 7  # per triangle community: intra edges, degree sum
    shift = 4_000_000
    four_m2 = 4 * m * m
    contribution = (
        2_000_000 * (4 * m * m_c - d_c * d_c)
        + four_m2
        + 2 * four_m2 * shift
    ) // (2 * four_m2) - shift
    assert contribution == 178571


def test_kruskal_wallis_coefficient_is_twelve():
    """agg_kruskal_wallis (plans/aggregates.py): the t_nano term carries /4
    (2x-rank squares), so the statistic needs the textbook 12, NOT 3 —
    {1} vs {2,3}: H = 1.5 (the r12 review's example, kept here so the
    4x bug class cannot silently return)."""
    groups = {"a": [1.0], "b": [2.0, 3.0]}
    tot = Counter(v for vs in groups.values() for v in vs)
    grid = {}
    cum = 0
    for v in sorted(tot):
        grid[v] = 2 * cum + tot[v] + 1
        cum += tot[v]
    n = sum(tot.values())
    t_nano = 0
    for vs in groups.values():
        r2 = sum(grid[v] for v in vs)
        nj = len(vs)
        t_nano += (2 * 10**9 * r2 * r2 + 4 * nj) // (2 * 4 * nj)
    tie = sum(t**3 - t for t in tot.values())
    h = (
        12.0 * (t_nano / 1e9) / (float(n) * (n + 1)) - 3.0 * (n + 1)
    ) / (1.0 - tie / (float(n) * n * n - n))
    assert round(h, 6) == 1.5


def test_friedman_perfect_agreement_identity():
    """agg_friedman_test (plans/aggregates.py): doubled-rank integer form
    T1 = (k-1)(S' - n^2 k (k+1)^2)/(A' - n k (k+1)^2). Perfect agreement
    (every block ranks treatments identically, no ties) must give the
    published maximum Q = n(k-1), and a hand-ranked mixed case must give
    the classic 12/(nk(k+1)) * Sum Rj^2 - 3n(k+1)."""

    def t1_micro(blocks):  # blocks: list of per-block observation tuples
        k = len(blocks[0])
        n = len(blocks)
        d = []  # doubled average ranks per block
        for obs in blocks:
            d.append([
                2 * sum(1 for o in obs if o < x)
                + (sum(1 for o in obs if o == x) - 1) + 2
                for x in obs
            ])
        dj = [sum(d[i][j] for i in range(n)) for j in range(k)]
        s2 = sum(x * x for x in dj)
        a2 = sum(x * x for row in d for x in row)
        num = s2 - n * n * k * (k + 1) * (k + 1)
        den = a2 - n * k * (k + 1) * (k + 1)
        return (2 * 10**6 * (k - 1) * num + den) // (2 * den)

    # perfect agreement, n=3 blocks, k=3: Q = n(k-1) = 6
    assert t1_micro([(10, 20, 30), (1, 2, 3), (5, 8, 9)]) == 6_000_000
    # hand-ranked mixed case: ranks b1=(1,2,3), b2=(2,1,3), b3=(1,3,2)
    # R = (4, 6, 8): Q = (12/36)(16+36+64) - 36 = 8/3
    got = t1_micro([(10, 20, 30), (25, 15, 35), (1, 9, 5)])
    assert got == round(8 / 3 * 10**6) == 2_666_667
    # TIED case, hand-derived from the published tie-corrected form
    # chi2 = (k-1) S / (nk(k^2-1)/12 - Sum(t^3-t)/12): b1 = (5,5,7) ranks
    # (1.5,1.5,3), b2 = (1,2,3); S = 6.5, tie term 0.5 -> 13/3.5 = 26/7
    got = t1_micro([(5, 5, 7), (1, 2, 3)])
    assert got == (2 * 10**6 * 26 + 7) // (2 * 7)  # half-up of 26/7


def test_jonckheere_hand_counted_pairs():
    """agg_jonckheere_trend (plans/aggregates.py): 2J counts 2 per strict
    cross-group ascending pair and 1 per tie; 2E = (N^2 - Sum n_g^2)/2."""

    def j2_of(groups):  # groups: ordered list of value lists
        j2 = 0
        for a in range(len(groups)):
            for b in range(a + 1, len(groups)):
                for x in groups[a]:
                    for y in groups[b]:
                        j2 += 2 if x < y else (1 if x == y else 0)
        return j2

    assert j2_of([[1, 2], [3, 4]]) == 8  # all 4 pairs ascend
    assert j2_of([[1, 2], [2, 3]]) == 7  # one tie counts half
    assert j2_of([[1], [2], [3]]) == 6  # 3 cross pairs, all ascend
    # expectation identity: N=4, sum n^2 = 8 -> 2E = (16-8)/2 = 4 = 2*n1n2/2
    n, sn2 = 4, 8
    assert (n * n - sn2) // 2 == 4


def test_rich_club_clique_plus_pendant():
    """graph_rich_club (plans/graph.py): 4-clique {a,b,c,d} plus pendant
    e-a. Nodes of degree > 1 are the clique; the 6 edges among them give
    phi(1) = 2*6/(4*3) = 1.0 exactly (the rich club is fully connected).
    phi(0) uses all 5 nodes and 7 edges: 2*7/(5*4) = 0.7."""
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("a", "e")]
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1

    def phi_micro(k):
        nodes = [x for x, d in deg.items() if d > k]
        egt = sum(1 for u, v in edges if min(deg[u], deg[v]) > k)
        ngt = len(nodes)
        # the query's half-up recurrence: (2*2e6*E + den) div (2*den)
        return (4 * 10**6 * egt + ngt * (ngt - 1)) // (
            2 * ngt * (ngt - 1)
        ) if ngt >= 2 else None

    assert phi_micro(0) == 700_000
    assert phi_micro(1) == 1_000_000
    assert phi_micro(3) is None  # N_k < 2: filtered on both engines


def test_kaplan_meier_hand_product():
    """events_survival_km (plans/events.py): the integer fold
    S' = (2*S*(n-d) + n) div (2*n) must reproduce the hand-computed KM
    product with half-up rounding at each step. Classic small example:
    10 at risk, 2 die at t=2 (S = 0.8); 1 censored before t=4 leaves
    n=7, 1 dies (S = 0.8 * 6/7 = 0.685714...)."""
    s = 1_000_000
    for n, d in [(10, 2), (7, 1)]:
        s = (2 * s * (n - d) + n) // (2 * n)
    assert s == 685_714  # 0.8 * 6/7 = 0.6857142... half-up at micro
    # exactness when nothing is rounded: 4/5 * 1/2 = 0.4
    s = 1_000_000
    for n, d in [(5, 1), (2, 1)]:
        s = (2 * s * (n - d) + n) // (2 * n)
    assert s == 400_000


def test_nelson_aalen_hand_sums():
    """events_hazard_nelson_aalen (plans/events.py): per-step half-up
    h = (2e6*d + n) div (2n), cumulated exactly. Same hand example as
    the KM pin: (n=10,d=2) then (n=7,d=1)."""
    h1 = (2 * 10**6 * 2 + 10) // (2 * 10)
    h2 = (2 * 10**6 * 1 + 7) // (2 * 7)
    assert h1 == 200_000
    assert h2 == 142_857  # 1/7 = 0.142857142... half-up at micro
    assert h1 + h2 == 342_857


def test_logrank_hand_example():
    """events_survival_logrank (plans/events.py): hand-derived two-group
    example with censoring — group A: death t=3, censored t=5; group B:
    deaths t=2 and t=4. Step terms: e1 = 1/2 + 2/3 + 1/2, v = 1/4 + 2/9
    + 1/4, O1 = 1; chi2 = (O1-E1)^2/V = 0.615385 within per-step
    half-up slack. Variance via the documented TWO-STAGE recurrence
    (q1 = round(1e6*n1*(n-n1)/n), v_t = round(q1*d*(n-d)/(n*(n-1))) —
    VERDICT r13 #2): on this example it reproduces the same micro
    values as the one-stage form."""
    # (t, n_t, d_t, n1, d1) per death day, hand-derived
    steps = [(2, 4, 1, 2, 0), (3, 3, 1, 2, 1), (4, 2, 1, 1, 0)]
    o1 = sum(d1 for *_, d1 in steps)
    e1 = sum(
        (2 * 10**6 * n1 * d + n) // (2 * n) for _, n, d, n1, _ in steps
    )
    v = sum(
        (
            2
            * d
            * ((2 * 10**6 * n1 * (n - n1) + n) // (2 * n))
            * (n - d)
            + n * (n - 1)
        )
        // (2 * n * (n - 1))
        for _, n, d, n1, _ in steps
    )
    assert o1 == 1
    assert e1 == 500_000 + 666_667 + 500_000
    assert v == 250_000 + 222_222 + 250_000
    delta = 10**6 * o1 - e1
    chi2 = (2 * delta * delta + v) // (2 * v)
    # float reference: (1 - 5/3)^2 / (1/4 + 2/9 + 1/4) = 0.6153846...
    assert abs(chi2 - round((1 - 5 / 3) ** 2 / (13 / 18) * 10**6)) <= 3


def test_rmst_hand_integration():
    """events_survival_rmst (plans/events.py): area under the KM step
    function. Reusing the KM pin example (S: 0.8 at t=2, 0.685714 at
    t=4) with horizon tau=6: RMST = 1*2 + 0.8*2 + 0.685714*2 =
    4.971428 days; median never crosses 0.5 -> -1 sentinel."""
    curve = [(2, 800_000), (4, 685_714)]
    tau = 6
    t1 = curve[0][0]
    segs = [
        (s, (curve[i + 1][0] if i + 1 < len(curve) else tau) - t)
        for i, (t, s) in enumerate(curve)
    ]
    rmst = 10**6 * t1 + sum(s * w for s, w in segs)
    assert rmst == 4_971_428
    median = min((t for t, s in curve if s <= 500_000), default=-1)
    assert median == -1
    # and a crossing curve: S hits 0.4 at t=3 -> median 3
    curve2 = [(1, 700_000), (3, 400_000)]
    assert min((t for t, s in curve2 if s <= 500_000), default=-1) == 3


def test_stratified_logrank_two_identical_strata():
    """events_survival_logrank_stratified (plans/events.py): two identical
    strata, each the unstratified hand example — the summed integers
    must double, and chi2 = (2*delta)^2/(2*V) must stay within per-step
    half-up slack of the float reference 16/13 = 1.230769 (two copies
    of the same evidence halve the variance share per unit of O-E)."""
    steps = [(2, 4, 1, 2, 0), (3, 3, 1, 2, 1), (4, 2, 1, 1, 0)]
    o1 = e1 = v = 0
    for _ in range(2):  # two strata, identical step sets
        for _, n, d, n1, d1 in steps:
            o1 += d1
            e1 += (2 * 10**6 * n1 * d + n) // (2 * n)
            q1 = (2 * 10**6 * n1 * (n - n1) + n) // (2 * n)
            v += (2 * d * q1 * (n - d) + n * (n - 1)) // (
                2 * n * (n - 1)
            )
    assert o1 == 2
    assert e1 == 2 * (500_000 + 666_667 + 500_000)
    assert v == 2 * (250_000 + 222_222 + 250_000)
    delta = 10**6 * o1 - e1
    chi2 = (2 * delta * delta + v) // (2 * v)
    assert abs(chi2 - round((16 / 13) * 10**6)) <= 6


def test_hazard_ratio_mh_hand_example():
    """events_hazard_ratio_mh (plans/events.py): on the log-rank hand
    example, HR_MH = Sum[d1*n0/n] / Sum[d0*n1/n] = (1/3)/(1/2 + 1/2) =
    1/3, and Peto ln(HR) ~ (O1-E1)/V = (1 - 5/3)/(13/18) = -0.923077
    — both reproduced by the integer recurrences within per-step
    half-up slack."""
    steps = [(2, 4, 1, 2, 0), (3, 3, 1, 2, 1), (4, 2, 1, 1, 0)]
    hr_num = hr_den = o1 = e1 = v = 0
    for _, n, d, n1, d1 in steps:
        hr_num += (2 * 10**6 * d1 * (n - n1) + n) // (2 * n)
        hr_den += (2 * 10**6 * (d - d1) * n1 + n) // (2 * n)
        o1 += d1
        e1 += (2 * 10**6 * n1 * d + n) // (2 * n)
        q1 = (2 * 10**6 * n1 * (n - n1) + n) // (2 * n)
        v += (2 * d * q1 * (n - d) + n * (n - 1)) // (2 * n * (n - 1))
    assert hr_num == 333_333  # 1/3: only the t=3 death is in group 1
    assert hr_den == 500_000 + 500_000  # d0*n1/n at t=2 and t=4
    hr = (2 * 10**6 * hr_num + hr_den) // (2 * hr_den)
    assert abs(hr - 333_333) <= 1
    delta = 10**6 * o1 - e1
    shift = 10**12
    peto = (2 * 10**6 * delta + v + 2 * v * shift) // (2 * v) - shift
    assert abs(peto - round(-0.9230769 * 10**6)) <= 3


def test_page_trend_perfect_and_flat_orderings():
    """agg_page_trend (plans/aggregates.py): a single block with strictly
    increasing weekday counts gives the perfect-ordering identity
    L = Sum j^2 = 140 (doubled: 280); an all-tied block gives exactly
    the null expectation E[2L] = k(k+1)^2/2 = 224."""
    # strictly increasing: rank of weekday j is j, d2 = 2j
    l2 = sum(j * 2 * j for j in range(1, 8))
    assert l2 == 280
    assert 280 - 224 == 56  # max positive trend excess
    # all tied: every d2 = 2*(0) + (7-1) + 2 = 8 (avg rank 4 doubled)
    l2_flat = sum(j * 8 for j in range(1, 8))
    assert l2_flat == 224  # == e2: zero trend signal


def test_cochran_q_hand_matrix():
    """agg_cochran_q (plans/aggregates.py): the 4-block 3-treatment presence
    matrix [[1,1,0],[1,1,0],[1,1,1],[0,1,0]] has C=(3,4,1), R=(2,2,3,1),
    N=8: Q = (k-1)(k*SumC^2 - N^2)/(kN - SumR^2) = 2*14/6 = 4.666667."""
    mat = [(1, 1, 0), (1, 1, 0), (1, 1, 1), (0, 1, 0)]
    k = 3
    n = sum(sum(r) for r in mat)
    sc2 = sum(sum(r[j] for r in mat) ** 2 for j in range(k))
    sr2 = sum(sum(r) ** 2 for r in mat)
    num = (k - 1) * (k * sc2 - n * n)
    den = k * n - sr2
    assert (num, den) == (28, 6)
    assert (2 * 10**6 * num + den) // (2 * den) == 4_666_667


def test_gamma_hand_pairs():
    """agg_goodman_kruskal_gamma (plans/aggregates.py): g1=[1,2] vs g2=[2,3]
    has C=3, D=0, one tie excluded -> gamma = +1; g1=[3] vs g2=[1] has
    D=1 -> gamma = -1 (exercises the signed positivity shift); g1=[1,3]
    vs g2=[2] balances C=D=1 -> gamma = 0."""
    shift = 2_000_000

    def gamma_micro(c, d):
        den = c + d
        return (
            2 * 10**6 * (c - d) + den + 2 * den * shift
        ) // (2 * den) - shift

    assert gamma_micro(3, 0) == 1_000_000
    assert gamma_micro(0, 1) == -1_000_000
    assert gamma_micro(1, 1) == 0


def test_holt_linear_hand_recurrences():
    """ts_holt_linear (plans/events.py): alpha=1/5, beta=1/10 integer
    recurrences. Perfect-trend series [10,12,14,16] must stay ON trend
    (level = y, trend = 2 forever — Holt is exact on linear data); a
    falling series exercises SIGNED floor-half-up, where Spark's
    truncating div would diverge from DuckDB's floor without the pmod
    discipline: hu(-7/10) = floor(-0.7 + 0.5) = -1 and hu(-5/10) = 0."""

    def hu(num, den):
        return (2 * num + den) // (2 * den)

    ys = [10, 12, 14, 16]
    lvl, tr = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        nl = hu(y + 4 * (lvl + tr), 5)
        tr = hu(nl - lvl + 9 * tr, 10)
        lvl = nl
        assert (lvl, tr) == (y, 2)
    # signed half-up identities the fold relies on
    assert hu(-7, 10) == -1  # -0.7 -> -1 (floor(x + 1/2))
    assert hu(-5, 10) == 0  # -0.5 -> 0
    assert hu(5, 10) == 1  # +0.5 -> 1
    # falling series: trend goes negative and stays exact
    ys2 = [20, 15, 10, 5]
    lvl, tr = ys2[0], ys2[1] - ys2[0]
    for y in ys2[1:]:
        nl = hu(y + 4 * (lvl + tr), 5)
        tr = hu(nl - lvl + 9 * tr, 10)
        lvl = nl
    assert (lvl, tr) == (5, -5)


def test_mean_excess_hand_curve():
    """events_mean_excess_curve (plans/events.py): values [1,2,3,4] give
    e(1) = mean(1,2,3) = 2, e(2) = mean(1,2) = 1.5, e(3) = 1; u=4 has
    no exceedances and is filtered."""
    ys = [1, 2, 3, 4]
    out = {}
    for u in sorted(set(ys)):
        ex = [y - u for y in ys if y > u]
        if ex:
            n = len(ex)
            out[u] = (2 * 10**6 * sum(ex) + n) // (2 * n)
    assert out == {1: 2_000_000, 2: 1_500_000, 3: 1_000_000}


def test_recurrent_mcf_hand_windows():
    """events_recurrent_mcf (plans/events.py): two users observed over
    [0,10] and [5,10]; purchases on day 1 (1 event, n_risk=1) and day 6
    (2 events, n_risk=2): rates 1/1 and 2/2, MCF = 2.0 exactly —
    staggered entry changes the denominator day by day."""
    windows = [(0, 10), (5, 10)]
    purch = {1: 1, 6: 2}
    delta: dict = {}
    for fd, ld in windows:
        delta[fd] = delta.get(fd, 0) + 1
        delta[ld + 1] = delta.get(ld + 1, 0) - 1
    n = cum = 0
    out = {}
    for d in sorted(set(delta) | set(purch)):
        n += delta.get(d, 0)
        c = purch.get(d, 0)
        if c:
            h = (2 * 10**6 * c + n) // (2 * n)
            cum += h
            out[d] = (n, h, cum)
    assert out == {
        1: (1, 1_000_000, 1_000_000),
        6: (2, 1_000_000, 2_000_000),
    }


def test_ansari_bradley_hand_examples():
    """agg_ansari_bradley (plans/aggregates.py): classic no-ties example A =
    {1,4}, B = {2,3} — scores (1,2,2,1), group-A MEAN score = 2/2 = 1
    (A holds the extremes), E[mean] = T/N = 6/4 = 1.5, mean-E < 0 flags
    A as the dispersed group. Tied example A = {1,2}, B = {2,3}: the
    shared value 2 spans ranks 2-3 with average score 2, mean = 3/2 =
    1.5 = E (no scale signal)."""

    def ab(vals_a, vals_b):
        pooled = sorted(vals_a + vals_b)
        n = len(pooled)
        na = len(vals_a)
        score = [min(r, n + 1 - r) for r in range(1, n + 1)]
        m1 = 0
        for v in sorted(set(pooled)):
            c = pooled.count(v)
            c1 = vals_a.count(v)
            lo = sum(1 for x in pooled if x < v) + 1
            s = sum(score[r - 1] for r in range(lo, lo + c))
            m1 += (2 * 10**6 * c1 * s + c * na) // (2 * c * na)
        e = (2 * 10**6 * sum(score) + n) // (2 * n)
        return m1, e

    m1, e = ab([1, 4], [2, 3])
    assert (m1, e) == (1_000_000, 1_500_000)
    m1, e = ab([1, 2], [2, 3])
    assert (m1, e) == (1_500_000, 1_500_000)
