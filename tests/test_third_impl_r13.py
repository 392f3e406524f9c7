"""Third-implementation checks for the r13 operators: each distributed
plan is recomputed from the raw parquet in from-scratch pure Python (no
Spark, no DuckDB), so a bug mirrored into the SQL oracle cannot hide.
Runs at sf0.001 to keep the brute-force recurrences cheap. The intended
STATISTICS are separately pinned on published / hand-derivable examples
in test_textbook_pins.py (the Kruskal-Wallis lesson)."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq

from kinesis_stream_consumer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> dict:
    return pq.read_table(f"{SF}/{name}.parquet").to_pydict()


def _avg2x_ranks(values):
    """Doubled average ranks of ``values`` (ties share the mean rank)."""
    out = []
    for x in values:
        below = sum(1 for o in values if o < x)
        ties = sum(1 for o in values if o == x)
        out.append(2 * below + (ties - 1) + 2)  # 2*avgrank
    return out


def test_friedman_matches_python_reference(spark):
    ev = _tbl("events")
    obs: Counter = Counter()
    types = set()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        types.add(et)
        obs[(et, ts.isoweekday())] += 1
    types = sorted(types)
    k, n = len(types), 7
    d = {}  # (typ, dow) -> doubled rank within the dow block
    for dow in range(1, 8):
        col = [obs.get((t, dow), 0) for t in types]
        for t, d2 in zip(types, _avg2x_ranks(col)):
            d[(t, dow)] = d2
    dj = {t: sum(d[(t, dow)] for dow in range(1, 8)) for t in types}
    s2 = sum(x * x for x in dj.values())
    a2 = sum(x * x for x in d.values())
    num = s2 - n * n * k * (k + 1) * (k + 1)
    den = a2 - n * k * (k + 1) * (k + 1)
    want_t1 = (2 * 10**6 * (k - 1) * num + den) // (2 * den)
    want_w = (2 * 10**6 * num + n * den) // (2 * n * den)

    row = QUERIES["agg_friedman_test"].fn(spark, SF).collect()[0]
    assert row["n_blocks"] == n
    assert row["k_treatments"] == k
    assert row["t1_micro"] == want_t1
    assert row["kendall_w_micro"] == want_w


def test_jonckheere_matches_python_bruteforce_pairs(spark):
    """2J recomputed by materializing EVERY cross-group pair — the O(n^2)
    loop the distributed grid plan never builds (n is small at sf0.001)."""
    orders = _tbl("orders")
    li = _tbl("lineitem")
    odate = {
        k: v for k, v in zip(orders["o_orderkey"], orders["o_orderdate"])
    }
    gi_of = {
        k: int(p[0])
        for k, p in zip(orders["o_orderkey"], orders["o_orderpriority"])
    }
    groups = defaultdict(list)
    for ok, sd in zip(li["l_orderkey"], li["l_shipdate"]):
        groups[gi_of[ok]].append((sd.date() - odate[ok].date()).days)
    gis = sorted(groups)
    j2 = 0
    for ai in range(len(gis)):
        for bi in range(ai + 1, len(gis)):
            for x in groups[gis[ai]]:
                for y in groups[gis[bi]]:
                    j2 += 2 if x < y else (1 if x == y else 0)
    n = sum(len(v) for v in groups.values())
    sn2 = sum(len(v) ** 2 for v in groups.values())
    e2 = (n * n - sn2) // 2

    row = QUERIES["agg_jonckheere_trend"].fn(spark, SF).collect()[0]
    assert row["n_total"] == n
    assert row["j2"] == j2
    assert row["e2"] == e2
    assert row["j2_minus_e2"] == j2 - e2


def _co_edges_python():
    """Co-purchase edges recomputed from scratch (same contract as the
    certified graph third impls: distinct (order, part), support >= 2)."""
    li = _tbl("lineitem")
    per_order = defaultdict(set)
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        per_order[ok].add(pk)
    support: Counter = Counter()
    for parts in per_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                support[(ps[i], ps[j])] += 1
    return [e for e, c in support.items() if c >= 2]


def test_rich_club_matches_python_reference(spark):
    edges = _co_edges_python()
    deg: Counter = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    got = {
        r["k_degree"]: (r["n_nodes"], r["n_edges"], r["phi_micro"])
        for r in QUERIES["graph_rich_club"].fn(spark, SF).collect()
    }
    want = {}
    for k in sorted(set(deg.values())):
        ngt = sum(1 for d in deg.values() if d > k)
        if ngt < 2:
            continue
        egt = sum(1 for u, v in edges if min(deg[u], deg[v]) > k)
        phi = (4 * 10**6 * egt + ngt * (ngt - 1)) // (2 * ngt * (ngt - 1))
        want[k] = (ngt, egt, phi)
    assert got == want
    assert len(want) > 0


def test_survival_km_matches_python_reference(spark):
    ev = _tbl("events")
    fd: dict = {}
    ld: dict = {}
    pd_: dict = {}
    for ts, uid, et in zip(ev["ts"], ev["user_id"], ev["event_type"]):
        # proleptic ordinal, NOT epoch days: an independently-derived day
        # numbering — only deltas enter KM, so the two must agree
        day = ts.date().toordinal()
        fd[uid] = min(fd.get(uid, day), day)
        ld[uid] = max(ld.get(uid, day), day)
        if et == "purchase":
            pd_[uid] = min(pd_.get(uid, day), day)
    durs = []
    for uid in fd:
        if uid in pd_:
            durs.append((pd_[uid] - fd[uid], 1))
        else:
            durs.append((ld[uid] - fd[uid], 0))
    hist: Counter = Counter()
    deaths: Counter = Counter()
    for t, e in durs:
        hist[t] += 1
        deaths[t] += e
    s = 1_000_000
    want = []
    at_risk = len(durs)
    for t in sorted(hist):
        if deaths[t] > 0:
            s = (2 * s * (at_risk - deaths[t]) + at_risk) // (2 * at_risk)
            want.append((t, at_risk, deaths[t], s))
        at_risk -= hist[t]
    got = [
        (r["t_days"], r["n_risk"], r["n_deaths"], r["survival_micro"])
        for r in QUERIES["events_survival_km"]
        .fn(spark, SF)
        .orderBy("t_days")
        .collect()
    ]
    assert got == want
    assert len(want) > 0


def test_nelson_aalen_matches_python_reference(spark):
    ev = _tbl("events")
    fd: dict = {}
    ld: dict = {}
    pd_: dict = {}
    for ts, uid, et in zip(ev["ts"], ev["user_id"], ev["event_type"]):
        day = ts.date().toordinal()
        fd[uid] = min(fd.get(uid, day), day)
        ld[uid] = max(ld.get(uid, day), day)
        if et == "purchase":
            pd_[uid] = min(pd_.get(uid, day), day)
    hist: Counter = Counter()
    deaths: Counter = Counter()
    for uid in fd:
        t = (pd_[uid] - fd[uid]) if uid in pd_ else (ld[uid] - fd[uid])
        hist[t] += 1
        deaths[t] += 1 if uid in pd_ else 0
    at_risk = sum(hist.values())
    cum = 0
    want = []
    for t in sorted(hist):
        if deaths[t] > 0:
            h = (2 * 10**6 * deaths[t] + at_risk) // (2 * at_risk)
            cum += h
            want.append((t, at_risk, deaths[t], h, cum))
        at_risk -= hist[t]
    got = [
        (
            r["t_days"],
            r["n_risk"],
            r["n_deaths"],
            r["hazard_micro"],
            r["cum_hazard_micro"],
        )
        for r in QUERIES["events_hazard_nelson_aalen"]
        .fn(spark, SF)
        .orderBy("t_days")
        .collect()
    ]
    assert got == want
    assert len(want) > 0


def test_survival_logrank_matches_python_reference(spark):
    ev = _tbl("events")
    fd: dict = {}
    ld: dict = {}
    pd_: dict = {}
    ec: Counter = Counter()
    for ts, uid, et in zip(ev["ts"], ev["user_id"], ev["event_type"]):
        day = ts.date().toordinal()
        fd[uid] = min(fd.get(uid, day), day)
        ld[uid] = max(ld.get(uid, day), day)
        if et == "purchase":
            pd_[uid] = min(pd_.get(uid, day), day)
        if et == "error":
            ec[uid] += 1
    rows = []
    for uid in fd:
        t = (pd_[uid] - fd[uid]) if uid in pd_ else (ld[uid] - fd[uid])
        rows.append((t, 1 if uid in pd_ else 0, 1 if ec[uid] >= 14 else 0))
    times = sorted({t for t, _, _ in rows})
    o1 = e1 = v = 0
    for t in times:
        n = sum(1 for tt, _, _ in rows if tt >= t)
        d = sum(e for tt, e, _ in rows if tt == t)
        n1 = sum(1 for tt, _, g in rows if tt >= t and g == 1)
        d1 = sum(e for tt, e, g in rows if tt == t and g == 1)
        if d == 0:
            continue
        o1 += d1
        e1 += (2 * 10**6 * n1 * d + n) // (2 * n)
        if n > 1:
            # two-stage half-up recurrence (VERDICT r13 #2): divide
            # before the n^4 product accumulates — must mirror the
            # documented recurrence in plans/events.py exactly
            q1 = (2 * 10**6 * n1 * (n - n1) + n) // (2 * n)
            v += (2 * d * q1 * (n - d) + n * (n - 1)) // (
                2 * n * (n - 1)
            )
    delta = 10**6 * o1 - e1
    chi2 = (2 * delta * delta + v) // (2 * v)
    row = QUERIES["events_survival_logrank"].fn(spark, SF).collect()[0]
    assert row["o1"] == o1
    assert row["e1_micro"] == e1
    assert row["v_micro"] == v
    assert row["chi2_micro"] == chi2


def test_survival_rmst_matches_python_reference(spark):
    ev = _tbl("events")
    fd: dict = {}
    ld: dict = {}
    pd_: dict = {}
    for ts, uid, et in zip(ev["ts"], ev["user_id"], ev["event_type"]):
        day = ts.date().toordinal()
        fd[uid] = min(fd.get(uid, day), day)
        ld[uid] = max(ld.get(uid, day), day)
        if et == "purchase":
            pd_[uid] = min(pd_.get(uid, day), day)
    hist: Counter = Counter()
    deaths: Counter = Counter()
    for uid in fd:
        t = (pd_[uid] - fd[uid]) if uid in pd_ else (ld[uid] - fd[uid])
        hist[t] += 1
        deaths[t] += 1 if uid in pd_ else 0
    tau = max(hist)
    s = 1_000_000
    curve = []
    at_risk = sum(hist.values())
    for t in sorted(hist):
        if deaths[t] > 0:
            s = (2 * s * (at_risk - deaths[t]) + at_risk) // (2 * at_risk)
            curve.append((t, s))
        at_risk -= hist[t]
    rmst = 10**6 * (curve[0][0] if curve else tau)
    for i, (t, sv) in enumerate(curve):
        nxt = curve[i + 1][0] if i + 1 < len(curve) else tau
        rmst += sv * (nxt - t)
    median = min((t for t, sv in curve if sv <= 500_000), default=-1)
    row = QUERIES["events_survival_rmst"].fn(spark, SF).collect()[0]
    assert row["n_users"] == sum(hist.values())
    assert row["horizon_days"] == tau
    assert row["median_ttc_days"] == median
    assert row["rmst_micro_days"] == rmst
