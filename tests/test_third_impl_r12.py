"""Third-implementation checks for the r12 operators: each distributed
plan is recomputed from the raw parquet in from-scratch pure Python (no
Spark, no DuckDB), so a bug mirrored into the SQL oracle cannot hide.
Runs at sf0.001 to keep the brute-force recurrences cheap."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from kinesis_stream_consumer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> dict:
    return pq.read_table(f"{SF}/{name}.parquet").to_pydict()


def test_gapped_sequence_patterns_match_python_reference(spark):
    """Brute-force skip-gram counting: for every user's ordered chain,
    emit (a, b) for each b within the next W events of a, tally support
    (distinct users), occurrences, gap-1 subset, and half-up mean gap in
    centi-units with the query's exact tiebreak."""
    from kinesis_stream_consumer_spark.plans.events import _GAP_W

    ev = _tbl("events")
    chains: dict = defaultdict(list)
    for ts, eid, uid, et in zip(
        ev["ts"], ev["event_id"], ev["user_id"], ev["event_type"]
    ):
        chains[uid].append((ts, eid, et))
    support: Counter = Counter()
    occurrences: Counter = Counter()
    gap_total: Counter = Counter()
    n_adjacent: Counter = Counter()
    for uid, rows in chains.items():
        rows.sort(key=lambda r: (r[0], r[1]))
        types = [r[2] for r in rows]
        seen = set()
        for i, a in enumerate(types):
            if a is None:
                continue
            for g in range(1, _GAP_W + 1):
                if i + g >= len(types) or types[i + g] is None:
                    continue
                pat = f"{a}>{types[i + g]}"
                occurrences[pat] += 1
                gap_total[pat] += g
                if g == 1:
                    n_adjacent[pat] += 1
                seen.add(pat)
        for pat in seen:
            support[pat] += 1
    pats = sorted(
        occurrences, key=lambda p: (-support[p], -occurrences[p], p)
    )
    want = [
        (
            p,
            support[p],
            occurrences[p],
            n_adjacent[p],
            (200 * gap_total[p] + occurrences[p]) // (2 * occurrences[p]),
            rnk,
        )
        for rnk, p in enumerate(pats[:15], start=1)
    ]
    got = [
        (
            r["pattern"],
            r["support"],
            r["occurrences"],
            r["n_adjacent"],
            r["mean_gap_centi"],
            r["rank"],
        )
        for r in QUERIES["events_sequence_patterns_gapped"]
        .fn(spark, SF)
        .collect()
    ]
    assert got == want


def test_chi_square_matches_python_bigint_reference(spark):
    """Exact-integer recompute: Python bigints have no overflow, so the
    HUGEINT/DECIMAL(38) half-up per-cell recurrence is pinned against the
    one implementation that cannot wrap. Weekday = ISO (Mon=1)."""
    ev = _tbl("events")
    cells: Counter = Counter()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        if et is None:
            continue
        cells[(et, ts.isoweekday())] += 1
    n = sum(cells.values())
    rows_: Counter = Counter()
    cols_: Counter = Counter()
    for (et, dw), o in cells.items():
        rows_[et] += o
        cols_[dw] += o
    chi2_micro = 0
    for (et, dw), o in cells.items():
        num = o * n - rows_[et] * cols_[dw]
        den = n * rows_[et] * cols_[dw]
        chi2_micro += (2 * 1000000 * num * num + den) // (2 * den)
    mindf = min(len(rows_) - 1, len(cols_) - 1)
    want_v = round(math.sqrt((chi2_micro / 1000000.0) / (n * mindf)), 6)

    row = QUERIES["agg_chi_square_independence"].fn(spark, SF).collect()[0]
    assert row["n_events"] == n
    assert row["n_types"] == len(rows_)
    assert row["n_dows"] == len(cols_)
    assert row["df"] == (len(rows_) - 1) * (len(cols_) - 1)
    assert row["chi2_micro"] == chi2_micro
    assert row["cramers_v"] == want_v


def test_hodges_lehmann_matches_python_reference(spark):
    """Walsh-average pseudomedian recomputed by materializing every i<=j
    pair of the SAME deterministic sample (modulus from the corpus row
    count) and taking the lower nearest-rank median of the pair SUMS."""
    from kinesis_stream_consumer_spark.plans.aggregates import _HL_SAMPLE_TARGET

    ev = _tbl("events")
    n_total = len(ev["event_id"])
    m = max(1, n_total // _HL_SAMPLE_TARGET)
    sample: dict = defaultdict(list)
    for eid, et, v in zip(ev["event_id"], ev["event_type"], ev["value"]):
        if eid % m == 0 and v is not None:
            sample[et].append(v)
    want = []
    for et in sorted(sample):
        vals = sample[et]
        sums = sorted(
            vals[i] + vals[j]
            for i in range(len(vals))
            for j in range(i, len(vals))
        )
        r = (len(sums) + 1) // 2
        want.append(
            (
                et,
                len(vals),
                len(sums),
                round(sums[r - 1] / 2, 4),
                round(sum(vals) / len(vals), 4),
            )
        )
    got = [
        (
            r["event_type"],
            r["n_sample"],
            r["n_pairs"],
            r["hl_location"],
            r["sample_mean"],
        )
        for r in QUERIES["agg_hodges_lehmann"].fn(spark, SF).collect()
    ]
    assert got == want


def test_runs_test_matches_python_reference(spark):
    """Sign-sequence runs recomputed from the raw events: daily counts,
    day-over-day signs (zeros dropped), run boundaries, and the exact
    half-up milli expectation + the double z-score formula."""
    ev = _tbl("events")
    daily: Counter = Counter()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        daily[(et, ts.date())] += 1
    by_type: dict = defaultdict(list)
    for (et, day), c in daily.items():
        by_type[et].append((day, c))
    want = []
    for et in sorted(by_type):
        series = [c for _, c in sorted(by_type[et])]
        signs = []
        for a, b in zip(series, series[1:]):
            if b != a:
                signs.append(1 if b > a else -1)
        n1 = signs.count(1)
        n2 = signs.count(-1)
        n = n1 + n2
        if n1 == 0 or n2 == 0 or 2 * n1 * n2 <= n:
            continue
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        e_milli = (2000 * (n + 2 * n1 * n2) + n) // (2 * n)
        z = round(
            (runs - (n + 2 * n1 * n2) / n)
            / math.sqrt(
                (2 * n1 * n2 * (2 * n1 * n2 - n)) / (n * n * (n - 1))
            ),
            6,
        )
        want.append((et, n1, n2, runs, e_milli, z))
    got = [
        (
            r["event_type"],
            r["n_up"],
            r["n_down"],
            r["runs"],
            r["e_runs_milli"],
            r["z_score"],
        )
        for r in QUERIES["ts_runs_test"].fn(spark, SF).collect()
    ]
    assert got == want


def test_turning_points_match_python_reference(spark):
    ev = _tbl("events")
    daily: Counter = Counter()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        daily[(et, ts.date())] += 1
    by_type: dict = defaultdict(list)
    for (et, day), c in daily.items():
        by_type[et].append((day, c))
    want = []
    for et in sorted(by_type):
        series = [c for _, c in sorted(by_type[et])]
        n = len(series)
        if n <= 2:
            continue
        tp = sum(
            1
            for i in range(1, n - 1)
            if (series[i - 1] < series[i] > series[i + 1])
            or (series[i - 1] > series[i] < series[i + 1])
        )
        want.append(
            (
                et,
                n,
                tp,
                (20000 * tp + (n - 2)) // (2 * (n - 2)),
                (2000 * 2 * (n - 2) + 3) // 6,
                (2000 * (16 * n - 29) + 90) // 180,
            )
        )
    got = [
        (
            r["event_type"],
            r["n_days"],
            r["turning_points"],
            r["tp_rate_bp"],
            r["expected_milli"],
            r["variance_milli"],
        )
        for r in QUERIES["ts_turning_points"].fn(spark, SF).collect()
    ]
    assert got == want


def test_simpson_diversity_matches_python_reference(spark):
    """Exact-integer Simpson concentration with Python bigints (no
    overflow) and the SAME whitespace tokenizer as the query pair."""
    import re

    docs = _tbl("documents")
    counts: dict = defaultdict(Counter)
    for src, text in zip(docs["source"], docs["text"]):
        if text is None:
            continue
        for term in re.split(r"\s+", text.strip()):
            counts[src][term] += 1
    want = []
    for src in sorted(counts):
        tf = counts[src]
        n = sum(tf.values())
        s2 = sum(c * (c - 1) for c in tf.values())
        if n <= 1 or s2 <= 0:
            continue
        d = n * (n - 1)
        want.append(
            (
                src,
                n,
                len(tf),
                (2 * 1000000 * s2 + d) // (2 * d),
                round(d / s2, 4),
            )
        )
    got = [
        (
            r["source"],
            r["n_tokens"],
            r["vocab"],
            r["simpson_micro"],
            r["inv_simpson"],
        )
        for r in QUERIES["text_simpson_diversity"].fn(spark, SF).collect()
    ]
    assert got == want


def test_kruskal_wallis_matches_python_reference(spark):
    """Exact 2x-average-rank Kruskal-Wallis with Python bigints: grid
    ranks, per-group half-up nano terms, tie correction, and the final
    double H — pinning the HUGEINT/DECIMAL recurrence end to end."""
    orders = _tbl("orders")
    cust = _tbl("customer")
    nat = _tbl("nation")
    seg_by_cust = dict(zip(cust["c_custkey"], cust["c_mktsegment"]))
    nat_by_cust = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    name_by_nat = dict(zip(nat["n_nationkey"], nat["n_name"]))
    rows: dict = defaultdict(list)  # nation -> [(cents, seg)]
    for ck, price in zip(orders["o_custkey"], orders["o_totalprice"]):
        nation = name_by_nat[nat_by_cust[ck]]
        cents = int(math.floor(price * 100 + 0.5))
        rows[nation].append((cents, seg_by_cust[ck]))
    want = []
    for nation in sorted(rows):
        vals = rows[nation]
        tot: Counter = Counter(c for c, _ in vals)
        grid = {}
        cum = 0
        for cents in sorted(tot):
            grid[cents] = 2 * cum + tot[cents] + 1
            cum += tot[cents]
        groups: dict = defaultdict(lambda: [0, 0])  # seg -> [n_j, r2_j]
        for cents, seg in vals:
            groups[seg][0] += 1
            groups[seg][1] += grid[cents]
        k = len(groups)
        n = len(vals)
        if k <= 1 or n <= k:
            continue
        t_nano = sum(
            (2 * 10**9 * r2 * r2 + 4 * nj) // (2 * 4 * nj)
            for nj, r2 in groups.values()
        )
        tie_term = sum(t**3 - t for t in tot.values())
        if tie_term >= n**3 - n:
            continue
        # textbook coefficient 12: t_nano/1e9 = sum((2Rj)^2/(4nj))
        # = sum(Rj^2/nj) already includes the /4 (the round's review
        # caught a mirrored-everywhere 3 that was wrong by 4x)
        h = (
            12.0 * (t_nano / 1e9) / (float(n) * (n + 1)) - 3.0 * (n + 1)
        ) / (1.0 - tie_term / (float(n) * n * n - n))
        want.append((nation, k, n, t_nano, tie_term, round(h, 6)))
    got = [
        (
            r["nation"],
            r["k_groups"],
            r["n"],
            r["t_nano"],
            r["tie_term"],
            r["h_corrected"],
        )
        for r in QUERIES["agg_kruskal_wallis"].fn(spark, SF).collect()
    ]
    assert got == want


def test_neighbor_jaccard_matches_python_reference(spark):
    """Brute-force neighborhood Jaccard: build the co-purchase edge set
    (distinct order-part pairs, support >= 2), full adjacency sets, and
    score every edge — no orientation tricks, so the wedge-join plan is
    pinned against the naive definition."""
    li = _tbl("lineitem")
    order_parts: dict = defaultdict(set)
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        order_parts[ok].add(pk)
    pair_count: Counter = Counter()
    for parts in order_parts.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(ps[i], ps[j])] += 1
    edges = {p for p, c in pair_count.items() if c >= 2}
    adj: dict = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    want = []
    for u, v in edges:
        common = len((adj[u] - {v}) & (adj[v] - {u}))
        uni = (len(adj[u]) - 1) + (len(adj[v]) - 1) - common
        if uni <= 0:
            continue
        jbp = (20000 * common + uni) // (2 * uni)
        want.append((jbp, u, v, len(adj[u]), len(adj[v]), common))
    want.sort(key=lambda r: (-r[0], r[1], r[2]))
    want = [
        (u, v, du, dv, c, jbp) for jbp, u, v, du, dv, c in want[:20]
    ]
    got = [
        (
            r["u"],
            r["v"],
            r["deg_u"],
            r["deg_v"],
            r["common_neighbors"],
            r["jaccard_bp"],
        )
        for r in QUERIES["graph_neighbor_jaccard"].fn(spark, SF).collect()
    ]
    assert got == want


def test_term_burstiness_matches_python_reference(spark):
    import re

    docs = _tbl("documents")
    tf: dict = defaultdict(Counter)
    for did, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        for term in re.split(r"\s+", text.strip()):
            tf[term][did] += 1
    n_docs = len(docs["doc_id"])
    rows = []
    for term, per_doc in tf.items():
        cf = sum(per_doc.values())
        df = len(per_doc)
        if df < 5:
            continue
        rows.append(
            (
                (200 * cf + df) // (2 * df),
                cf,
                term,
                df,
                max(per_doc.values()),
                (20000 * df + n_docs) // (2 * n_docs),
            )
        )
    rows.sort(key=lambda r: (-r[0], -r[1], r[2]))
    want = [(t, cf, df, mx, b, dr) for b, cf, t, df, mx, dr in rows[:20]]
    got = [
        (
            r["term"],
            r["cf"],
            r["df"],
            r["max_in_doc"],
            r["burstiness_centi"],
            r["df_rate_bp"],
        )
        for r in QUERIES["text_term_burstiness"].fn(spark, SF).collect()
    ]
    assert got == want


def test_cohort_ltv_matches_python_reference(spark):
    import datetime

    ev = _tbl("events")
    firsts: dict = {}
    for uid, ts in zip(ev["user_id"], ev["ts"]):
        if uid not in firsts or ts < firsts[uid]:
            firsts[uid] = ts

    def week_start(ts):
        d = ts.date()
        return d - datetime.timedelta(days=d.weekday())

    cohort = {u: week_start(t) for u, t in firsts.items()}
    cell_rev: Counter = Counter()
    cell_users: dict = defaultdict(set)
    for uid, ts, et, v in zip(
        ev["user_id"], ev["ts"], ev["event_type"], ev["value"]
    ):
        if et != "purchase":
            continue
        cw = cohort[uid]
        age = (week_start(ts) - cw).days // 7
        cents = int(math.floor(v * 100 + 0.5))
        cell_rev[(cw, age)] += cents
        cell_users[(cw, age)].add(uid)
    sz: Counter = Counter(cohort.values())
    want = []
    for cw in sorted({c for c, _ in cell_rev}):
        cum = 0
        for age in sorted(a for c, a in cell_rev if c == cw):
            cum += cell_rev[(cw, age)]
            want.append(
                (
                    cw,
                    age,
                    sz[cw],
                    len(cell_users[(cw, age)]),
                    cell_rev[(cw, age)],
                    cum,
                    (2 * cum + sz[cw]) // (2 * sz[cw]),
                )
            )
    got = [
        (
            r["cohort_week"],
            r["age_weeks"],
            r["cohort_users"],
            r["n_active"],
            r["revenue_cents"],
            r["cum_revenue_cents"],
            r["ltv_cents_per_user"],
        )
        for r in QUERIES["events_cohort_ltv"].fn(spark, SF).collect()
    ]
    assert got == want


def test_langid_kappa_matches_python_reference(spark):
    """Cohen's kappa recomputed with Python bigints and an independent
    reimplementation of the stopword language-ID heuristic (same
    stopword lists, same en>es>de>fr tie-break, 'und' on zero hits)."""
    import re

    from kinesis_stream_consumer_spark.operators.text import LANG_STOPWORDS

    docs = _tbl("documents")
    cells: Counter = Counter()
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = re.split(r"\s+", (text or "").strip().lower())
        hits = {
            lg: sum(1 for t in toks if t in set(ws))
            for lg, ws in LANG_STOPWORDS.items()
        }
        best = max(hits.values())
        pred = "und"
        for lg in LANG_STOPWORDS:  # first in declaration order wins ties
            if hits[lg] > 0 and hits[lg] == best:
                pred = lg
                break
        cells[(lang, pred)] += 1
    n = sum(cells.values())
    diag = sum(c for (a, b), c in cells.items() if a == b)
    rows_: Counter = Counter()
    cols_: Counter = Counter()
    for (a, b), c in cells.items():
        rows_[a] += c
        cols_[b] += c
    rc = sum(rows_[l] * cols_[l] for l in rows_ if l in cols_)
    den = n * n - rc
    assert den > 0
    shift = 2000000
    kappa_micro = (
        2 * 1000000 * (n * diag - rc) + den + 2 * den * shift
    ) // (2 * den) - shift
    row = QUERIES["text_langid_kappa"].fn(spark, SF).collect()[0]
    assert row["n_docs"] == n
    assert row["n_agree"] == diag
    assert row["chance_weight"] == rc
    assert row["kappa_micro"] == kappa_micro


def test_ljung_box_matches_python_bigint_reference(spark):
    """Q recomputed with Python bigints: integer floor-demeaned daily
    cents, exact lag products, per-lag half-up micro terms — no width
    limits, so the HUGEINT/DECIMAL recurrence is pinned end to end."""
    from kinesis_stream_consumer_spark.plans.events import _LB_LAGS

    ev = _tbl("events")
    daily: Counter = Counter()
    for ts, v in zip(ev["ts"], ev["value"]):
        daily[ts.date()] += int(math.floor(v * 100 + 0.5))
    days = sorted(daily)
    tot = [daily[d] for d in days]
    n = len(tot)
    fm = sum(tot) // n
    dev = {d: daily[d] - fm for d in days}
    dd = sum(x * x for x in dev.values())
    q_micro = 0
    import datetime

    for k in range(1, _LB_LAGS + 1):
        num = sum(
            dev[d] * dev[d + datetime.timedelta(days=k)]
            for d in days
            if d + datetime.timedelta(days=k) in dev
        )
        den = dd * dd * (n - k)
        q_micro += (
            2 * 1000000 * n * (n + 2) * num * num + den
        ) // (2 * den)
    row = QUERIES["ts_ljung_box"].fn(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["m_lags"] == _LB_LAGS
    assert row["q_micro"] == q_micro


def test_user_lifespan_matches_python_reference(spark):
    ev = _tbl("events")
    lo: dict = {}
    hi: dict = {}
    for uid, ts in zip(ev["user_id"], ev["ts"]):
        d = ts.date()
        if uid not in lo or d < lo[uid]:
            lo[uid] = d
        if uid not in hi or d > hi[uid]:
            hi[uid] = d
    buckets: Counter = Counter(
        (hi[u] - lo[u]).days // 7 for u in lo
    )
    total = sum(buckets.values())
    want = []
    cum = 0
    for wk in sorted(buckets):
        cum += buckets[wk]
        want.append(
            (
                wk,
                buckets[wk],
                (20000 * buckets[wk] + total) // (2 * total),
                cum,
            )
        )
    got = [
        (r["lifespan_weeks"], r["n_users"], r["share_bp"], r["cum_users"])
        for r in QUERIES["events_user_lifespan"].fn(spark, SF).collect()
    ]
    assert got == want


def test_kruskal_wallis_textbook_ground_truth():
    """EXTERNAL ground truth (not a mirrored formula): groups {1} and
    {2, 3} have ranks 1 | 2,3, no ties, and the textbook statistic is
    H = 12/(N(N+1))·ΣRj²/nj − 3(N+1) = 12/12·13.5 − 12 = 1.5. The
    round's code review caught all three mirrored implementations
    shipping coefficient 3 (H = −8.625 here); this pin makes the
    recurrence falsifiable against a published value."""
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
    tie_term = sum(t**3 - t for t in tot.values())
    h = (
        12.0 * (t_nano / 1e9) / (float(n) * (n + 1)) - 3.0 * (n + 1)
    ) / (1.0 - tie_term / (float(n) * n * n - n))
    assert round(h, 6) == 1.5


def test_silhouette_matches_python_lloyd_reference(spark):
    """From-scratch pure-Python Lloyd (quantize -> id-modulus sample ->
    k-smallest-id init -> argmin-with-lowest-cell ties -> half-up integer
    centroid means, 2 iterations) + full-corpus assignment + simplified
    silhouette — an independent implementation of the ENTIRE trained
    pipeline, so neither the numpy trainer nor the SQL CTE chain can
    hide a shared bug."""
    from kinesis_stream_consumer_spark.operators.similarity import (
        KMEANS_QUANT_SCALE,
        TRAIN_POINTS_PER_CENTROID,
    )
    from kinesis_stream_consumer_spark.plans.llm_pipeline import (
        _KMEANS_ITER,
        _KMEANS_K,
    )

    emb = _tbl("embeddings")
    k, n_iter = _KMEANS_K, _KMEANS_ITER
    vecs = {
        int(vid): [
            int(math.floor(float(x) * KMEANS_QUANT_SCALE + 0.5)) for x in v
        ]
        for vid, v in zip(emb["vec_id"], emb["embedding"])
    }
    n = len(vecs)
    s_mod = max(1, n // (TRAIN_POINTS_PER_CENTROID * k))
    train = {vid: q for vid, q in vecs.items() if vid % s_mod == 0}
    # init: the k smallest TRAINING ids, cell = vid div s_mod
    cents = {
        vid // s_mod: list(train[vid])
        for vid in sorted(train)
        if vid < k * s_mod
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for _ in range(n_iter):
        assign: dict = defaultdict(list)
        for vid in sorted(train):
            best = min(
                ((d2(train[vid], c), cell) for cell, c in cents.items())
            )
            assign[best[1]].append(vid)
        new_cents = {}
        for cell, vids in assign.items():
            dim = len(train[vids[0]])
            new_cents[cell] = [
                (2 * sum(train[v][p] for v in vids) + len(vids))
                // (2 * len(vids))
                for p in range(dim)
            ]
        cents = new_cents  # empty cells drop
    # full-corpus assignment + simplified silhouette
    per_cell: dict = defaultdict(lambda: [0, 0, 0])  # n, ssum, nb
    for vid in sorted(vecs):
        dists = sorted((d2(vecs[vid], c), cell) for cell, c in cents.items())
        a, own = dists[0]
        b = min(d for d, cell in dists if cell != own)
        mx = max(b, a, 1)
        s_milli = (2000 * (b - a) + mx) // (2 * mx)
        agg = per_cell[own]
        agg[0] += 1
        agg[1] += s_milli
        agg[2] += 1 if s_milli < 100 else 0
    want = [
        (
            cell,
            nn,
            (2 * ssum + nn) // (2 * nn),
            nb,
        )
        for cell, (nn, ssum, nb) in sorted(per_cell.items())
    ]
    got = [
        (
            r["cell_id"],
            r["n_vectors"],
            r["mean_silhouette_milli"],
            r["n_boundary"],
        )
        for r in QUERIES["sim_silhouette_eval"].fn(spark, SF).collect()
    ]
    assert got == want


def test_pq_distortion_matches_python_lloyd_reference(spark):
    """From-scratch pure-Python per-subspace Lloyd (the PQ trainer's
    recurrence re-derived independently: subspace split, id-modulus
    sample, k-smallest-id init, argmin/half-up-mean iterations) + exact
    distortion and energy sums with Python bigints."""
    from kinesis_stream_consumer_spark.operators.similarity import (
        KMEANS_QUANT_SCALE,
        TRAIN_POINTS_PER_CENTROID,
    )
    from kinesis_stream_consumer_spark.plans.llm_pipeline import (
        _DIM,
        _PQ_ITER,
        _PQ_K,
        _PQ_M,
    )

    emb = _tbl("embeddings")
    sub_dim = _DIM // _PQ_M
    vecs = {
        int(vid): [
            int(math.floor(float(x) * KMEANS_QUANT_SCALE + 0.5)) for x in v
        ]
        for vid, v in zip(emb["vec_id"], emb["embedding"])
    }
    n = len(vecs)
    s_mod = max(1, n // (TRAIN_POINTS_PER_CENTROID * _PQ_K))
    train = {vid: q for vid, q in vecs.items() if vid % s_mod == 0}

    def subv(q, sub):
        return q[sub * sub_dim : (sub + 1) * sub_dim]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    per_sub = []
    for sub in range(_PQ_M):
        cents = {
            vid // s_mod: list(subv(train[vid], sub))
            for vid in sorted(train)
            if vid < _PQ_K * s_mod
        }
        for _ in range(_PQ_ITER):
            assign: dict = defaultdict(list)
            for vid in sorted(train):
                best = min(
                    (d2(subv(train[vid], sub), c), cell)
                    for cell, c in cents.items()
                )
                assign[best[1]].append(vid)
            cents = {
                cell: [
                    (2 * sum(subv(train[v], sub)[p] for v in vids) + len(vids))
                    // (2 * len(vids))
                    for p in range(sub_dim)
                ]
                for cell, vids in assign.items()
            }
        nn = 0
        sd = 0
        mx = 0
        e = 0
        for vid in sorted(vecs):
            x = subv(vecs[vid], sub)
            d = min(d2(x, c) for c in cents.values())
            nn += 1
            sd += d
            mx = max(mx, d)
            e += sum(c * c for c in x)
        if e > 0:
            per_sub.append(
                (
                    sub,
                    nn,
                    (2 * sd + nn) // (2 * nn),
                    mx,
                    (2 * 10000 * sd + e) // (2 * e),
                )
            )
    got = [
        (
            r["sub"],
            r["n_vectors"],
            r["mean_distortion"],
            r["max_distortion"],
            r["err_bp"],
        )
        for r in QUERIES["sim_pq_distortion_eval"].fn(spark, SF).collect()
    ]
    assert got == per_sub


def test_langid_mcnemar_matches_python_reference(spark):
    """McNemar recomputed with the independent langid reimplementation
    (same as the kappa third impl) and Python bigints."""
    import re

    from kinesis_stream_consumer_spark.operators.text import LANG_STOPWORDS

    docs = _tbl("documents")
    rows = []
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = re.split(r"\s+", (text or "").strip().lower())
        hits = {
            lg: sum(1 for t in toks if t in set(ws))
            for lg, ws in LANG_STOPWORDS.items()
        }
        best = max(hits.values())
        pred = "und"
        for lg in LANG_STOPWORDS:
            if hits[lg] > 0 and hits[lg] == best:
                pred = lg
                break
        rows.append((lang, pred))
    counts = Counter(l for l, _ in rows)
    majority = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    n = len(rows)
    nh = sum(1 for l, p in rows if p == l)
    nb = sum(1 for l, _ in rows if l == majority)
    b = sum(1 for l, p in rows if p == l and l != majority)
    c = sum(1 for l, p in rows if p != l and l == majority)
    assert b + c > 0
    want = (
        n,
        (20000 * nh + n) // (2 * n),
        (20000 * nb + n) // (2 * n),
        b,
        c,
        (2 * 1000000 * (b - c) * (b - c) + (b + c)) // (2 * (b + c)),
    )
    row = QUERIES["text_langid_mcnemar"].fn(spark, SF).collect()[0]
    got = (
        row["n_docs"],
        row["acc_heuristic_bp"],
        row["acc_baseline_bp"],
        row["n_only_heuristic"],
        row["n_only_baseline"],
        row["mcnemar_micro"],
    )
    assert got == want
