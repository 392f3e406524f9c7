"""Third-implementation checks for the r11 operators: each distributed
plan is recomputed from the raw parquet in from-scratch pure Python (no
Spark, no DuckDB), so a bug mirrored into the SQL oracle cannot hide.
Runs at sf0.001 to keep the brute-force recurrences cheap."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq

from kinesis_stream_consumer_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> dict:
    return pq.read_table(f"{SF}/{name}.parquet").to_pydict()


def test_sequence_patterns_match_python_reference(spark):
    """Brute-force GSP-style counting: materialize every user's ordered
    event-type chain, slide contiguous windows of 2 and 3, count support
    (distinct users) and occurrences, rank with the query's exact
    tiebreak."""
    ev = _tbl("events")
    chains: dict = defaultdict(list)
    for ts, eid, uid, et in zip(
        ev["ts"], ev["event_id"], ev["user_id"], ev["event_type"]
    ):
        chains[uid].append((ts, eid, et))
    support: Counter = Counter()
    occurrences: Counter = Counter()
    for uid, rows in chains.items():
        rows.sort(key=lambda r: (r[0], r[1]))
        types = [r[2] for r in rows]
        seen = set()
        for k in (2, 3):
            for i in range(len(types) - k + 1):
                gram = types[i : i + k]
                if any(t is None for t in gram):
                    continue
                pat = (k, ">".join(gram))
                occurrences[pat] += 1
                seen.add(pat)
        for pat in seen:
            support[pat] += 1
    want = []
    for k in (2, 3):
        pats = [p for p in occurrences if p[0] == k]
        pats.sort(key=lambda p: (-support[p], -occurrences[p], p[1]))
        for rnk, p in enumerate(pats[:10], start=1):
            want.append((k, p[1], support[p], occurrences[p], rnk))

    got = [
        (r["k"], r["pattern"], r["support"], r["occurrences"], r["rank_in_k"])
        for r in QUERIES["events_sequence_patterns"].fn(spark, SF).collect()
    ]
    assert got == want


def _daily_counts() -> dict:
    ev = _tbl("events")
    daily: Counter = Counter()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        daily[(et, ts.date())] += 1
    by_type: dict = defaultdict(list)
    for (et, day), c in sorted(daily.items()):
        by_type[et].append(c)
    return by_type


def test_kendall_tau_matches_python_reference(spark):
    """Brute-force O(n²) pair comparison per type, tau-b with the y-only
    tie correction."""
    import math

    want = {}
    for et, cs in _daily_counts().items():
        n = len(cs)
        conc = disc = tied = 0
        for i in range(n):
            for j in range(i + 1, n):
                if cs[j] > cs[i]:
                    conc += 1
                elif cs[j] < cs[i]:
                    disc += 1
                else:
                    tied += 1
        n0 = n * (n - 1) // 2
        if n0 > tied:
            tau = (conc - disc) / math.sqrt(n0 * (n0 - tied))
            want[et] = (conc, disc, tied, round(tau, 4))
    got = {
        r["event_type"]: (
            r["concordant"],
            r["discordant"],
            r["tied_pairs"],
            float(r["tau_b"]),
        )
        for r in QUERIES["ts_kendall_tau"].fn(spark, SF).collect()
    }
    assert got == want


def test_theil_sen_matches_python_reference(spark):
    """All pairwise milli-slopes with the positivity-shift half-up
    division, lower median by value order."""
    from kinesis_stream_consumer_spark.plans.events import _TS_SHIFT

    want = {}
    for et, cs in _daily_counts().items():
        slopes = []
        for i in range(len(cs)):
            for j in range(i + 1, len(cs)):
                d = j - i
                s = (
                    2000 * (cs[j] - cs[i]) + d + 2 * d * _TS_SHIFT
                ) // (2 * d) - _TS_SHIFT
                slopes.append(s)
        slopes.sort()
        want[et] = (len(slopes), slopes[(len(slopes) + 1) // 2 - 1])
    got = {
        r["event_type"]: (r["n_pairs"], r["theil_sen_slope_milli"])
        for r in QUERIES["ts_theil_sen_trend"].fn(spark, SF).collect()
    }
    assert got == want


def test_daily_peaks_matches_python_reference(spark):
    """Strict local maxima above the type mean; vs_mean_milli = half-up
    1000·c·n/s — the formula a mirrored oracle bug halved once (review
    r11), which is exactly why this third implementation exists."""
    ev = _tbl("events")
    daily: Counter = Counter()
    for ts, et in zip(ev["ts"], ev["event_type"]):
        daily[(et, ts.date())] += 1
    by_type: dict = defaultdict(list)
    for (et, day), c in sorted(daily.items()):
        by_type[et].append((day, c))
    want = []
    for et in sorted(by_type):
        rows = by_type[et]
        s = sum(c for _, c in rows)
        n = len(rows)
        for i in range(1, n - 1):
            day, c = rows[i]
            if c > rows[i - 1][1] and c > rows[i + 1][1] and c * n > s:
                want.append((et, day, c, (2000 * c * n + s) // (2 * s)))
    got = [
        (r["event_type"], r["day"], r["n_events"], r["vs_mean_milli"])
        for r in QUERIES["events_daily_peaks"].fn(spark, SF).collect()
    ]
    assert got == want
    # every reported peak is strictly above the mean => ratio > 1000
    assert all(v > 1000 for *_, v in got)


def test_budget_waterfill_matches_python_reference(spark):
    """Brute-force iterative waterline (the algorithm the closed-form
    prefix predicate replaces): repeatedly give every unsatisfied source
    an equal share until no source's availability binds, then split the
    remainder with largest-remainder units."""
    import re

    from kinesis_stream_consumer_spark.plans.curation import _WF_BUDGET

    docs = _tbl("documents")
    avail: Counter = Counter()
    tok = re.compile(r"[A-Za-z]+|\d+|[^\w\s]")
    for src, text in zip(docs["source"], docs["text"]):
        avail[src] += len(tok.findall(text))
    full = set()
    budget = _WF_BUDGET
    # iterate: any source whose inventory fits under an equal split of
    # the remaining budget takes all of it
    changed = True
    while changed:
        changed = False
        rest = [s for s in avail if s not in full]
        if not rest:
            break
        share = (budget - sum(avail[s] for s in full)) // len(rest)
        for s in sorted(rest):
            if avail[s] <= share:
                full.add(s)
                changed = True
    rest = sorted(s for s in avail if s not in full)
    remaining = budget - sum(avail[s] for s in full)
    alloc = {s: avail[s] for s in full}
    if rest:
        base, extra = divmod(remaining, len(rest))
        for i, s in enumerate(rest):
            alloc[s] = base + (1 if i < extra else 0)
    want = [
        (s, avail[s], alloc[s], 1 if s in full else 0) for s in sorted(avail)
    ]
    got = [
        (r["source"], r["avail_tokens"], r["alloc_tokens"], r["fully_taken"])
        for r in QUERIES["curation_budget_waterfill"].fn(spark, SF).collect()
    ]
    assert got == want
    assert sum(a for _, _, a, _ in got) == min(
        _WF_BUDGET, sum(avail.values())
    )


def test_mann_whitney_matches_python_reference(spark):
    """From-scratch rank-sum: sort each nation's combined sample, assign
    textbook average ranks (as 2x integers), U1 = R1 - n1(n1+1)/2."""
    orders = _tbl("orders")
    cust = _tbl("customer")
    nation = _tbl("nation")
    seg = dict(zip(cust["c_custkey"], cust["c_mktsegment"]))
    cnat = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    nname = dict(zip(nation["n_nationkey"], nation["n_name"]))
    samples: dict = defaultdict(list)
    for ck, tp in zip(orders["o_custkey"], orders["o_totalprice"]):
        s = seg.get(ck)
        if s in ("BUILDING", "MACHINERY"):
            cents = int(tp * 100 + 0.5) if tp >= 0 else -int(-tp * 100 + 0.5)
            samples[nname[cnat[ck]]].append((s, cents))
    want = {}
    for nat, rows in samples.items():
        rows.sort(key=lambda r: r[1])
        n1 = sum(1 for s, _ in rows if s == "BUILDING")
        n2 = len(rows) - n1
        if n1 == 0 or n2 == 0:
            continue
        # 2x average ranks by value group
        r1_x2 = 0
        i = 0
        while i < len(rows):
            j = i
            while j < len(rows) and rows[j][1] == rows[i][1]:
                j += 1
            avg2 = (i + 1) + j  # 2*avg of ranks i+1..j
            r1_x2 += sum(avg2 for s, _ in rows[i:j] if s == "BUILDING")
            i = j
        u1_x2 = r1_x2 - n1 * (n1 + 1)
        want[nat] = (
            n1,
            n2,
            u1_x2,
            (20000 * u1_x2 + 2 * n1 * n2) // (4 * n1 * n2),
        )
    got = {
        r["nation"]: (r["n1"], r["n2"], r["u1_x2"], r["effect_bp"])
        for r in QUERIES["agg_mann_whitney"].fn(spark, SF).collect()
    }
    assert got == want


def test_id_gaps_matches_python_reference(spark):
    ev = _tbl("events")
    ids = sorted(set(ev["event_id"]))
    islands = 1
    for a, b in zip(ids, ids[1:]):
        if b != a + 1:
            islands += 1
    span = ids[-1] - ids[0] + 1
    want = (
        len(ids),
        ids[0],
        ids[-1],
        islands,
        islands - 1,
        (20000 * len(ids) + span) // (2 * span),
    )
    r = QUERIES["audit_id_gaps"].fn(spark, SF).collect()[0]
    got = (
        r["n_ids"],
        r["min_id"],
        r["max_id"],
        r["n_islands"],
        r["n_gaps"],
        r["coverage_bp"],
    )
    assert got == want
