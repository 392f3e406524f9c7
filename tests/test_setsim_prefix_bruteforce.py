"""Focused pin for the setsim-prefix rewrite.

``prefix_filter_jaccard_pairs`` computes the global shingle
document-frequency with a single COUNT() OVER (PARTITION BY shingle)
window instead of a groupBy + join-back (which ran the shingle explode
twice and added a broadcast join) — same df values, one Generate, one
exchange fewer. Results must be identical; this pins the
operator end-to-end against a structurally different pure-Python
brute-force all-pairs Jaccard on a literal corpus (the same contract as
the DuckDB oracle, but self-contained and explicit about the prefix
filter's losslessness: EVERY pair with true Jaccard >= t must be out).
"""

from __future__ import annotations

from itertools import combinations


def _shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = text.split()
    n = max(len(toks) - (k - 1), 1)
    return frozenset(" ".join(toks[i : i + k]) for i in range(n))


def _corpus() -> list[tuple[str, str]]:
    words = [f"w{i}" for i in range(40)]
    docs = []
    # overlapping sliding windows -> a gradient of true Jaccard values
    for d in range(8):
        body = " ".join(words[d * 3 : d * 3 + 16])
        docs.append((f"d{d:02d}", body))
    docs.append(("dup_a", docs[2][1]))            # exact duplicate (J = 1)
    docs.append(("near_b", docs[4][1] + " w99"))  # near duplicate
    docs.append(("lone", "x0 x1 x2 x3 x4 x5"))    # disjoint
    # no doc shorter than k tokens: the operator's contract (unchanged
    # this round) requires >= k tokens per doc under ANSI slicing.
    return docs


def test_prefix_filter_matches_bruteforce_jaccard(spark):
    from kinesis_stream_consumer_spark.operators import dedup as D

    t = 0.2
    docs = _corpus()
    df = spark.createDataFrame(docs, "doc_id STRING, text STRING")
    got = {
        (r.doc_a, r.doc_b): r.jaccard_sim
        for r in D.prefix_filter_jaccard_pairs(
            df, "text", "doc_id", 3, threshold=t
        ).collect()
    }

    sets = {doc_id: _shingles(text) for doc_id, text in docs}
    want = {}
    for (ida, sa), (idb, sb) in combinations(sorted(sets.items()), 2):
        inter = len(sa & sb)
        union = len(sa | sb)  # set algebra, not the operator's size algebra
        if union and inter / union >= t:
            want[(ida, idb)] = inter / union

    assert set(got) == set(want), (
        sorted(set(want) - set(got)),
        sorted(set(got) - set(want)),
    )
    for pair, sim in want.items():
        assert abs(got[pair] - sim) < 1e-9 + 5e-5, (pair, got[pair], sim)
