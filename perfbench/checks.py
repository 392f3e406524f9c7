"""Output checks. Plain Python over rows collected from the engine's
state table and dead-letter queues, or from a query result, so a test can
feed them corrupted rows without a Spark session.

An engine batch is correct when, after it commits:
- every usable message appears exactly once in state, finalised, with the
  kind, task statuses and attempt counts its fate implies;
- the state's ``unusable`` rows hold exactly the unusable records;
- state holds nothing else;
- the DMQ holds exactly the rejected and discarded messages, and the DRQ
  exactly the unusable records, each as many times as the passes that
  emitted it (delivery is at-least-once under replay; see
  ``records.Batch.dmq_copies``).
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

from perfbench.tasks import PERMANENT, REJECT, TO_DMQ, TRANSIENT, TRANSIENT_SUB

# (task, fate) -> status and attempts once the batch has committed; every
# other pair is Completed after one attempt. max_number_of_attempts is 2.
STATUS = {("validate", REJECT): "Rejected", ("validate", PERMANENT): "Discarded"}
ATTEMPTS = {
    ("validate", TRANSIENT): 2,
    ("validate", PERMANENT): 2,
    ("enrich", TRANSIENT_SUB): 2,
}
SUB_TASKS = {"enrich": ("persist",)}


def _task_problems(mid: str, fate: str, tasks: dict, task_names) -> list[str]:
    if sorted(tasks) != sorted(task_names):
        return [f"{mid}: tasks {sorted(tasks)}"]
    out = []
    for name, st in tasks.items():
        want = STATUS.get((name, fate), "Completed")
        if st["status"] != want:
            out.append(f"{mid}: {name} is {st['status']}, expected {want}")
        if st["attempts"] != ATTEMPTS.get((name, fate), 1):
            out.append(f"{mid}: {name} ran {st['attempts']} times")
        subs = {k: v["status"] for k, v in st.get("subtasks", {}).items()}
        if subs != {k: "Completed" for k in SUB_TASKS.get(name, ())}:
            out.append(f"{mid}: {name} sub-tasks {subs}")
    return out


def engine_problems(state_batch, batches, state_rows, dmq_ids, drq_event_ids, task_names):
    """Problems per batch index, for every batch with at least one.

    State is checked against ``state_batch`` alone: a commit replaces the
    state partitions of every shard it touches, and every generated batch
    touches every shard, so state holds the last committed batch. The
    queues are append-only and are checked against all of ``batches``.

    ``state_rows``: (kind, id, event_id, tasks_json) for every state row;
    ``dmq_ids``: the DMQ's message ids; ``drq_event_ids``: the DRQ's
    eventIDs. A row that belongs to no known batch is reported under -1.
    """
    by_index = {b.index: b for b in batches}
    batch_of_event = {e: b.index for b in batches for e in b.unusable}
    problems: dict[int, list[str]] = {}

    def report(index, text):
        problems.setdefault(index if index in by_index else -1, []).append(text)

    b = state_batch
    seen_ids: dict[str, list] = {}
    seen_unusable: Counter = Counter()
    for kind, mid, event_id, tasks_json in state_rows:
        if kind == "unusable":
            seen_unusable[event_id] += 1
        elif kind in ("message", "rejected"):
            seen_ids.setdefault(mid, []).append((kind, tasks_json))
        else:
            report(b.index, f"unexpected state row kind {kind!r}")
    for mid in seen_ids.keys() - b.fates.keys():
        report(b.index, f"unexpected message {mid} in state")
    for e in seen_unusable.keys() - set(b.unusable):
        report(b.index, f"unexpected unusable record {e} in state")
    for mid, fate in b.fates.items():
        rows = seen_ids.get(mid, [])
        if len(rows) != 1:
            report(b.index, f"{mid}: {len(rows)} state rows")
            continue
        kind, tasks_json = rows[0]
        want_kind = "rejected" if fate in TO_DMQ else "message"
        if kind != want_kind:
            report(b.index, f"{mid}: kind {kind}, expected {want_kind}")
        for p in _task_problems(mid, fate, json.loads(tasks_json), task_names):
            report(b.index, p)
    for e in b.unusable:
        if seen_unusable[e] != 1:
            report(b.index, f"unusable {e}: {seen_unusable[e]} state rows")

    dmq = Counter(dmq_ids)
    for mid, n in dmq.items():
        b = by_index.get(_safe_batch(mid))
        want = b.dmq_copies.get(mid, 0) if b else 0
        if n != want:
            report(_safe_batch(mid), f"DMQ holds {mid} {n} times, expected {want}")
    for b in batches:
        for mid in b.dmq_copies.keys() - dmq.keys():
            report(b.index, f"{mid} missing from the DMQ")

    drq = Counter(drq_event_ids)
    for e, n in drq.items():
        b = by_index.get(batch_of_event.get(e))
        if b is None or n != b.passes:
            report(batch_of_event.get(e, -1), f"DRQ holds {e} {n} times")
    for b in batches:
        for e in set(b.unusable) - drq.keys():
            report(b.index, f"unusable {e} missing from the DRQ")
    return problems


def _safe_batch(message_id) -> int:
    """Batch index of a generated message id ("id1:b012-00345" -> 12)."""
    try:
        return int(message_id.split(":", 1)[1][1:].split("-", 1)[0])
    except (AttributeError, IndexError, ValueError):
        return -1


def normalized(rows, cols) -> list:
    """A query result in the canonical form the oracle-parity test
    compares: columns sorted by name, values rendered, rows sorted."""
    from tests.test_oracle_parity import _normalize

    return _normalize([tuple(r) for r in rows], [c.lower() for c in cols])


def _decimals(text: str) -> int | None:
    """Decimal places of a rendered float, None in exponent notation."""
    if "e" in text or "." not in text:
        return None
    return len(text.split(".", 1)[1])


def _same_value(a: str, b: str) -> bool:
    """Two rendered values are equal, or two floats rounded to the same one
    to four decimal places differ by one unit there. ROUND of a double sum
    that is exactly half-way (sums of prices times discounts often are)
    goes either way with the engine's summation order: on seeded sf 0.005
    tables, Spark's q5_region_revenue gives 2198018.1 for the exact
    2198018.0950 and its DuckDB oracle 2198018.09."""
    if a == b:
        return True
    da, db = _decimals(a), _decimals(b)
    if da is None or db is None:
        return False
    k = max(da, db)
    if not 1 <= k <= 4:
        return False
    try:
        step = abs(float(a) - float(b)) * 10**k
    except ValueError:  # text with a dot in it
        return False
    return abs(step - 1.0) < 1e-6


def same_result(rows, cols, oracle_rows, oracle_cols) -> bool:
    """Whether a query result equals its oracle's: in the canonical form
    of ``normalized``, value by value, with the one rounding tie
    ``_same_value`` allows."""
    a, b = normalized(rows, cols), normalized(oracle_rows, oracle_cols)
    return len(a) == len(b) and all(
        len(x) == len(y) and all(_same_value(u, v) for u, v in zip(x, y))
        for x, y in zip(a, b)
    )


def result_hash(rows, cols) -> str:
    return hashlib.sha256(repr(normalized(rows, cols)).encode()).hexdigest()
