"""A corrupted output is reported, so it counts as a failed operation."""

import json

import pytest

from perfbench import checks
from perfbench.consumer import REPLAY_SPEC
from perfbench.records import generate
from perfbench.tasks import PERMANENT, REJECT, TRANSIENT, TRANSIENT_SUB

TASKS = ["validate", "enrich"]


def _tasks_json(fate: str) -> str:
    def node(status, attempts, subtasks=None):
        return {"status": status, "attempts": attempts, "subtasks": subtasks or {}}

    validate = {
        REJECT: node("Rejected", 1),
        PERMANENT: node("Discarded", 2),
        TRANSIENT: node("Completed", 2),
    }.get(fate, node("Completed", 1))
    enrich = node(
        "Completed", 2 if fate == TRANSIENT_SUB else 1, {"persist": {"status": "Completed"}}
    )
    return json.dumps({"validate": validate, "enrich": enrich})


def _outputs(b):
    """The state, DMQ and DRQ a correct engine leaves after committing b."""
    state = [
        ("rejected" if f in (REJECT, PERMANENT) else "message", mid, "e", _tasks_json(f))
        for mid, f in b.fates.items()
    ] + [("unusable", None, e, None) for e in b.unusable]
    dmq = [mid for mid, n in b.dmq_copies.items() for _ in range(n)]
    drq = [e for e in b.unusable for _ in range(b.passes)]
    return state, dmq, drq


@pytest.fixture(scope="module")
def batch():
    (b,) = generate(11, REPLAY_SPEC, 1, 3000, first=4)
    return b


def test_correct_outputs_have_no_problems(batch):
    assert checks.engine_problems(batch, [batch], *_outputs(batch), TASKS) == {}


@pytest.mark.parametrize(
    "corrupt",
    [
        "drop_dmq", "extra_dmq", "drop_drq", "drop_state_row", "duplicate_state_row",
        "wrong_status", "extra_attempt", "wrong_kind", "stray_state_row",
    ],
)
def test_corrupted_output_fails_its_batch(batch, corrupt):
    state, dmq, drq = _outputs(batch)
    i = next(i for i, r in enumerate(state) if r[0] == "message")
    if corrupt == "drop_dmq":
        dmq = dmq[1:]
    elif corrupt == "extra_dmq":
        dmq = dmq + dmq[:1]
    elif corrupt == "drop_drq":
        drq = drq[1:]
    elif corrupt == "drop_state_row":
        del state[i]
    elif corrupt == "duplicate_state_row":
        state.append(state[i])
    elif corrupt == "wrong_status":
        state[i] = state[i][:3] + (state[i][3].replace("Completed", "Failed", 1),)
    elif corrupt == "extra_attempt":
        state[i] = state[i][:3] + (state[i][3].replace('"attempts": 1', '"attempts": 2', 1),)
    elif corrupt == "wrong_kind":
        state[i] = ("rejected",) + state[i][1:]
    elif corrupt == "stray_state_row":
        state.append(("message", "id1:b004-99999", "e", _tasks_json("ok")))
    problems = checks.engine_problems(batch, [batch], state, dmq, drq, TASKS)
    assert list(problems) == [batch.index]


def test_corrupted_query_result_changes_its_hash():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    cols = ["k", "name", "v"]
    h = checks.result_hash(rows, cols)
    assert checks.result_hash(list(reversed(rows)), cols) == h  # order-insensitive
    assert checks.result_hash([(1, "a", 0.5), (2, "b", 1.25)], cols) != h
    assert checks.result_hash(rows[:1], cols) != h


def test_corrupted_query_results_are_counted_in_failed_ops(monkeypatch, tmp_path):
    """Drives the analytics loop with a fake executor: one query returns a
    different result on its second timed execution, another disagrees with
    its oracle; each wrong execution is one failed operation."""
    from perfbench import analytics
    from perfbench.common import Run, Tracer

    calls: dict = {}

    def fake_execute(spark, name, sf_dir):
        calls[name] = calls.get(name, 0) + 1
        second_timed = analytics.WARM_PASSES + 2
        value = 2 if (name == "q5_region_revenue" and calls[name] == second_timed) else 1
        return 0.01, [(value, name)], ["k", "name"], None

    monkeypatch.setattr(analytics, "_execute", fake_execute)
    monkeypatch.setattr(analytics, "write_tables", lambda *args: None)
    monkeypatch.setattr(
        analytics, "_oracle_mismatches", lambda sf_dir, last: {"q1_pricing_summary"}
    )
    run = Run(
        workload="analytics_queries", seed=1, seconds=10, trace=False,
        work=str(tmp_path), t0=0.0, tracer=Tracer(False),
    )
    out = analytics.analytics_queries(run)
    assert out.attempted == 2 * len(analytics.QUERY_LIST)
    assert out.failed == 3  # q5's second timed execution, both q1 executions
    assert not out.correct


def test_oracle_comparison_allows_only_a_rounding_tie():
    cols = ["n_name", "revenue"]
    rows = [("NATION_7", 2198018.1), ("NATION_2", 3687572.6)]
    assert checks.same_result(rows, cols, [("NATION_7", 2198018.09), ("NATION_2", 3687572.6)], cols)
    assert checks.same_result(rows, cols, list(reversed(rows)), cols)
    for wrong in (
        [("NATION_7", 2198018.08), ("NATION_2", 3687572.6)],  # two units off
        [("NATION_7", 2198018.1), ("NATION_2", 3687573.6)],  # one unit of the integer part
        [("NATION_7", 2198018.1)],  # a row missing
        [("NATION_8", 2198018.1), ("NATION_2", 3687572.6)],  # a wrong key
    ):
        assert not checks.same_result(rows, cols, wrong, cols)
    assert not checks.same_result([(1, "a")], ["k", "v"], [(2, "a")], ["k", "v"])  # integers
    assert not checks.same_result([("v.1",)], ["k"], [("v.2",)], ["k"])  # text
