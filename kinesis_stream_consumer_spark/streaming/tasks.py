"""Task framework — reference X1–X4 + the task state machine.

State machine (test/kinesis-consumer.test.js:46-60,1447-1469,1955,2530):

    Unstarted → Started → { Completed/Succeeded,  (finalised)
                            Failed, TimedOut,     (incomplete → retry)
                            Rejected, Discarded, Abandoned }  (fully finalised)

Task trees (X3, README.md:55-60): sub-task states roll up — a task is not
*fully finalised* until itself AND all sub-tasks are terminal.

Attempts (X4, default-kinesis-options.json:37): increment per execution;
reaching maxNumberOfAttempts ⇒ Discarded (poison-pill ejection,
test/kinesis-consumer.test.js:2530-2759). TimedOut resets attempts
(test/kinesis-consumer.test.js:2985-2988).

Everything in this module is plain Python executed inside Arrow-batched
pandas UDFs on executors — the engine ships TaskDefs (picklable closures)
to where the data lives; no driver-side per-message loops.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

# --- statuses ----------------------------------------------------------------

UNSTARTED = "Unstarted"
STARTED = "Started"
COMPLETED = "Completed"
SUCCEEDED = "Succeeded"
FAILED = "Failed"
TIMED_OUT = "TimedOut"
REJECTED = "Rejected"
DISCARDED = "Discarded"
ABANDONED = "Abandoned"
UNUSABLE = "Unusable"  # revived task whose def no longer exists (T2) → T3 Abandoned

FINALISED = {COMPLETED, SUCCEEDED, REJECTED, DISCARDED, ABANDONED}
FULLY_FINALISED_TERMINAL = {REJECTED, DISCARDED, ABANDONED}
INCOMPLETE = {UNSTARTED, STARTED, FAILED, TIMED_OUT, UNUSABLE}


class TaskRejectedError(Exception):
    """Raised by user code (or via TaskControl.reject) to reject a message."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


@dataclass
class TaskDef:
    """A named user task (README.md:49-66). ``execute`` must be picklable —
    it ships to executors. processOne fns: f(message: dict, task: TaskControl)
    → any; processAll fns: f(batch_df: DataFrame, engine_ctx) → optional
    {message_id: (status, reason)} per-message overrides (X2 master/slave,
    README.md:213-218)."""

    name: str
    execute: Callable
    sub_task_names: Sequence[str] = field(default_factory=tuple)


class TaskControl:
    """The ``this`` surface a processOne fn sees: self/sub-task transitions
    (README.md:122-178)."""

    def __init__(self, state: Dict[str, Any]):
        self._state = state

    def reject(self, reason: str):
        raise TaskRejectedError(reason)

    def succeed(self):
        self._state["status"] = SUCCEEDED

    @property
    def attempts(self) -> int:
        """Current attempt number, 1-based inside execute (incremented
        before the call — reference task-utils exposes the same counter;
        the retry-aware idiom is `if task.attempts < N: raise`)."""
        return int(self._state.get("attempts", 0))

    def subtask(self, name: str) -> "SubTaskControl":
        sub = self._state["subtasks"].get(name)
        if sub is None:
            raise KeyError(f"unknown sub-task {name!r}")
        return SubTaskControl(sub)


class SubTaskControl:
    def __init__(self, state: Dict[str, Any]):
        self._state = state

    def complete(self):
        self._state["status"] = COMPLETED

    def fail(self, error: str):
        self._state["status"] = FAILED
        self._state["error"] = error

    def reject(self, reason: str):
        self._state["status"] = REJECTED
        self._state["reason"] = reason


# --- task-tree state helpers (operate on the tasks_json dict) ----------------


def new_task_state(kind: str, sub_names: Sequence[str] = ()) -> Dict[str, Any]:
    return {
        "type": kind,  # 'one' | 'all'
        "status": UNSTARTED,
        "attempts": 0,
        "began": None,
        "took_ms": None,
        "error": None,
        "reason": None,
        "subtasks": {n: new_task_state(kind) for n in sub_names},
    }


def init_tasks(
    prior_json: Optional[str],
    one_defs: Sequence[TaskDef],
    all_defs: Sequence[TaskDef],
) -> Dict[str, Any]:
    """T2 revive: restore prior task states for still-active defs; prior
    tasks whose defs no longer exist are revived as Unusable (→ Abandoned in
    finalise, T3, test/batch.test.js:301-731,1027-1179); new defs start
    Unstarted."""
    prior: Dict[str, Any] = json.loads(prior_json) if prior_json else {}
    tasks: Dict[str, Any] = {}
    for d in one_defs:
        tasks[d.name] = prior.get(d.name) or new_task_state("one", d.sub_task_names)
        for sn in d.sub_task_names:
            tasks[d.name]["subtasks"].setdefault(sn, new_task_state("one"))
    for d in all_defs:
        tasks[d.name] = prior.get(d.name) or new_task_state("all", d.sub_task_names)
    active = {d.name for d in one_defs} | {d.name for d in all_defs}
    for name, st in prior.items():
        if name not in active:
            st = dict(st)
            st["status"] = UNUSABLE
            tasks[name] = st
    return tasks


def task_nodes(st: Dict[str, Any]) -> List[Dict[str, Any]]:
    """A task's tree (X3): the task itself, then its sub-tasks."""
    return [st, *st.get("subtasks", {}).values()]


def task_finalised(st: Dict[str, Any]) -> bool:
    """The task AND every sub-task are terminal — the tree is done."""
    return all(node["status"] in FINALISED for node in task_nodes(st))


def is_fully_finalised(tasks: Dict[str, Any]) -> bool:
    return all(task_finalised(st) for st in tasks.values())


def is_incomplete(tasks: Dict[str, Any]) -> bool:
    return any(
        node["status"] in INCOMPLETE
        for st in tasks.values()
        for node in task_nodes(st)
    )


def is_rejectedish(tasks: Dict[str, Any]) -> bool:
    """Message belongs in the DMQ: fully finalised with at least one
    Rejected/Discarded/Abandoned task (D3)."""
    return is_fully_finalised(tasks) and any(
        node["status"] in FULLY_FINALISED_TERMINAL
        for st in tasks.values()
        for node in task_nodes(st)
    )


def execute_one_task(
    st: Dict[str, Any], d: TaskDef, message: Dict[str, Any]
) -> None:
    """Run one processOne task against one message, updating state in place.
    Idempotent resume (D1): finalised task trees are skipped, preserving
    attempts (test/batch.test.js:443-462)."""
    if task_finalised(st):
        return
    st["attempts"] += 1
    st["status"] = STARTED
    st["began"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    t0 = time.perf_counter()
    try:
        d.execute(message, TaskControl(st))
        if st["status"] == STARTED:
            st["status"] = COMPLETED
        for sub in st["subtasks"].values():
            if sub["status"] == UNSTARTED:
                sub["status"] = COMPLETED
        st["error"] = None
    except TaskRejectedError as e:
        st["status"] = REJECTED
        st["reason"] = e.reason
    except Exception as e:  # noqa: BLE001 - user code may raise anything
        st["status"] = FAILED
        st["error"] = f"{type(e).__name__}: {e}"
    finally:
        st["took_ms"] = round((time.perf_counter() - t0) * 1000, 3)


def apply_finalise_rules(tasks: Dict[str, Any], max_attempts: int) -> None:
    """F1/X4/T3 transitions applied at finalise, in place:
    - Unusable (stale def) → Abandoned (T3)
    - incomplete with attempts ≥ maxNumberOfAttempts → Discarded (X4)
    - TimedOut resets attempts (X5 parity, kinesis-consumer.test.js:2985-2988)
    """
    for st in tasks.values():
        for node in task_nodes(st):
            if node["status"] == UNUSABLE:
                node["status"] = ABANDONED
                node["reason"] = node.get("reason") or "task def no longer active"
            elif node["status"] == TIMED_OUT:
                node["attempts"] = 0
            elif (
                node["status"] in INCOMPLETE
                and node["attempts"] >= max_attempts
            ):
                node["status"] = DISCARDED
                node["reason"] = (
                    f"discarded after {node['attempts']} attempts "
                    f"(maxNumberOfAttempts={max_attempts})"
                )


def finalise_outputs(
    tasks: Dict[str, Any], max_attempts: int
) -> Tuple[str, bool, bool, bool, Optional[str]]:
    """Apply the finalise rules in place, then emit one message's finalise
    row: (tasks_json, fully_finalised, rejectedish, incomplete, reason) —
    ``reason`` is the first Rejected/Discarded/Abandoned node's."""
    apply_finalise_rules(tasks, max_attempts)
    reason = next(
        (
            node.get("reason")
            for st in tasks.values()
            for node in task_nodes(st)
            if node["status"] in FULLY_FINALISED_TERMINAL
        ),
        None,
    )
    return (
        dumps(tasks),
        is_fully_finalised(tasks),
        is_rejectedish(tasks),
        is_incomplete(tasks),
        reason,
    )


def dumps(tasks: Dict[str, Any]) -> str:
    return json.dumps(tasks, separators=(",", ":"), sort_keys=True)
