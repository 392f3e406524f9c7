"""The benchmark's processOne task functions. They run on executors, which
import this module by name, so it imports nothing. Each acts on the
``fate`` the record generator wrote into the message."""

OK = "ok"
REJECT = "reject"  # validate rejects it -> Rejected -> DMQ
TRANSIENT = "transient"  # validate fails on the first attempt only
TRANSIENT_SUB = "transient_sub"  # enrich's sub-task fails on the first attempt only
PERMANENT = "permanent"  # validate always fails -> Discarded -> DMQ
TO_DMQ = (REJECT, PERMANENT)


def validate(message, task):
    fate = message.get("fate")
    if fate == REJECT:
        task.reject("rejected by validate")
    if fate == PERMANENT or (fate == TRANSIENT and task.attempts < 2):
        raise RuntimeError(f"validate failed on attempt {task.attempts}")


def enrich(message, task):
    """Has one sub-task, ``persist``, which fails on the first attempt of a
    TRANSIENT_SUB message."""
    if message.get("fate") == TRANSIENT_SUB and task.attempts < 2:
        task.subtask("persist").fail("store unavailable")
    else:
        task.subtask("persist").complete()
