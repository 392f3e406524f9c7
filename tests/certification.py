"""Certification ledger: machine-checked tracking of driver evidence.

The driver's CORRECTNESS file records only the first 50 registered queries
per round, which ``plans.DRIVER_WINDOW`` names; every other query rides
evidence from the round it was last inside the window. That is only sound
while their bodies are unchanged — r3 certified this on the honor system
("judge-verified diff"). This module
makes it mechanical: ``certification_manifest.json`` records, per query,
the round of its last green driver row and a content hash of its plan fn
source + oracle SQL at that time. The gate test fails any query whose
hash drifted from its certified hash while sitting OUTSIDE
``DRIVER_WINDOW`` — stale evidence can no longer be claimed silently.

Regenerate after a driver round lands (reads CORRECTNESS_r*.json):

    python tests/certification.py update
"""

from __future__ import annotations

import hashlib
import inspect
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))
MANIFEST = Path(__file__).resolve().parent / "certification_manifest.json"

from kinesis_stream_consumer_spark.plans import DRIVER_WINDOW  # noqa: E402


def query_hash(spec) -> str:
    """Content hash of what the driver actually checks: the plan fn's
    source and the oracle SQL. Whitespace-insensitive so formatting-only
    edits don't dirty certification."""
    src = inspect.getsource(spec.fn)
    oracle = spec.oracle or ""
    canon = re.sub(r"\s+", " ", src + "\n--ORACLE--\n" + oracle).strip()
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def load_manifest() -> dict:
    if MANIFEST.exists():
        return json.loads(MANIFEST.read_text())
    return {}


def current_hashes() -> dict[str, str]:
    from kinesis_stream_consumer_spark.plans import QUERIES

    return {name: query_hash(spec) for name, spec in QUERIES.items()}


def registration_order() -> list[str]:
    from kinesis_stream_consumer_spark.plans import QUERIES

    return list(QUERIES)


def stale_out_of_window() -> list[str]:
    """Queries outside the driver window whose content drifted from (or
    never had) certified driver evidence. Must be empty."""
    manifest = load_manifest()
    hashes = current_hashes()
    bad = []
    for name in registration_order():
        if name in DRIVER_WINDOW:
            continue  # will be (re)certified by the upcoming driver run
        ent = manifest.get(name)
        if ent is None or ent["hash"] != hashes[name]:
            bad.append(name)
    return bad


def _dirty_tracked_sources() -> list[str]:
    """Tracked, modified files under the source trees the hashes derive
    from. update() stamps CURRENT hashes, so running it over an edited
    tree would launder uncertified bodies as certified — the exact
    scenario the ledger exists to prevent. The fold must be the FIRST
    action of a round, on a clean checkout of the driver-checked code."""
    import subprocess

    out = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no", "--",
         "kinesis_stream_consumer_spark", "tests", "__spark_entry__.py"],
        cwd=REPO, capture_output=True, text=True,
    )
    if out.returncode != 0:  # not a git checkout: nothing to guard
        return []
    return [line for line in out.stdout.splitlines() if line.strip()]


def update(force: bool = False) -> None:
    """Fold the latest green driver rows into the manifest. A query gets
    (round, current-hash) when its latest driver row is green; rows from
    older rounds are kept only while the hash still matches.

    Refuses to run over a dirty source tree unless ``force`` — see
    ``_dirty_tracked_sources``."""
    if not force:
        dirty = _dirty_tracked_sources()
        if dirty:
            raise SystemExit(
                "certification.py update: tracked source files are modified;"
                " the fold must run BEFORE any edits (current hashes would be"
                " laundered as driver-certified). Commit/stash first, or pass"
                " --i-know-what-im-doing.\n  " + "\n  ".join(dirty)
            )
    manifest = load_manifest()
    hashes = current_hashes()
    rounds = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    for path in rounds:
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        data = json.loads(path.read_text())
        for name, row in data.items():
            if name not in hashes:
                continue
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False  # rows-only rows: None
                and not row.get("err")
            )
            if green:
                manifest[name] = {"round": rnd, "hash": hashes[name]}
            elif name in manifest and manifest[name]["round"] <= rnd:
                # the latest driver word on this query is red — drop it
                del manifest[name]
    # prune queries that left the registry
    manifest = {k: v for k, v in manifest.items() if k in hashes}
    MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    print(f"manifest: {len(manifest)} certified entries -> {MANIFEST}")


if __name__ == "__main__":
    import sys

    if len(sys.argv) > 1 and sys.argv[1] == "update":
        update(force="--i-know-what-im-doing" in sys.argv[2:])
    else:
        bad = stale_out_of_window()
        order = registration_order()
        print(f"{len(order)} registered; window = {len(DRIVER_WINDOW)} names")
        print(f"stale out-of-window: {bad or 'none'}")
        sys.exit(1 if bad else 0)
