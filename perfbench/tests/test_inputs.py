"""The generators are pure functions of the seed."""

import hashlib
import os

from perfbench.consumer import REPLAY_SPEC, REPLAY_WARM_SPEC
from perfbench.records import generate
from perfbench.tables import write_tables


def _digest(batches) -> str:
    h = hashlib.sha256()
    for b in batches:
        h.update(b.jsonl())
    return h.hexdigest()


def test_same_seed_same_records_other_seed_other_records():
    for spec, n in ((REPLAY_WARM_SPEC, 250), (REPLAY_SPEC, 2000)):
        a = generate(7, spec, 2, n, first=1)
        assert _digest(a) == _digest(generate(7, spec, 2, n, first=1))
        assert _digest(a) != _digest(generate(8, spec, 2, n, first=1))


def test_same_seed_same_tables_other_seed_other_tables(tmp_path):
    def tables(seed, name):
        out = tmp_path / name
        write_tables(str(out), seed, 0.0005)
        return {
            f: hashlib.sha256((out / f).read_bytes()).hexdigest()
            for f in sorted(os.listdir(out))
        }

    a = tables(3, "a")
    assert len(a) == 10
    assert a == tables(3, "b")
    other = tables(4, "c")
    assert all(a[f] != other[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_replay_batches_have_the_shape_the_workload_relies_on():
    (b,) = generate(5, REPLAY_SPEC, 1, 4000, first=1)
    assert len(b.lines) == 4000
    assert b.passes == 3  # a permanent failure with successors
    assert b.kpl_records > 0
    assert len(b.unusable) == 40
    fates = list(b.fates.values())
    assert fates.count("reject") == round(len(fates) * REPLAY_SPEC.rejected)
    # records arrive reverse-sorted by sequence number
    seqs = [line.split('"sequenceNumber":"')[1][:56] for line in b.lines]
    assert seqs == sorted(seqs, reverse=True)
