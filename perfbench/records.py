"""Seeded Kinesis record generator for the engine workload.

Every input the engine sees comes from here, as JSON-lines Kinesis
stream-event records (the shape ``sources.records.KINESIS_RECORD_SCHEMA``
reads). The seed fixes everything: which keys the Zipf draw picks, which
shard each key hashes to, which messages are rejected, unusable, failed
once or failed for good, and which are packed into KPL aggregates. The
shares themselves are fixed per workload, so two seeds give inputs of the
same shape and cost but different bytes.

Alongside the records each batch carries the outcome the engine must
produce for it (``Batch.fates`` and ``Batch.unusable``); ``checks.py``
compares the engine's state and dead-letter queues against that.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass, field

import numpy as np

from kinesis_stream_consumer_spark.sources.kpl import kpl_aggregate
from perfbench.tasks import OK, PERMANENT, REJECT, TRANSIENT, TRANSIENT_SUB

STREAM = "TestStream"
REGION = "us-west-2"


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's input: sizes are counts, shares are exact
    fractions of the messages (or records, for ``unusable``) in a batch."""

    shards: int
    keys: int
    zipf_s: float
    rejected: float
    unusable: float
    transient: float = 0.0
    permanent: float = 0.0
    kpl: float = 0.0  # share of usable messages packed into KPL aggregates
    kpl_group: int = 4  # user records per aggregate


@dataclass
class Batch:
    index: int
    lines: list[str]  # JSON records, reverse-sorted by sequence number
    fates: dict[str, str]  # message id (engine's "id1:<value>") -> fate
    unusable: list[str]  # eventIDs of the unusable records
    passes: int = 1  # engine passes this batch needs to commit
    # DMQ envelopes per rejected or discarded message id. Delivery is
    # at-least-once: every pass re-emits the envelopes of all messages that
    # are rejected or discarded by its end, so a message finalised in pass
    # p of P appears P - p + 1 times. Unusable records likewise reach the
    # DRQ once per pass.
    dmq_copies: dict = field(default_factory=dict)
    kpl_records: int = 0  # aggregated records in the batch

    def jsonl(self) -> bytes:
        return ("\n".join(self.lines) + "\n").encode()

    @property
    def messages(self) -> int:
        return len(self.fates)


def _record(shard: int, seq: int, pk: str, data: bytes) -> tuple[int, dict]:
    seq_no = f"{seq:056d}"
    return seq, {
        "eventID": f"shardId-{shard:012d}:{seq_no}",
        "eventVersion": "1.0",
        "eventName": "aws:kinesis:record",
        "eventSource": "aws:kinesis",
        "eventSourceARN": f"arn:aws:kinesis:{REGION}:111111111111:stream/{STREAM}",
        "awsRegion": REGION,
        "invokeIdentityArn": "arn:aws:iam::111111111111:role/consumer",
        "kinesis": {
            "kinesisSchemaVersion": "1.0",
            "partitionKey": pk,
            "explicitHashKey": None,
            "sequenceNumber": seq_no,
            "data": base64.b64encode(data).decode(),
        },
    }


def generate(
    seed: int, spec: Spec, n_batches: int, per_batch: int, first: int = 0
) -> list[Batch]:
    """Batches ``first`` … ``first + n_batches - 1`` of ``per_batch``
    records each (an aggregate counts as one record). Message ids, event
    sequence numbers and message seqNos are unique per batch index, so
    batches from separate calls with disjoint indexes never collide."""
    rng = np.random.default_rng([seed, first])
    weights = 1.0 / np.arange(1, spec.keys + 1) ** spec.zipf_s
    weights /= weights.sum()
    # The seed names the keys; a key's Zipf rank fixes its shard (rank mod
    # shards), so every seed loads the shards alike.
    key_names = [f"key-{k:05d}" for k in np.random.default_rng(seed).permutation(spec.keys)]
    shard_of = {k: rank % spec.shards for rank, k in enumerate(key_names)}
    batches = []
    for b in range(first, first + n_batches):
        seq = n1 = b * 10_000_000
        n_unusable = round(per_batch * spec.unusable)
        # usable messages needed so that, after KPL packing, the batch
        # holds per_batch records: each aggregate of g messages saves g-1
        n_msg_records = per_batch - n_unusable
        g = spec.kpl_group
        n_aggs = int(n_msg_records * spec.kpl / g) if spec.kpl else 0
        n_msgs = n_msg_records + n_aggs * (g - 1)
        keys = [key_names[k] for k in rng.choice(spec.keys, size=n_msgs, p=weights)]

        fates = [OK] * n_msgs
        for i in rng.choice(n_msgs, size=round(n_msgs * spec.rejected), replace=False):
            fates[i] = REJECT
        # at most one failure per key chain: per-key sequencing blocks a
        # chain behind its earliest incomplete message, so one failure per
        # chain fixes the passes per commit (2 for a transient failure, 3
        # when a permanent one has successors at max_number_of_attempts=2)
        by_key: dict[str, list[int]] = {}
        for i, k in enumerate(keys):
            if fates[i] == OK:
                by_key.setdefault(k, []).append(i)
        chain_keys = sorted(by_key)
        n_tr = round(n_msgs * spec.transient)
        n_pm = round(n_msgs * spec.permanent)
        picked = rng.choice(len(chain_keys), size=n_tr + n_pm, replace=False)
        last_of_key = {k: i for i, k in enumerate(keys)}
        passes = 2 if n_tr + n_pm else 1
        for j, ci in enumerate(picked):
            members = by_key[chain_keys[ci]]
            i = members[rng.integers(len(members))]
            if j < n_pm:
                fates[i] = PERMANENT
                # discarded at the end of pass 2; its successors run in pass 3
                if last_of_key[keys[i]] != i:
                    passes = 3
            else:
                fates[i] = TRANSIENT if rng.random() < 0.5 else TRANSIENT_SUB

        ids = [f"b{b:03d}-{i:05d}" for i in range(n_msgs)]
        # the pass that first executes each message: successors of a
        # failure wait for the pass after it stops blocking the chain
        blocking: dict[str, tuple[int, int]] = {}
        for i, f in enumerate(fates):
            if f in (TRANSIENT, TRANSIENT_SUB, PERMANENT):
                blocking[keys[i]] = (i, 3 if f == PERMANENT else 2)
        dmq_copies = {}
        for i, f in enumerate(fates):
            if f == REJECT:
                at, wait = blocking.get(keys[i], (n_msgs, 1))
                dmq_copies[f"id1:{ids[i]}"] = passes - (wait if at < i else 1) + 1
            elif f == PERMANENT:
                dmq_copies[f"id1:{ids[i]}"] = passes - 1  # discarded at the end of pass 2
        bodies = []
        for i in range(n_msgs):
            n1 += 1
            body = {
                "id1": ids[i],
                "k1": keys[i],
                "n1": n1,
                "fate": fates[i],
                "value": round(float(rng.random()) * 1000, 3),
            }
            bodies.append(json.dumps(body, separators=(",", ":")).encode())

        records: list[tuple[int, dict]] = []
        # pack groups of g same-shard messages, in message order, into
        # aggregates (a KPL producer aggregates per shard)
        agg_members: set[int] = set()
        if n_aggs:
            by_shard: dict[int, list[int]] = {}
            for i in rng.permutation(n_msgs)[: n_aggs * g * 2]:
                by_shard.setdefault(shard_of[keys[i]], []).append(int(i))
            groups = []
            for members in by_shard.values():
                members.sort()
                groups += [members[j : j + g] for j in range(0, len(members) - g + 1, g)]
            for grp in groups[:n_aggs]:
                agg_members.update(grp)
                seq += 1
                blob = kpl_aggregate([(keys[i], bodies[i]) for i in grp])
                records.append(_record(shard_of[keys[grp[0]]], seq, keys[grp[0]], blob))
            n_aggs = len(groups[:n_aggs])
        for i in range(n_msgs):
            if i not in agg_members:
                seq += 1
                records.append(_record(shard_of[keys[i]], seq, keys[i], bodies[i]))
        unusable = []
        for u in range(n_unusable):
            seq += 1
            shard = int(rng.integers(spec.shards))
            if u % 2:
                # valid JSON lacking the seqNo property
                data = json.dumps({"id1": f"u{b:03d}-{u:05d}", "k1": "key-x"}).encode()
            else:
                data = f"not json {b}-{u}".encode()
            s, rec = _record(shard, seq, f"pk-{u}", data)
            records.append((s, rec))
            unusable.append(rec["eventID"])
        records.sort(key=lambda r: r[0], reverse=True)

        batches.append(
            Batch(
                index=b,
                lines=[json.dumps(r, separators=(",", ":")) for _, r in records],
                fates={f"id1:{ids[i]}": fates[i] for i in range(n_msgs)},
                unusable=unusable,
                passes=passes,
                dmq_copies=dmq_copies,
                kpl_records=n_aggs,
            )
        )
    return batches
