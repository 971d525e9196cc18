"""Seeded event generator and the pure-Python count model the benchmark
checks the service against.

Events are JSON lines shaped like the catalog's ``events`` table:
``event_type`` (5 types, drawn uniformly as ``tools/gen_scale.py`` draws
them), ``user_id`` (Zipf over ``N_USERS``), ``epoch_ts`` (fractional
epoch seconds), ``value`` and a ``props`` object. The service projects
``{etype: event_type, uid: user_id}``, so ``value`` and ``props``
exercise the ``from_json`` pruning path. A small share of events carry
an ``epoch_ts`` a few buckets in the past (late arrivals).

``ZIPF_S`` and ``LATE_FRAC`` are assumed values, not measured ones:
``events.parquet`` draws users uniformly and has no late events. They
set how many distinct ``(etype, uid, bucket)`` keys a batch holds.

The model keys a count by ``(etype, uid, bucket_start)``, exactly the
rows ``ServingStore`` holds for one micro-batch.
"""

from __future__ import annotations

import itertools
import os
import random
import zlib
from collections import Counter

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
ZIPF_S = 1.1
LATE_FRAC = 0.03
BUCKET_S = 20
CONVERSION = {"etype": "event_type", "uid": "user_id"}
BUCKET_FIELD = "epoch_ts"
TABLE = "bucket_counts"
EPOCH0 = 1_700_000_000
SPAN_S = 2.0  # event time one file covers

_USERS = range(N_USERS)
_USER_CUM = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in _USERS))


def bucket_of(epoch_ts: float) -> int:
    secs = int(epoch_ts)  # the engine's double -> long truncation
    return (secs // BUCKET_S) * BUCKET_S


class EventSource:
    """Deterministic event files from one seed. File ``i`` covers event
    time ``[T + i*SPAN_S, T + (i+1)*SPAN_S)``, with ``T`` a seeded day
    after ``EPOCH0``; late events reach back one to three buckets."""

    def __init__(self, seed: int, events_per_file: int):
        self.seed = seed
        self.events_per_file = events_per_file

    def file_events(self, i: int) -> list[tuple[str, int, str]]:
        """(event_type, user_id, epoch_ts text) for file ``i``."""
        rnd = random.Random(self.seed * 1_000_003 + i)
        n = self.events_per_file
        users = rnd.choices(_USERS, cum_weights=_USER_CUM, k=n)
        types = rnd.choices(EVENT_TYPES, k=n)
        base = EPOCH0 + self.seed % 997 * 86_400 + i * SPAN_S
        step = SPAN_S / n
        out = []
        for j in range(n):
            ts = base + j * step
            if rnd.random() < LATE_FRAC:
                ts -= BUCKET_S * rnd.randint(1, 3)
            out.append((types[j], users[j], f"{ts:.3f}"))
        return out

    def file_text(self, i: int) -> str:
        rnd = random.Random(self.seed * 7_919 + i)
        lines = [
            f'{{"event_type":"{t}","user_id":{u},"epoch_ts":{ts},'
            f'"value":{rnd.random() * 500:.2f},'
            f'"props":{{"k":{rnd.randrange(100)},"src":"s{rnd.randrange(20)}"}}}}'
            for t, u, ts in self.file_events(i)
        ]
        return "\n".join(lines) + "\n"

    def file_name(self, i: int) -> str:
        return f"events-{i:06d}.json"

    def write(self, i: int, src_dir: str, stage_dir: str | None = None) -> str:
        """Write file ``i``; with ``stage_dir`` it lands in ``src_dir`` by
        an atomic rename, so the file source never lists a partial file."""
        name = self.file_name(i)
        final = os.path.join(src_dir, name)
        tmp = os.path.join(stage_dir or src_dir, name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(self.file_text(i))
        os.replace(tmp, final)
        return final

    def counts(self, i: int) -> Counter:
        """Model rows of file ``i``: (etype, uid, bucket_start) -> count."""
        return Counter(
            (t, str(u), bucket_of(float(ts))) for t, u, ts in self.file_events(i)
        )


def file_index(path: str) -> int:
    base = os.path.basename(path)
    return int(base[len("events-") : -len(".json")])


def batch_counts(source: EventSource, files_by_batch: dict[int, list[int]]) -> dict[int, Counter]:
    out = {}
    for b, idxs in files_by_batch.items():
        c = Counter()
        for i in idxs:
            c.update(source.counts(i))
        out[b] = c
    return out


def row_digest(etype: str, uid: str, bs: int, count: int) -> int:
    """CRC32 of one store row, as ``CHECKSUM_SQL`` computes it in Spark."""
    return zlib.crc32(f"{etype}|{uid}|{bs}|{bs + BUCKET_S}|{count}".encode())


CHECKSUM_SQL = (
    "SELECT RST_ID, COUNT(*) AS n, SUM(`count`) AS c, "
    "SUM(crc32(CAST(concat_ws('|', etype, uid, CAST(bucket_start AS STRING), "
    "CAST(bucket_end AS STRING), CAST(`count` AS STRING)) AS BINARY))) AS h "
    f"FROM {TABLE} GROUP BY RST_ID"
)


def expected_checksums(counts: dict[int, Counter]) -> dict[int, tuple[int, int, int]]:
    """RST_ID -> (rows, summed count, summed row CRC32) — ``CHECKSUM_SQL``."""
    out = {}
    for b, c in counts.items():
        out[b] = (
            len(c),
            sum(c.values()),
            sum(row_digest(t, u, bs, n) for (t, u, bs), n in c.items()),
        )
    return out
