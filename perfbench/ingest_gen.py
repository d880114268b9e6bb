"""Seeded landing-zone waves for the ``ingest_waves`` workload.

Pure Python and single-threaded, so the expected result of every wave is
computed here, independently of Spark. Each wave holds producer-shaped
events (the reference's ``kinesis_data_producer.py`` record: uuid
``event_id``, ISO ``event_timestamp``, ``event_type``, ``user_N``,
nested ``data``) as gzip JSON lines split over several files under
Firehose's ``year=/month=/day=/hour=`` layout. About 10% of a wave's lines
replay earlier events byte for byte, a few lines are corrupt JSON and a
few miss a required key; waves advance seven hours at a time over a
four-hour window, so some cross a date boundary.
"""

from __future__ import annotations

import gzip
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

EVENT_TYPES = ("view", "click", "purchase", "signup")
PRICES = {"p1": 19.99, "p2": 29.99, "p3": 39.99, "p4": 49.99}
PRODUCTS = tuple(sorted(PRICES))
BASE_TIME = datetime(2024, 3, 1)
WAVE_STEP = timedelta(hours=7)
WAVE_HOURS = 4  # one landing file per hour of the wave's window
REPLAY_SHARE = 0.10
CORRUPT_PER_WAVE = 5
NULL_KEY_PER_WAVE = 5


@dataclass
class Wave:
    index: int
    files: list[tuple[str, bytes]]  # (path relative to the landing root, gzip bytes)
    lines: int  # landed lines: new, replayed, corrupt and null-key
    # event_id -> (event_date, event_type, event_timestamp) of the wave's
    # new valid events; replays, corrupt and null-key lines add none
    valid: dict[str, tuple[str, str, str]]

    @property
    def landed_bytes(self) -> int:
        return sum(len(b) for _, b in self.files)


@dataclass
class Expected:
    """What the warehouse must hold after a run of waves."""

    raw_rows: int  # every landed line, corrupt ones included
    events: int  # distinct valid event ids
    summary: dict[tuple[str, str], tuple[int, str, str]]
    # (event_date, event_type) -> (event_count, first_ts, last_ts)


def expected_after(waves: list[Wave]) -> Expected:
    """Fold the waves landed so far into the warehouse's expected state."""
    out: dict[tuple[str, str], list] = {}
    n = 0
    for wave in waves:
        n += len(wave.valid)
        for day, etype, ts in wave.valid.values():
            row = out.setdefault((day, etype), [0, ts, ts])
            row[0] += 1
            row[1] = min(row[1], ts)
            row[2] = max(row[2], ts)
    return Expected(
        raw_rows=sum(w.lines for w in waves),
        events=n,
        summary={k: tuple(v) for k, v in out.items()},
    )


def _event(rng: random.Random, start: datetime, user: str | None = None):
    """One producer record as (json_line, event_id, event_timestamp, type).

    The line is formatted directly rather than through ``json.dumps``
    (every field is a plain token that needs no escaping); that keeps a
    20k-event wave at about a tenth of a second."""
    h = f"{rng.getrandbits(128):032x}"
    eid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    ts = (
        start + timedelta(microseconds=rng.randrange(WAVE_HOURS * 3600 * 10**6))
    ).isoformat(timespec="microseconds")
    etype = EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]
    product = PRODUCTS[rng.randrange(len(PRODUCTS))]
    if user is None:
        user = f'"user_{rng.randrange(1, 1001)}"'
    line = (
        f'{{"event_id":"{eid}","event_timestamp":"{ts}","event_type":"{etype}",'
        f'"user_id":{user},"data":{{"product_id":"{product}",'
        f'"price":{PRICES[product]}}}}}'
    )
    return line, eid, ts, etype


def make_waves(seed: int, sizes: list[int]) -> list[Wave]:
    """Build one wave of ``sizes[w]`` lines per entry; the same seed gives
    byte-identical files."""
    rng = random.Random(seed)
    history: list[str] = []  # valid lines of earlier waves, replay candidates
    waves: list[Wave] = []
    for w, events_per_wave in enumerate(sizes):
        start = BASE_TIME + w * WAVE_STEP
        n_replay = int(events_per_wave * REPLAY_SHARE)
        n_new = events_per_wave - n_replay - CORRUPT_PER_WAVE - NULL_KEY_PER_WAVE
        lines: list[str] = []
        wave_valid: dict[str, tuple[str, str, str]] = {}
        fresh = []
        for _ in range(n_new):
            line, eid, ts, etype = _event(rng, start)
            lines.append(line)
            fresh.append(line)
            wave_valid[eid] = (ts[:10], etype, ts)
        # Replays draw from earlier waves, or from this wave's own events
        # on the first wave, so both the cross-batch anti-join and the
        # within-batch dedup see duplicates.
        pool = history or fresh
        lines.extend(pool[rng.randrange(len(pool))] for _ in range(n_replay))
        for _ in range(NULL_KEY_PER_WAVE):
            lines.append(_event(rng, start, user="null")[0])
        for _ in range(CORRUPT_PER_WAVE):
            line = _event(rng, start)[0]
            lines.append(line[: rng.randrange(10, len(line) - 10)])
        rng.shuffle(lines)
        history.extend(fresh)

        files = []
        per_file = -(-len(lines) // WAVE_HOURS)
        for j in range(WAVE_HOURS):
            hour = start + timedelta(hours=j)
            chunk = lines[j * per_file : (j + 1) * per_file]
            rel = (
                f"year={hour:%Y}/month={hour:%m}/day={hour:%d}/hour={hour:%H}/"
                f"wave{w:04d}-{j}.json.gz"
            )
            body = ("\n".join(chunk) + "\n").encode()
            files.append((rel, gzip.compress(body, compresslevel=1, mtime=0)))
        waves.append(Wave(w, files, len(lines), wave_valid))
    return waves
