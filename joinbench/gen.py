"""Deterministic input generators. The same seed gives the same inputs.

- ``replay_backlog``: the ``replay_clicked`` backlog, displays and clicks in
  event-time order, split into a few large files per stream.
- ``live_schedule`` and ``run_live``: the ``live_timeout`` open-loop
  generator. ``run_live`` is the body of a separate, single-threaded
  process (``python3 -m joinbench.gen``) that writes small files on a fixed
  schedule whether or not Spark keeps up. ``live_backlog`` is the same
  traffic written up front, for the closed-loop drain.
- ``write_batch_corpus``: an ``events`` table for the batch twins.

Stream records have the reference's Kafka-record shape ``(key, value, ts)``;
values are the reference's ``{"type":...}`` JSON plus an ``id`` so that an
output row can be traced back to the event that caused it.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time
import uuid
from dataclasses import dataclass

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the FIXTURES.md base epoch
FLUSH_MS = 4_070_908_800_000  # 2099-01-01: a future-dated row drains every window
FLUSH_KEY = "flush"


def fmt_ts(ms: int) -> str:
    """Epoch milliseconds as the UTC ISO string the JSON source parses."""
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}"


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def display_value(i: int) -> str:
    return f'{{"type":"display","id":{i}}}'


def click_value(i: int) -> str:
    return f'{{"type":"click","id":{i}}}'


def flush_row(stream: str) -> dict:
    """Future-dated row that moves the watermark past every real window.
    The display comes 2 s after the click, outside both bands, so neither
    output ever contains a flush row."""
    ms = FLUSH_MS + (2000 if stream == "displays" else 0)
    return {"key": FLUSH_KEY, "value": '{"type":"flush"}', "ts": fmt_ts(ms)}


# --------------------------------------------------------------------------
# replay_clicked: a backlog with skewed keys and a wide window
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ReplaySpec:
    users: int = 4000
    skew: float = 1.1  # Zipf exponent of the user population
    displays: int = 80_000
    clicks: int = 40_000
    files: int = 3  # data micro-batches per stream (one file each)
    displays_per_s: int = 4000  # event-time density of displays
    window_s: int = 5


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def replay_backlog(seed: int, spec: ReplaySpec) -> tuple[list[list[dict]], list[list[dict]]]:
    """``spec.files`` event-time-ordered files per stream.

    Displays and clicks draw users from the same Zipf population, but with
    ranks reversed: the hottest display users are the coldest click users.
    The state store then holds many rows for hot keys while the join output
    stays near the input size, and the amount of work does not depend on
    which UUIDs the seed picked."""
    rng = random.Random(seed)
    keys = [_uuid(rng) for _ in range(spec.users)]
    weights = _zipf_weights(spec.users, spec.skew)
    span_ms = spec.displays * 1000 // spec.displays_per_s
    d_keys = rng.choices(keys, weights=weights, k=spec.displays)
    c_keys = rng.choices(keys[::-1], weights=weights, k=spec.clicks)
    d_ts = [T0_MS + i * span_ms // spec.displays for i in range(spec.displays)]
    c_ts = sorted(T0_MS + rng.randrange(span_ms) for _ in range(spec.clicks))
    displays = [
        {"key": k, "value": display_value(i), "ts": fmt_ts(t)}
        for i, (k, t) in enumerate(zip(d_keys, d_ts))
    ]
    clicks = [
        {"key": k, "value": click_value(i), "ts": fmt_ts(t)}
        for i, (k, t) in enumerate(zip(c_keys, c_ts))
    ]
    return (
        _split_by_time(displays, d_ts, spec, span_ms),
        _split_by_time(clicks, c_ts, spec, span_ms),
    )


def _split_by_time(rows: list[dict], ts: list[int], spec: ReplaySpec, span_ms: int) -> list[list[dict]]:
    """Cut rows into ``spec.files`` equal event-time slices, so batch ``b``
    of both streams covers the same slice and the watermark only advances."""
    files: list[list[dict]] = [[] for _ in range(spec.files)]
    for row, t in zip(rows, ts):
        files[min((t - T0_MS) * spec.files // span_ms, spec.files - 1)].append(row)
    return files


# --------------------------------------------------------------------------
# live_timeout: the open-loop schedule
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class LiveSpec:
    """Each display follows one of the reference's three scenarios
    (``TimeoutJoinTest.scala:106-164``), with equal odds: a same-key click
    inside W (clicked), a same-key click after W, up to 2W (missed), or a
    click inside W on another key (missed). The offered rate, ~2k rows/s,
    is about 30% of the ~7k rows/s at which ``live_timeout``'s closed-loop
    drain (its ``throughput_rps``) moves this traffic through both queries
    at once on ``local[4]`` (4 vCPU, 15 GB): per-batch cost still dominates
    each trigger, and per-row state work is a visible share of it."""

    displays_per_s: int = 1000  # 1000 displays + ~1000 clicks: ~2k rows/s
    tick_ms: int = 100  # one file per stream per tick
    late_share: float = 0.1  # clicks delivered out of order ...
    late_ms: tuple[int, int] = (100, 400)  # ... this late, within the 1 s lateness
    window_ms: int = 1000  # W, TimeoutJoinTest.scala:17


@dataclass(frozen=True)
class LiveEvent:
    stream: str  # "displays" or "clicks"
    due_ms: int  # creation time, as an offset from the start of the run
    deliver_ms: int  # when the generator hands it to the file source
    key: str
    value: str


def live_schedule(seed: int, seconds: float, spec: LiveSpec) -> list[LiveEvent]:
    """Every event of a ``seconds``-long run, ordered by delivery time."""
    rng = random.Random(seed)
    end_ms = int(seconds * 1000)
    step = 1000 / spec.displays_per_s
    events: list[LiveEvent] = []
    n_clicks = 0
    for i in range(int(seconds * spec.displays_per_s)):
        due = int(i * step)
        key = _uuid(rng)
        events.append(LiveEvent("displays", due, due, key, display_value(i)))
        scenario = rng.randrange(3)
        if scenario == 1:  # click after W
            c_due = due + rng.randint(spec.window_ms + 1, 2 * spec.window_ms)
        else:  # click inside W, on this key or (scenario 2) another one
            c_due = due + rng.randint(0, spec.window_ms - 1)
        c_key = _uuid(rng) if scenario == 2 else key
        late = rng.randint(*spec.late_ms) if rng.random() < spec.late_share else 0
        if c_due + late < end_ms:
            events.append(LiveEvent("clicks", c_due, c_due + late, c_key, click_value(n_clicks)))
            n_clicks += 1
    events.sort(key=lambda e: (e.deliver_ms, e.stream, e.due_ms))
    return events


def live_backlog(seed: int, seconds: float, spec: LiveSpec,
                 files: int) -> tuple[list[list[dict]], list[list[dict]]]:
    """``seconds`` of the live schedule as a backlog: ``files`` files per
    stream, cut at the same delivery times in both streams."""
    end_ms = int(seconds * 1000)
    out: dict[str, list[list[dict]]] = {"displays": [], "clicks": []}
    for rows in out.values():
        rows.extend([] for _ in range(files))
    for e in live_schedule(seed, seconds, spec):
        f = min(e.deliver_ms * files // end_ms, files - 1)
        out[e.stream][f].append({"key": e.key, "value": e.value, "ts": fmt_ts(T0_MS + e.due_ms)})
    return out["displays"], out["clicks"]


def write_file(directory: str, name: str, rows: list[dict]) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")  # hidden: the source skips it
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(directory, name))


def run_live(out: str, seed: int, seconds: float, t0_ms: int, spec: LiveSpec) -> dict:
    """Write the schedule in real time: at the end of each tick, one file per
    stream with every event delivered during that tick, ``ts`` = creation
    time. Never waits for the consumer. Returns rows written and how late
    each tick's write ran (ms past its due time)."""
    events = live_schedule(seed, seconds, spec)
    dirs = {s: os.path.join(out, s) for s in ("displays", "clicks")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    late_ms: list[float] = []
    rows = 0
    i = 0
    n_ticks = -(-int(seconds * 1000) // spec.tick_ms)
    for tick in range(n_ticks):
        due_wall = (t0_ms + (tick + 1) * spec.tick_ms) / 1000
        pause = due_wall - time.time()
        if pause > 0:
            time.sleep(pause)
        batch: dict[str, list[dict]] = {"displays": [], "clicks": []}
        while i < len(events) and events[i].deliver_ms < (tick + 1) * spec.tick_ms:
            e = events[i]
            batch[e.stream].append({"key": e.key, "value": e.value, "ts": fmt_ts(t0_ms + e.due_ms)})
            i += 1
        for stream, recs in batch.items():
            if recs:
                write_file(dirs[stream], f"part-{tick:06d}.json", recs)
                rows += len(recs)
        late_ms.append(max(0.0, (time.time() - due_wall) * 1000))
    return {"rows": rows, "late_ms": late_ms}


# --------------------------------------------------------------------------
# batch_twins: the events table
# --------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
# Spark reads a parquet row group in one task: one row group per file would
# leave a single core scanning the table however many cores there are.
ROW_GROUP_ROWS = 65_536


def write_batch_corpus(path: str, seed: int, rows: int, users: int | None = None,
                       days: int = 30) -> None:
    """``events.parquet`` in the shape of the sf0.1 test corpus
    (TESTDATA.md), scaled to ``rows``. Measured there: 100k events, 1.5k
    users drawn uniformly (45-99 events each), times uniform over 30 days
    (per-user gaps of hours: median 7.4 h), the five types in equal shares,
    ``value`` exponential with mean 50, ``props`` ``{"k": 0..99}``. Users
    scale with rows, so events per user, and with them the band joins'
    matches per row, stay those of the corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    users = users or max(1, rows * 1500 // 100_000)
    rng = np.random.Generator(np.random.PCG64(seed))
    user = rng.integers(0, users, size=rows, dtype=np.int64)
    span_us = days * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, size=rows)) + T0_MS * 1000
    etype = rng.integers(0, len(EVENT_TYPES), size=rows)
    value = np.round(rng.exponential(50.0, size=rows), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=rows).tolist()]
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array([EVENT_TYPES[t] for t in etype.tolist()]),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def main(argv: list[str] | None = None) -> int:
    """``python3 -m joinbench.gen --out DIR --seed N --seconds S --t0-ms T``:
    run the live generator and write its stats to ``DIR/gen_stats.json``."""
    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--t0-ms", type=int, required=True)
    a = p.parse_args(argv)
    stats = run_live(a.out, a.seed, a.seconds, a.t0_ms, LiveSpec())
    with open(os.path.join(a.out, "gen_stats.json"), "w") as f:
        json.dump(stats, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
