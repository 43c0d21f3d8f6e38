"""Seeded framed-stream backlog for the presence workloads, and the
pure-Python model of the presence rule that checks the job's output.

The backlog is built with the engine's own encoders
(``sources.framed.frame`` / ``encode_framed``, ``avro_codec``) and written
with ``streaming.fixtures.write_value_files``, so the job reads the same
wire shape as the Kafka source delivers: one ``value: binary`` column,
one parquet file per micro-batch, strictly increasing mtimes.

Arrival order is event time plus a jitter below the 3.5 s watermark
delay, so per-device disorder stays inside the watermark and no record
is late.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, replace

from weather_flink_spark.sources.framed import encode_framed, frame
from weather_flink_spark.streaming.fixtures import BASE_MS, REGISTRY

WATERMARK_DELAY_MS = 3_500
JITTER_MS = 3_000  # arrival lag behind event time; < WATERMARK_DELAY_MS


@dataclass(frozen=True)
class StreamShape:
    """How one presence workload's backlog looks."""

    payload: str  # "avro" | "json"
    n_files: int  # one micro-batch each
    valid_per_file: int
    n_devices: int
    gap_ms: int  # presence.gap.ms given to the job
    poison_share: float  # share of frames the decoder must drop
    burst: bool  # True: short bursts per device; False: long steady sessions


SHAPES = {
    # few devices, long sessions: decode-heavy, state stays small
    "presence_avro": StreamShape("avro", 5, 20_000, 1_000, 30_000, 0.01, burst=False),
    # many devices, short bursts: sessions open and time out every batch
    "presence_json": StreamShape("json", 5, 8_000, 50_000, 5_000, 0.01, burst=True),
}


@dataclass
class Backlog:
    files: list[list[bytes]]  # framed values, one list per file
    events: list[list[tuple[str, int]]]  # valid (deviceId, ts) per file
    n_valid: int
    n_poison: int
    n_devices_seen: int


def _event_times(shape: StreamShape, rng: random.Random) -> list[tuple[int, str]]:
    """(event ts, deviceId) for exactly n_files * valid_per_file events."""
    total = shape.n_files * shape.valid_per_file
    out: list[tuple[int, str]] = []
    if shape.burst:
        # bursts of 3-5 events within 1 s; a device's next burst comes
        # after a silence longer than the gap, so its session closes
        span = shape.n_files * 10_000  # about 10 s of event time per file
        while len(out) < total:
            dev = f"dev-{rng.randrange(shape.n_devices)}"
            t0 = BASE_MS + rng.randrange(span)
            for _ in range(rng.randint(3, 5)):
                out.append((t0 + rng.randrange(1_000), dev))
    else:
        # every device reports about once a second; now and then it goes
        # silent for longer than the gap, which closes its session
        per_dev = total // shape.n_devices + 1
        for d in range(shape.n_devices):
            dev = f"dev-{d}"
            t = BASE_MS + rng.randrange(1_000)
            for _ in range(per_dev):
                out.append((t, dev))
                if rng.random() < 0.002:
                    t += shape.gap_ms + rng.randrange(1_000, 10_000)
                else:
                    t += rng.randrange(500, 1_500)
    out.sort()
    return out[:total]


def _record(rng: random.Random, dev: str, ts: int, magic: int) -> dict:
    rec = {"deviceId": dev, "timestamp": ts, "station": f"st-{rng.randrange(50)}"}
    if magic == 1:  # v1 writer adds temperature / humidity
        rec["temperature"] = round(rng.uniform(-10, 35), 2)
        rec["humidity"] = round(rng.random(), 3)
    return rec


def _encode(shape: StreamShape, rec: dict, magic: int) -> bytes:
    if shape.payload == "avro":
        return encode_framed(REGISTRY, magic, rec)
    return frame(magic, json.dumps(rec).encode())


def _poison(shape: StreamShape, rng: random.Random) -> bytes:
    """One frame the decoder must drop: unknown magic, wrong schema
    name (Avro) or missing key fields (JSON), or a corrupt body."""
    kind = rng.randrange(3)
    rec = {"deviceId": "ghost", "timestamp": BASE_MS, "station": None}
    if kind == 0:
        return frame(7, b"\x02\x04unknown-magic")
    if kind == 1:
        if shape.payload == "avro":
            return encode_framed(REGISTRY, 9, rec)
        return frame(0, b'{"other": 1}')
    good = _encode(shape, _record(rng, "ghost", BASE_MS, 1), 1)
    if shape.payload == "avro":
        return good[: -rng.randint(1, 3)]  # truncated body
    return good[: len(good) // 2]  # half a JSON object


def generate(workload: str, seed: int, **resize) -> Backlog:
    """The seed's backlog; ``resize`` overrides n_files / valid_per_file."""
    shape = replace(SHAPES[workload], **resize)
    rng = random.Random(f"{workload}:{seed}")
    events = _event_times(shape, rng)
    # arrival = event time + jitter < watermark delay
    arrivals = sorted(((ts + rng.randrange(JITTER_MS), ts, dev) for ts, dev in events))
    n_poison = shape.n_files * round(shape.valid_per_file * shape.poison_share)
    poison_at = set(rng.sample(range(len(arrivals) + n_poison), n_poison))
    stream: list[tuple[bytes, tuple[str, int] | None]] = []
    it = iter(arrivals)
    for i in range(len(arrivals) + n_poison):
        if i in poison_at:
            stream.append((_poison(shape, rng), None))
        else:
            _, ts, dev = next(it)
            magic = rng.randrange(2)
            stream.append((_encode(shape, _record(rng, dev, ts, magic), magic), (dev, ts)))
    per = -(-len(stream) // shape.n_files)
    files, evs = [], []
    for k in range(shape.n_files):
        chunk = stream[k * per : (k + 1) * per]
        files.append([v for v, _ in chunk])
        evs.append([e for _, e in chunk if e is not None])
    return Backlog(
        files=files,
        events=evs,
        n_valid=len(arrivals),
        n_poison=n_poison,
        n_devices_seen=len({dev for _, dev in events}),
    )


def expected_transitions(
    events: list[list[tuple[str, int]]], gap_ms: int
) -> list[tuple[str, str, int, int]]:
    """The presence rule of ``streaming.jobs.presence_transitions`` run
    batch by batch over the backlog, with Spark's watermark semantics:

    - batch j sees the watermark max(event ts of batches < j) - 3.5 s;
    - a device with rows in batch j folds its sorted timestamps into its
      (last_seen, n_events) state and sets its timeout to
      max(last_seen + gap, watermark + 1);
    - a device without rows whose timeout is below the watermark emits
      ``offline`` and drops its state;
    - after the last file, one no-data batch runs at the final watermark.

    Returns (deviceId, transition, at, n_events_in_session) tuples.
    """
    state: dict[str, tuple[int, int, int]] = {}  # dev -> (last, n, timeout)
    out: list[tuple[str, str, int, int]] = []
    wm = 0
    max_ts = None

    def expire(watermark: int, busy: set[str]) -> None:
        for dev in [d for d, (_, _, to) in state.items() if d not in busy and to < watermark]:
            last, n, _ = state.pop(dev)
            out.append((dev, "offline", last + gap_ms, n))

    for batch in events:
        by_dev: dict[str, list[int]] = {}
        for dev, ts in batch:
            by_dev.setdefault(dev, []).append(ts)
        for dev, tss in by_dev.items():
            last, n, _ = state.get(dev, (None, 0, 0))
            for t in sorted(tss):
                if last is None or t - last > gap_ms:
                    if last is not None:
                        out.append((dev, "offline", last + gap_ms, n))
                    out.append((dev, "online", t, 0))
                    n = 0
                n += 1
                last = t
            state[dev] = (last, n, max(last + gap_ms, wm + 1))
        expire(wm, set(by_dev))
        if batch:
            bmax = max(ts for _, ts in batch)
            max_ts = bmax if max_ts is None else max(max_ts, bmax)
            wm = max(wm, max_ts - WATERMARK_DELAY_MS)
    expire(wm, set())
    return out
