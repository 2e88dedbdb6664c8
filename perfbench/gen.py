"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is made here from one integer
seed: the same seed gives byte-identical parquet files (pyarrow writes
no wall-clock or host data into the footer). ``ts`` is seeded, never
wall-clock, so the sink's deterministic keys repeat run to run.

Knobs (see ``EventSpec``): key cardinality, op mix, payload bytes,
events per file and arrival schedule.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# 2024-03-01T00:00:00Z in microseconds
_BASE_TS_US = 1_709_251_200_000_000

EVENT_TYPES = ("signup", "purchase", "click", "view", "error")
# the change-event source maps these onto operations
OPERATION_OF = {
    "signup": "insert",
    "purchase": "insert",
    "click": "update",
    "view": "replace",
    "error": "delete",
}

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class EventSpec:
    """Shape of an ``events`` feed.

    ``keys`` is the key cardinality (user ids drawn uniformly from
    ``range(keys)``); ``None`` gives every event its own key.
    ``op_mix`` weights the raw event types. ``interval_s`` is the
    arrival schedule: file ``i`` is due ``i * interval_s`` after the
    first (only open-loop senders use it). ``first_id`` offsets the
    event ids, so feeds made by several calls keep one stream order.
    """

    n_files: int
    events_per_file: int
    keys: int | None
    op_mix: dict[str, float] = field(
        default_factory=lambda: {"signup": 1.0, "click": 1.0, "view": 1.0}
    )
    payload_bytes: int = 64
    interval_s: float = 0.0
    first_id: int = 0

    @property
    def n_events(self) -> int:
        return self.n_files * self.events_per_file


def _op_draws(rng: np.random.Generator, n: int, mix: dict[str, float]):
    names = [t for t in EVENT_TYPES if mix.get(t, 0) > 0]
    w = np.array([mix[t] for t in names], dtype=np.float64)
    return np.array(names, dtype=object)[rng.choice(len(names), n, p=w / w.sum())]


def event_tables(seed: int, spec: EventSpec) -> list[pa.Table]:
    """One ``events``-shaped table per file, in landing order.

    ``event_id`` and ``ts`` increase across files, so the stream
    position and event time agree with arrival order."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = spec.n_events
    event_id = np.arange(spec.first_id, spec.first_id + n, dtype=np.int64)
    ts = _BASE_TS_US + spec.first_id * 2_000_000 + np.cumsum(rng.integers(1_000, 2_000_000, n, dtype=np.int64))
    if spec.keys is None:
        user_id = rng.permutation(n).astype(np.int64)
    else:
        user_id = rng.integers(0, spec.keys, n, dtype=np.int64)
    etype = _op_draws(rng, n, spec.op_mix)
    value = np.round(rng.random(n) * 1000.0, 4)
    letters = rng.integers(97, 123, (n, spec.payload_bytes), dtype=np.uint8)
    pay = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(spec.payload_bytes), n, [None, pa.py_buffer(letters.tobytes())]
    ).cast(pa.string())
    props = pc.binary_join_element_wise(
        '{"n":', pa.array(value).cast(pa.string()), ',"p":"', pay, '"}', ""
    )
    etype = pa.array(etype.tolist(), pa.string())
    tables = []
    per = spec.events_per_file
    for f in range(spec.n_files):
        s = slice(f * per, (f + 1) * per)
        tables.append(
            pa.Table.from_arrays(
                [
                    pa.array(event_id[s]),
                    pa.array(ts[s], pa.timestamp("us")),
                    pa.array(user_id[s]),
                    etype[s],
                    pa.array(value[s]),
                    props[s],
                ],
                schema=EVENTS_SCHEMA,
            )
        )
    return tables


def parquet_bytes(table: pa.Table) -> bytes:
    """Serialize one table to parquet bytes with fixed writer options."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def land(data: bytes, directory: str, name: str) -> str:
    """Land one file atomically: write a hidden temp file in the target
    directory, then rename it in (the file source skips dot-files, so a
    trigger never lists a half-written file)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, name)
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, path)
    return path
