"""Seeded input generator for the invocation benchmark.

numpy and pyarrow only: no Spark, so generation never shares the engine's
JVM or its caches, and it runs outside every timed region.

A pipeline's inputs advance on one event-time clock. Slice `k` of every
input covers the same event-time range, and each slice carries an explicit
watermark just below the start of slice `k + 1`. Each input is an ODF
ledger: `offset` (contiguous across slices), `op` (always 0, append),
`system_time`, `event_time`, then the user columns `user_id`, `event_type`
and `value`.

The properties that change the engine's behaviour are set per workload by
`Shape`: rows per slice, key cardinality, Zipf skew of the keys, the share
of out-of-order rows within a slice and the share of late rows. A late row
lags the previous watermark by `LATE_MS` or more, past every window and
join horizon of the benchmark's pipelines, so windowed operators drop it.

The same `(seed, pipeline, input, slice index)` always gives the same file
contents, so slices can be generated lazily, just before they are sent.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = int(datetime(2020, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
# Two days: beyond the 1-day tumbling window plus the 1-hour interval-join
# bound, so a late row is dropped whole by the windowed pipeline.
LATE_MS = 2 * DAY_MS
EVENT_TYPES = np.array(["view", "cart", "buy"], dtype=object)
# Key ids are ranks scrambled by an affine map modulo a prime, so hot keys
# are not the small ids; values of a unique-valued input use the same map
# on the offset, which makes every value distinct (no Top-N ties).
_KEY_PRIME = 1_000_000_007
_VALUE_PRIME = 2_147_483_647

SCHEMA = pa.schema(
    [
        ("offset", pa.int64()),
        ("op", pa.int32()),
        ("system_time", pa.timestamp("ms", tz="UTC")),
        ("event_time", pa.timestamp("ms", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Input properties of one pipeline in one workload.

    Slice 0 has `first_rows` rows over `first_span_ms` of event time;
    every later slice has `slice_rows` rows over `slice_span_ms`."""

    first_rows: int
    slice_rows: int
    first_span_ms: int
    slice_span_ms: int
    keys: int
    zipf: float  # 0 = uniform keys
    late_share: float
    disorder_share: float
    # Rows of a pipeline's second input (clicks) per row of its first.
    second_input_share: float = 1.0
    # Each slice draws its keys without replacement from the `keys` key
    # ranks, so a slice of `keys` rows holds every key once and each later
    # slice updates every key already in state. Ignores `zipf`.
    distinct_keys: bool = False

    def to_json(self) -> dict:
        return dict(self.__dict__)


@dataclass(frozen=True)
class Slice:
    path: str
    rows: int
    watermark: datetime
    late_rows: int


def ms_to_dt(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


class Ledger:
    """One input of one pipeline, generated slice by slice.

    `late` turns the shape's late share on for this input; `unique_values`
    makes every `value` distinct (the Top-N input); `row_share` scales the
    shape's row counts."""

    def __init__(
        self,
        root: str,
        seed: int,
        pipeline: str,
        name: str,
        shape: Shape,
        late: bool = True,
        unique_values: bool = False,
        row_share: float = 1.0,
    ):
        self.root = root
        self.row_share = row_share
        self.seed = seed
        self.name = name
        self.shape = shape
        self.late = late
        self.unique_values = unique_values
        self._stream_id = zlib.crc32(f"{pipeline}/{name}".encode())
        # One key map per pipeline, so its inputs share their key space.
        krng = np.random.default_rng([seed, zlib.crc32(pipeline.encode())])
        self._key_a, self._key_b = (int(x) for x in krng.integers(1, _KEY_PRIME, 2))
        vrng = np.random.default_rng([seed, self._stream_id])
        self._val_a, self._val_b = (int(x) for x in vrng.integers(1, _VALUE_PRIME, 2))
        self._cdf = None
        if shape.zipf > 0 and not shape.distinct_keys:
            w = 1.0 / np.arange(1, shape.keys + 1, dtype=np.float64) ** shape.zipf
            self._cdf = np.cumsum(w) / w.sum()
        os.makedirs(root, exist_ok=True)

    def rows(self, k: int) -> int:
        n = self.shape.first_rows if k == 0 else self.shape.slice_rows
        return max(1, int(n * self.row_share))

    def first_offset(self, k: int) -> int:
        return 0 if k == 0 else self.rows(0) + (k - 1) * self.rows(1)

    def span(self, k: int) -> tuple[int, int]:
        """[start, end) of slice k's event time, in epoch ms."""
        s = self.shape
        start = T0_MS if k == 0 else T0_MS + s.first_span_ms + (k - 1) * s.slice_span_ms
        return start, start + (s.first_span_ms if k == 0 else s.slice_span_ms)

    def watermark(self, k: int) -> datetime:
        return ms_to_dt(self.span(k)[1] - 1)

    def _keys(self, rng: np.random.Generator, n: int) -> np.ndarray:
        if self.shape.distinct_keys:
            ranks = rng.permutation(self.shape.keys)[:n].astype(np.int64)
        elif self._cdf is None:
            ranks = rng.integers(0, self.shape.keys, n, dtype=np.int64)
        else:
            ranks = np.searchsorted(self._cdf, rng.random(n), side="right")
            ranks = np.minimum(ranks, self.shape.keys - 1).astype(np.int64)
        return (ranks * self._key_a + self._key_b) % _KEY_PRIME

    def table(self, k: int) -> tuple[pa.Table, int]:
        """Slice k as an Arrow table, and its count of late rows."""
        s = self.shape
        n = self.rows(k)
        rng = np.random.default_rng([self.seed, self._stream_id, k])
        start, end = self.span(k)
        et = np.sort(rng.integers(start, end, n, dtype=np.int64))
        n_late = 0
        if self.late and k > 0 and s.late_share > 0:
            n_late = int(round(n * s.late_share))
            late_at = rng.choice(n, n_late, replace=False)
            prev_wm = self.span(k - 1)[1] - 1
            et[late_at] = prev_wm - LATE_MS - rng.integers(0, LATE_MS, n_late)
        if s.disorder_share > 0:
            # Out-of-order rows: a share of positions swap event times among
            # themselves, so file order no longer follows event time.
            n_dis = int(round(n * s.disorder_share))
            pos = rng.choice(n, n_dis, replace=False)
            et[pos] = et[rng.permutation(pos)]
        offsets = np.arange(self.first_offset(k), self.first_offset(k) + n, dtype=np.int64)
        if self.unique_values:
            values = (offsets * self._val_a + self._val_b) % _VALUE_PRIME
        else:
            values = rng.integers(1, 101, n, dtype=np.int64)
        system_ms = self.span(k)[1]
        table = pa.Table.from_arrays(
            [
                pa.array(offsets),
                pa.array(np.zeros(n, dtype=np.int32)),
                pa.array(np.full(n, system_ms, dtype=np.int64)).cast(SCHEMA.field("system_time").type),
                pa.array(et).cast(SCHEMA.field("event_time").type),
                pa.array(self._keys(rng, n)),
                pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)], type=pa.string()),
                pa.array(values),
            ],
            schema=SCHEMA,
        )
        return table, n_late

    def write(self, k: int) -> Slice:
        table, n_late = self.table(k)
        path = os.path.join(self.root, f"{self.name}-{k:05d}.parquet")
        pq.write_table(table, path)
        return Slice(path, table.num_rows, self.watermark(k), n_late)


__all__ = ["Ledger", "Shape", "Slice", "SCHEMA", "DAY_MS", "HOUR_MS", "LATE_MS", "ms_to_dt"]
