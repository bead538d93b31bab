"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow, with no Spark: the engine only ever sees
the files these functions write. One seed fixes every byte. Each slice and
document batch draws from its own ``numpy`` stream keyed by
``(seed, stream, index)``, so item ``i`` is the same whichever items were
generated before it. Only the document batches are sequential, because a
near-duplicate copies a document that came before it.

Bronze rows are ``(data: JSON string, load_ts: timestamp[us, UTC])``, the
shape ``engine.run_merge`` scans (``sources/cdc.py`` documents it).

The traffic mix copies the repo's own bench fixture (TESTDATA.md: the
seed-42 ``events`` and ``documents`` tables at sf0.1); README.md gives the
measured figures. Only the batch sizes and the key count come from the
benchmark's definition instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: 2023-11-14T22:13:20Z. Every generated timestamp is an offset from it.
BASE_US = 1_700_000_000_000_000
#: Arrival span of one trickle slice. Slices never overlap in ``load_ts``,
#: so one watermark-driven batch sees exactly one slice.
SPAN_US = 3_600_000_000

TRICKLE_KEYS = 4_000
TRICKLE_SLICE = 2_500
#: The fixture's event types, equally likely. ``sources/cdc.op_expr`` maps
#: them to ops: 'error' is a delete, 'signup' a create, the rest updates.
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
#: The fixture's late-arrival replay (``queries._late_replay_state``): every
#: 'view' event arrives 30 days after its event time.
LATE_TYPE, LATE_US = "view", 30 * 86_400_000_000
#: Event values are exponential with this mean, in cents (fixture: median
#: 34.77, p10 5.35, p90 114.3).
VALUE_MEAN_CENTS = 5_000
K_RANGE = 100

DOC_BATCH = 250
#: Fixture documents: 10-100 words drawn from 31 distinct words.
DOC_WORDS = (10, 100)
VOCAB = 31
#: Fixture near-duplicates: 256 pairs at Jaccard >= 0.5 among 5,000
#: documents, 243 of them an earlier document with one word appended.
NEAR_DUP_SHARE = 256 / 5_000

_STREAM_TRICKLE, _STREAM_DOCS, _STREAM_VOCAB = 1, 3, 4

BRONZE_SCHEMA = pa.schema(
    [("data", pa.string()), ("load_ts", pa.timestamp("us", tz="UTC"))]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def _s(values) -> pa.Array:
    """Integer/string numpy array or arrow array → arrow string array."""
    return pc.cast(values if isinstance(values, pa.Array) else pa.array(values), pa.string())


def _q(values) -> list:
    """JSON string literal pieces: '"', value pieces, '"'."""
    return ['"', *(values if isinstance(values, list) else [_s(values)]), '"']


def _json(fields: list[tuple[str, list]]) -> pa.Array:
    """Concatenate ``{"name":<pieces>,...}`` row-wise without a Python loop."""
    parts: list = []
    for i, (name, pieces) in enumerate(fields):
        parts.append(("{" if i == 0 else ",") + f'"{name}":')
        parts.extend(pieces)
    parts.append("}")
    return pc.binary_join_element_wise(*parts, "")


def _decimal(units: np.ndarray, scale: int) -> list:
    """Non-negative fixed-point integers → exact 'int.frac' text pieces."""
    frac = pc.utf8_lpad(_s(units % 10**scale), width=scale, padding="0")
    return [_s(units // 10**scale), ".", frac]


def _bronze(data: pa.Array, load_us: np.ndarray) -> pa.Table:
    return pa.Table.from_arrays(
        [data, pa.array(load_us, pa.timestamp("us", tz="UTC"))], schema=BRONZE_SCHEMA
    )


def trickle_slice(seed: int, index: int) -> pa.Table:
    """One slice of events over a few thousand keys, with the fixture's mix
    of event types, ops and late arrivals. Payload = the user-state columns
    (user_id, event_type, value, k).

    Arrival (``load_ts``) advances 1 ms per event from the slice start. Event
    time trails arrival by under 1 ms, so it rises strictly with position,
    except for late events, whose event time is 30 days back. The last
    event is forced on time and an update: it is then its key's winner, and
    the watermark the merge writes equals the slice's maximum ``load_ts``.
    """
    rng = _rng(seed, _STREAM_TRICKLE, index)
    n = TRICKLE_SLICE
    key = rng.integers(0, TRICKLE_KEYS, n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    etype[-1] = "purchase"
    op = np.select([etype == "error", etype == "signup"], ["d", "c"], "u")
    load_us = BASE_US + (index + 1) * SPAN_US + np.arange(n, dtype=np.int64) * 1_000
    event_us = load_us - rng.integers(0, 1_000, n)
    event_us[-1] = load_us[-1]
    event_us = np.where(etype == LATE_TYPE, event_us - LATE_US, event_us)
    # sub-microsecond digits: the engine truncates them (merge.sql:319)
    ts_ns = event_us * 1_000 + rng.integers(0, 1_000, n)
    pos = np.int64(index) * n + np.arange(n, dtype=np.int64)
    cents = np.round(rng.exponential(VALUE_MEAN_CENTS, n)).astype(np.int64)
    data = _json(
        [
            ("__op", _q(op)),
            ("__ts_ns", _q(ts_ns)),
            ("__source_pos", _q(pos)),
            ("user_id", [_s(key)]),
            ("event_type", _q(etype)),
            ("value", _decimal(cents, 2)),
            ("k", [_s(rng.integers(0, K_RANGE, n))]),
        ]
    )
    return _bronze(data, load_us)


class DocStream:
    """Document batches with the fixture's share of near-duplicates.

    A fresh document is 10-100 words drawn from a seeded 31-word
    vocabulary, so unrelated documents share few 3-word shingles. A
    near-duplicate copies an earlier document (of this or an earlier batch)
    and appends one word. Batches are generated in order."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = _rng(seed, _STREAM_VOCAB, 0)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 9, VOCAB)
        self.vocab = np.array(
            ["".join(letters[rng.integers(0, 26, m)]) for m in lens], dtype=object
        )
        self.docs: list[list[str]] = []

    def batch(self, index: int) -> pa.Table:
        if index != len(self.docs) // DOC_BATCH:
            raise ValueError(f"DocStream batches come in order; next is {len(self.docs) // DOC_BATCH}")
        rng = _rng(self.seed, _STREAM_DOCS, index)
        start = len(self.docs)
        for _ in range(DOC_BATCH):
            if self.docs and rng.random() < NEAR_DUP_SHARE:
                words = self.docs[int(rng.integers(0, len(self.docs)))]
                words = [*words, self.vocab[rng.integers(0, VOCAB)]]
            else:
                lo, hi = DOC_WORDS
                words = list(self.vocab[rng.integers(0, VOCAB, rng.integers(lo, hi + 1))])
            self.docs.append(words)
        ids = np.arange(start, start + DOC_BATCH, dtype=np.int64)
        texts = [" ".join(w) for w in self.docs[start:]]
        return pa.Table.from_arrays([pa.array(ids), pa.array(texts, pa.string())], schema=DOC_SCHEMA)


def write(table: pa.Table, path: str) -> None:
    """Parquet with fixed writer options, so equal tables give equal bytes."""
    pq.write_table(table, path, compression="snappy")
