"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
identical tables. Callers write them with pyarrow, never through Spark, so
generation costs no JVM work and sits outside every timed region.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000
# 2024-01-01T00:00:00Z, the testdata epoch
T0_US = 1_704_067_200_000_000

RECORD_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("msgid", pa.string()),
        ("rec_type", pa.string()),
        ("ident_value", pa.string()),
        ("dest_value", pa.string()),
    ]
)


def _tokens(rng, n):
    """1-7 token ids per record as an arrow list column."""
    lens = rng.integers(1, 8, size=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(0, 50_000, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _levels(rng, n_keys):
    """Per-key ``n_tok`` levels of a primary transmitter and of a second one
    at least 40 away, so the fragmenter keeps the two populations apart."""
    level_a = rng.integers(5, 50, size=n_keys)
    return level_a, level_a + rng.integers(40, 48, size=n_keys)


def _records(rng, levels, key_of_row, ts_us, msg_prefix, ident_share=0.09):
    """Token records for given (key, time) rows; ~20% of rows come from the
    key's second transmitter."""
    n = len(key_of_row)
    level_a, level_b = levels
    second = rng.random(n) < 0.2
    level = np.where(second, level_b[key_of_row], level_a[key_of_row])
    n_tok = np.clip(level + rng.integers(-2, 3, size=n), 1, 97).astype(np.int32)
    ident = rng.random(n) < ident_share
    names = rng.integers(0, 5, size=n)
    dests = rng.integers(0, 4, size=n)
    doc = np.char.add("k", np.char.zfill(key_of_row.astype(str), 5))
    return pa.table(
        {
            "doc_id": pa.array(doc.tolist(), pa.string()),
            "source": pa.array(np.where(second, "tx2", "tx1").tolist(), pa.string()),
            "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "tokens": _tokens(rng, n),
            "n_tok": pa.array(n_tok, pa.int32()),
            "msgid": pa.array(
                [f"{msg_prefix}{i}" for i in range(n)], pa.string()
            ),
            "rec_type": pa.array(np.where(ident, "IDENT", "POS").tolist()),
            "ident_value": pa.array(
                [f"name_{v}" if f else None for v, f in zip(names, ident)],
                pa.string(),
            ),
            "dest_value": pa.array(
                [f"dst_{v}" if f else None for v, f in zip(dests, ident)],
                pa.string(),
            ),
        },
        schema=RECORD_SCHEMA,
    )


def hot_key_events(seed: int, n_events: int):
    """Events table in the testdata schema (event_id, ts, user_id,
    event_type, value, props) over 30 days. ``user_id % 40`` becomes the
    doc_id in ``token_stream``; user ids are Zipf(1.3)-skewed, so the hottest
    of those 40 keys carries about a quarter of the records."""
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(T0_US + rng.integers(0, 30 * US_PER_DAY, size=n_events))
    user = (rng.zipf(1.3, size=n_events) - 1) % 4000
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            # naive timestamps, as in the testdata tables
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, 5, size=n_events)].tolist()),
            "value": pa.array(np.round(rng.random(n_events) * 50, 2)),
            "props": pa.array(
                [f'{{"k": {v}}}' for v in rng.integers(0, 100, size=n_events)]
            ),
        }
    )


def live_files(seed: int, n_files: int, n_keys: int, per_file: int, span_us: int):
    """One record table per ``span_us`` of event time: ``per_file`` records
    over ``n_keys`` keys, rows shuffled within the file. msgids encode the
    file (``h<file>-<i>``) so the sink's rows map back to their feed file."""
    rng = np.random.default_rng([seed, 3])
    levels = _levels(rng, n_keys)
    out = []
    for h in range(n_files):
        key = rng.integers(0, n_keys, size=per_file)
        ts = T0_US + h * span_us + rng.integers(0, span_us, size=per_file)
        table = _records(rng, levels, key, ts, f"h{h}-")
        out.append(table.take(pa.array(rng.permutation(per_file))))
    return out
