"""``hot_keys``: few fat keys through the batch segmenter job.

An events table in the testdata schema whose Zipf-skewed ``user_id`` puts
most records on a few of ``token_stream``'s 40 doc_ids. Each timed pass runs
what ``jobs/run_segment.py --mode batch`` runs over ``token_stream``. Few fat
keys make skewed groups for the fragmenter and matcher UDFs: the mechanism
salting or kernel vectorisation targets. A traced run adds
``q_segment_vessel_daily``, the downstream segment-identity job (it only
accepts the events-directory form), to every pass.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import batch, gen, host, trace
from perfbench.harness import percentile
from pipe_segment_spark.queries.identity_q import ORACLES, q_segment_vessel_daily
from pipe_segment_spark.sources import token_stream as ts_mod

N_EVENTS = 10_000
SAMPLED_KEYS = 4
# after one untimed pass on the measured input (about 30 s on two cores,
# most of it JIT compilation), timed passes (12-16 s) run for at least
# --seconds and at least twice
MIN_TIMED_PASSES = 2


def token_frame(events: pa.Table) -> pd.DataFrame:
    """``token_stream``'s derivation in pandas (minus the token arrays),
    with the columns the fragmenter UDF reads."""
    ev = events.to_pandas()
    eid = ev["event_id"]
    ident = (eid % ts_mod.IDENT_EVERY == 0).to_numpy()
    return pd.DataFrame(
        {
            "doc_id": "d" + (ev["user_id"] % ts_mod.N_DOCS).astype(str),
            "timestamp": ev["ts"].astype("datetime64[us]"),
            "msgid": "m" + ev["event_id"].astype(str),
            "n_tok": (eid % ts_mod.TOK_MOD + 1).astype("int32"),
            "rec_type": np.where(ident, "IDENT", "POS"),
            "source": ev["event_type"],
            "has_payload": True,
            "ident_value": ("name_" + (eid % 5).astype(str)).where(ident, None),
            "dest_value": ("dst_" + (eid % 4).astype(str)).where(ident, None),
            "event_id": eid,
        }
    )


def oracle_records(frame: pd.DataFrame) -> list[dict]:
    """Oracle input rows, token arrays included."""
    rows = frame.drop(columns=["has_payload"]).to_dict("records")
    for r in rows:
        e = int(r.pop("event_id"))
        r["timestamp"] = r["timestamp"].to_pydatetime()
        r["tokens"] = [
            (e * 31 + i * 7) % ts_mod.VOCAB for i in range(1, e % ts_mod.LEN_MOD + 2)
        ]
        r["n_tok"] = int(r["n_tok"])
    return rows


def _norm(v):
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "hour") else v.isoformat()
    return v


def check_vessel_daily(events_path: str, out_dir: str, threads: int):
    """Compare the written ``segment_vessel_daily`` with the repo's DuckDB
    oracle, key by key. Returns (keys compared, keys that differ)."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        rel = con.sql(ORACLES["segment_vessel_daily"])
        want_cols, want_rows = rel.columns, rel.fetchall()
    finally:
        con.close()
    table = pq.read_table(os.path.join(out_dir, "vessel_daily"))
    table = pa.table(
        [
            c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c
            for c in table.columns
        ],
        names=table.column_names,
    )
    if sorted(table.column_names) != sorted(want_cols):
        return 1, ["<schema>"]

    def by_key(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        doc = cols.index("doc_id")
        out: dict = {}
        for r in rows:
            out.setdefault(r[doc], []).append(tuple(_norm(r[i]) for i in order))
        return {k: sorted(v) for k, v in out.items()}

    got = by_key(table.column_names, [tuple(r.values()) for r in table.to_pylist()])
    want = by_key(list(want_cols), want_rows)
    keys = sorted(set(got) | set(want))
    return len(keys), [k for k in keys if got.get(k) != want.get(k)]


def run(bench) -> dict:
    events = gen.hot_key_events(bench.seed, N_EVENTS)
    frame = token_frame(events)
    records = oracle_records(frame)
    in_dir, out_dir = bench.path("in"), bench.path("out")
    os.makedirs(in_dir)
    pq.write_table(events, os.path.join(in_dir, "events.parquet"))

    rss = host.RssPoller().start()
    t0 = time.perf_counter()
    spark = bench.start_session(event_log=bench.trace)
    sc = spark.sparkContext
    # the identity job runs in traced runs only: a timed run (about a
    # minute, most of it JVM start and cold warm-up) has no room for it
    with_identity = bench.trace

    def one_pass(src_dir, dst_dir, group):
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        batch.job_pass(
            ts_mod.token_stream(spark, src_dir),
            dst_dir,
            identity=(lambda: q_segment_vessel_daily(spark, src_dir))
            if with_identity
            else None,
        )
        wall = time.perf_counter() - t
        spark.catalog.clearCache()
        return wall

    # warm up on the measured input itself: after a warm-up on a smaller
    # input the first timed pass still ran ~15% slower than the next ones
    one_pass(in_dir, bench.path("warm_out"), "warmup")
    setup_s = time.perf_counter() - t0

    walls = []
    groups = []
    if not bench.trace:
        t_measure = time.perf_counter()
        while (
            len(walls) < MIN_TIMED_PASSES
            or time.perf_counter() - t_measure < bench.seconds
        ):
            groups.append(f"pass{len(walls)}")
            walls.append(one_pass(in_dir, out_dir, groups[-1]))
    else:
        groups.append("untraced")
        walls.append(one_pass(in_dir, out_dir, "untraced"))
        tracer = trace.Tracer(spark)
        counts = batch.traced_pass(
            tracer,
            ts_mod.token_stream(spark, in_dir),
            bench.path("out_traced"),
            identity=lambda: q_segment_vessel_daily(spark, in_dir),
        )
        spark.catalog.clearCache()
    peak_rss = rss.stop()
    tasks = [bench.tasks(g) for g in groups]
    bench.stop_session()

    hot = frame["doc_id"].value_counts()
    rng = np.random.default_rng([bench.seed, 5])
    sample = {hot.index[0]} | set(
        rng.choice(sorted(hot.index), size=SAMPLED_KEYS - 1, replace=False)
    )
    n_keys, bad_keys = batch.check_keys(out_dir, records, sample)
    if with_identity:
        n_vd, bad_vd = check_vessel_daily(
            os.path.join(in_dir, "events.parquet"), out_dir, bench.cores
        )
        n_keys += n_vd
        bad_keys += [f"vessel_daily:{k}" for k in bad_vd]

    tasks_run = sum(t[0] for t in tasks)
    tasks_failed = sum(t[1] for t in tasks)
    failed = len(bad_keys) + tasks_failed
    result = {
        "correct": failed == 0,
        "attempted": n_keys + tasks_run,
        "failed": failed,
        "stamp": {
            "records": N_EVENTS,
            "pass_walls_s": [round(w, 3) for w in walls],
            "setup_s": round(setup_s, 3),
            "peak_rss_mb": round(peak_rss, 1),
            "hottest_key_share": round(float(hot.iloc[0]) / N_EVENTS, 3),
            "mismatched_keys": bad_keys,
            "tasks": tasks_run,
        },
    }
    if not bench.trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "records_per_s": (N_EVENTS / percentile(walls, 0.5), "records/s"),
            "emit_p50_s": (percentile(walls, 0.5), "s"),
            "emit_p90_s": (percentile(walls, 0.9), "s"),
        }
        return result
    layers = trace.per_layer_template()
    layers.update(batch.layer_metrics(bench, tracer, walls[0]))
    layers.update({k: (float(v), layers[k][1]) for k, v in counts.items()})
    layers.update(batch.kernel_metrics(frame))
    tracer.write(bench.path("spans.json"))
    result["trace_metrics"] = layers
    return result
