"""``live``: an open-loop feed into the streaming segmenter.

A generator thread writes one parquet file per quarter of an event hour
(``N_KEYS`` keys, ``PER_FILE`` records, rows shuffled within the file) into
a watched directory on a fixed wall-clock schedule, one file every
``PERIOD_S`` seconds whether or not the engine keeps up. ``stream_segment``
runs in its default ``low_latency`` mode with no ``maxFilesPerTrigger`` and
feeds ``idempotent_batch_writer``. A record's emission latency is the time
its sink batch committed minus the time its file was due. Tiny batches over
many keys put the cost in per-microbatch overhead and per-key state
encode/decode, which no batch workload touches.

The same query first takes ``WARM_FILES`` files at once; that batch is
part of set-up, and the timed feed starts as soon as it has finished, on a
query whose code paths and per-key state are already in use. (Waiting for
the watermark batch after it as well added about 20 s to set-up with two
cores.) Files arrive four times a second, so a batch's records have waited
evenly spread times rather than a few whole-second steps.

The feed's last file also carries a sentinel record two days past the last
hour, so the watermark passes every day and the final day's segment map is
emitted. The sink must then hold every fed record exactly once, with the
batch engine's fragment ids and segment map (``oracle.run_pipeline``
replays the batch engine; the repo's tests hold the batch job equal to it).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen, host, trace
from perfbench.harness import percentile
from pipe_segment_spark.oracle import segmenter as oracle
from pipe_segment_spark.streaming.metrics import record_progress
from pipe_segment_spark.streaming.segmenter_stream import (
    INPUT_SCHEMA_DDL,
    stream_segment,
)
from pipe_segment_spark.streaming.sink import idempotent_batch_writer

N_KEYS = 300
PER_FILE = 500
PERIOD_S = 0.25
FILE_SPAN_US = gen.US_PER_HOUR // 4
WARM_FILES = 8
SENTINEL_MSGID = "end"
# keeps a stalled run (setup, feed, this wait and the checks) well inside
# three minutes
DRAIN_TIMEOUT_S = 60.0


def with_sentinel(last: pa.Table, n_hours: int) -> pa.Table:
    """The feed's last file plus one record two days past the feed: the
    watermark then passes every fed day, so the batch after it emits the
    last day's segment map."""
    ts = gen.T0_US + (n_hours + 48) * gen.US_PER_HOUR
    row = {
        "doc_id": "zz-end",
        "source": "tx1",
        "timestamp": ts,
        "tokens": [1],
        "n_tok": 1,
        "msgid": SENTINEL_MSGID,
        "rec_type": "POS",
        "ident_value": None,
        "dest_value": None,
    }
    return pa.concat_tables(
        [last, pa.table({k: [v] for k, v in row.items()}, schema=gen.RECORD_SCHEMA)]
    )


class Feeder(threading.Thread):
    """Writes the first ``warm`` files at once; after ``go`` is set, writes
    file i at ``start_at + (i - warm) * period``. Each file is renamed
    atomically into the watched directory; the feeder records when each
    was due and when it landed."""

    def __init__(self, tables, period, stage_dir, in_dir, warm=0):
        super().__init__(daemon=True)
        self.tables, self.period, self.warm = tables, period, warm
        self.stage_dir, self.in_dir = stage_dir, in_dir
        self.due: list[float] = []
        self.written: list[float] = []
        self.start_at = 0.0
        self.go = threading.Event()
        self.halt = threading.Event()
        self.error: Exception | None = None

    def run(self):
        try:
            for i, table in enumerate(self.tables):
                if i < self.warm:
                    due = time.perf_counter()
                else:
                    self.go.wait()
                    due = self.start_at + (i - self.warm) * self.period
                    self.halt.wait(max(0.0, due - time.perf_counter()))
                if self.halt.is_set():
                    return
                name = f"f{i:05d}.parquet"
                pq.write_table(table, os.path.join(self.stage_dir, name))
                os.replace(
                    os.path.join(self.stage_dir, name), os.path.join(self.in_dir, name)
                )
                self.due.append(due)
                self.written.append(time.perf_counter())
        except Exception as e:  # re-raised by run_stream after join()
            self.error = e


def timed_writer(out_dir: str):
    """The sink function, plus the perf_counter window of each batch's
    write; the end of that window is the batch's commit time."""
    inner = idempotent_batch_writer(out_dir)
    log: dict[int, tuple[float, float]] = {}

    def write(df, batch_id):
        t = time.perf_counter()
        inner(df, batch_id)
        log[batch_id] = (t, time.perf_counter())

    return write, log


def _progress(query) -> list[dict]:
    return [json.loads(p.json) if not isinstance(p, dict) else p for p in query.recentProgress]


def _wait_rows(query, rows: int, deadline: float) -> None:
    """Until the batches that took ``rows`` input rows have finished."""
    while time.perf_counter() < deadline:
        if sum(p.get("numInputRows", 0) for p in _progress(query)) >= rows:
            return
        time.sleep(0.05)
    raise TimeoutError("the warm-up files did not go through the stream")


def run_stream(spark, tables, period, dirs, warm=0):
    """Start the stream; feed the first ``warm`` tables at once and wait
    until their batch finished; feed the rest on schedule and wait until
    every fed row went through and the watermark batch after the last file
    ran. Returns the query, the feeder, the sink commit windows, and the
    number of progress entries and the time at the end of the warm-up."""
    in_dir, out_dir, ckpt, stage = dirs
    for d in (in_dir, stage):
        os.makedirs(d, exist_ok=True)
    writer, commits = timed_writer(out_dir)
    feeder = Feeder(tables, period, stage, in_dir, warm)
    expected = sum(t.num_rows for t in tables)
    stream = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .parquet(in_dir)
        .transform(lambda df: stream_segment(df, mode="low_latency"))
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
    )
    query = stream.start()
    try:
        feeder.start()
        if warm:
            _wait_rows(
                query,
                sum(t.num_rows for t in tables[:warm]),
                time.perf_counter() + DRAIN_TIMEOUT_S,
            )
        warm_progress, warm_end = len(_progress(query)), time.perf_counter()
        feeder.start_at = warm_end + 0.2
        feeder.go.set()
        feeder.join(timeout=period * len(tables) + 10.0)
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline:
            prog = _progress(query)
            seen = sum(p.get("numInputRows", 0) for p in prog)
            last_rows = max((p["batchId"] for p in prog if p.get("numInputRows")), default=-1)
            if seen >= expected and any(b > last_rows for b in commits):
                break
            time.sleep(0.05)
    finally:
        feeder.halt.set()
        feeder.go.set()
        feeder.join(timeout=10.0)
        query.stop()
    if feeder.error is not None:
        raise feeder.error
    return query, feeder, commits, warm_progress, warm_end


def _fed_rows(out_dir: str, file_of: dict[str, int]):
    """The sink's rows, and its fed tagged records with the index of the
    feed file each came from in column ``h``."""
    dataset = ds.dataset(out_dir, format="parquet", partitioning="hive")
    cols = ["kind", "doc_id", "msgid", "frag_id", "seg_id", "date", "batch_id"]
    sink = dataset.to_table(columns=cols).to_pandas()
    tagged = sink[(sink["kind"] == "tagged") & (sink["msgid"] != SENTINEL_MSGID)]
    return sink, tagged.assign(h=tagged["msgid"].map(file_of))


def _p50(xs) -> float:
    return percentile(xs, 0.5) if xs else 0.0


def _stream_layers(prog, progress_rows, sink, tagged, commits, feeder, n_records):
    """stream.* / state.* / sink.* / gen.* figures of one live run."""
    dur = [p.get("durationMs", {}) for p in prog]
    ops = [o for p in prog for o in p.get("stateOperators", [])]
    batch_of_file = tagged.groupby("h")["batch_id"].min()
    # files landed but not yet in a committed batch, at each commit
    backlog = [
        sum(
            1
            for h, w in enumerate(feeder.written)
            if w <= end and batch_of_file.get(h, -1) > b
        )
        for b, (_, end) in commits.items()
    ]
    trigger_s = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    overhead_s = [
        (d.get("queryPlanning", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0))
        / 1e3
        for d in dur
    ]
    return {
        "stream.batches": (float(len(prog)), "count"),
        "stream.files_per_batch_mean": (
            float(tagged.groupby("batch_id")["h"].nunique().mean()),
            "count",
        ),
        "stream.trigger_s_p50": (_p50(trigger_s), "s"),
        "stream.trigger_s_p90": (percentile(trigger_s, 0.9), "s"),
        "stream.add_batch_s_p50": (_p50([d.get("addBatch", 0) / 1e3 for d in dur]), "s"),
        "stream.overhead_s_p50": (_p50(overhead_s), "s"),
        "state.rows_total_peak": (
            float(max((r["state_rows_total"] for r in progress_rows), default=0)),
            "count",
        ),
        "state.bytes_peak": (
            float(max((r["state_memory_bytes"] for r in progress_rows), default=0)),
            "bytes",
        ),
        "state.commit_s_p50": (_p50([o.get("commitTimeMs", 0) / 1e3 for o in ops]), "s"),
        "state.updates_s_p50": (
            _p50([o.get("allUpdatesTimeMs", 0) / 1e3 for o in ops]),
            "s",
        ),
        "state.rows_updated_per_record": (
            sum(o.get("numRowsUpdated", 0) for o in ops) / n_records,
            "ratio",
        ),
        "stream.dropped_by_watermark": (
            float(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
            "count",
        ),
        "sink.batch_write_s_p50": (_p50([e - s for s, e in commits.values()]), "s"),
        "sink.rows_written": (float(len(sink)), "count"),
        "stream.backlog_files_max": (float(max(backlog, default=0)), "count"),
        "gen.late_s_max": (
            max(w - d for w, d in zip(feeder.written, feeder.due)),
            "s",
        ),
    }


def _check(sink: pd.DataFrame, tagged: pd.DataFrame, records: list[dict]):
    """Records not emitted exactly once with the batch engine's fragment
    id, and the number of segment-map rows that differ from it."""
    want = oracle.run_pipeline(records)
    want_frag = {r["msgid"]: r["frag_id"] for r in want["tagged_records"]}
    times = Counter(tagged["msgid"])
    got_frag = {
        m: (f if isinstance(f, str) else None)
        for m, f in zip(tagged["msgid"], tagged["frag_id"])
    }
    bad = [
        m for m, f in want_frag.items() if times.get(m) != 1 or got_frag.get(m) != f
    ]
    bad += [m for m in times if m not in want_frag]
    seg = sink[sink["kind"] == "segmap"]
    got_map = set(zip(seg["doc_id"], seg["date"].astype(str), seg["seg_id"], seg["frag_id"]))
    want_map = {(r["doc_id"], str(r["date"]), r["seg_id"], r["frag_id"]) for r in want["segmap"]}
    return bad, len(got_map ^ want_map)


def measure_stream(spark, tables, period, dirs, progress_dir=None, warm=0) -> dict:
    """Feed ``tables`` through the stream (the first ``warm`` at once, as a
    warm-up), then check every record in the sink against the oracle and
    derive the stream's layer figures and the per-record latency of the
    scheduled files. With a
    ``progress_dir`` (traced runs), the query's progress is also recorded
    there through ``record_progress`` and read back for the state figures;
    ``trace_s`` is the time that took."""
    query, feeder, commits, warm_progress, warm_end = run_stream(
        spark, tables, period, dirs, warm
    )
    prog = _progress(query)[warm_progress:]
    progress_rows = []
    t = time.perf_counter()
    if progress_dir:
        record_progress(query, progress_dir)
        for path in sorted(glob.glob(os.path.join(progress_dir, "*.json"))):
            with open(path) as f:
                progress_rows.append(json.load(f))
    trace_s = time.perf_counter() - t
    records = [
        r for t in tables for r in t.to_pylist() if r["msgid"] != SENTINEL_MSGID
    ]
    file_of = {r["msgid"]: i for i, t in enumerate(tables) for r in t.select(["msgid"]).to_pylist()}
    sink, tagged = _fed_rows(dirs[1], file_of)
    bad, segmap_diff = _check(sink, tagged, records)
    timed = tagged[tagged["h"] >= warm]
    rows_in = sum(p.get("numInputRows", 0) for p in prog)
    layers = _stream_layers(prog, progress_rows, sink, timed, commits, feeder, rows_in)
    # latency per timed record: its batch's commit minus its file's due time
    commit_end = timed["batch_id"].map({b: e for b, (_, e) in commits.items()})
    latency = (commit_end - timed["h"].map(dict(enumerate(feeder.due)))).to_numpy()
    return {
        "records": records,
        "warm_end": warm_end,
        "trace_s": trace_s,
        "layers": layers,
        "latency": latency,
        # the time the stream spent in triggers that took input; the stream
        # runs back to back, so this grows when batches slow. Watermark
        # batches without input (after the warm-up batch, if it ran before
        # the first timed file landed, and after the last file) are left
        # out: a run has only a handful of batches, and counting them spread
        # the rate 0.2 (IQR / median) over ten seeds
        "busy_s": sum(
            p["durationMs"].get("triggerExecution", 0)
            for p in prog
            if p.get("numInputRows")
        )
        / 1e3,
        "rows_in": rows_in,
        "n_batches": sum(1 for p in prog if p.get("numInputRows")),
        "bad": bad,
        "segmap_diff": segmap_diff,
        "dropped": layers["stream.dropped_by_watermark"][0],
    }


def run(bench) -> dict:
    n_files = max(2, int(bench.seconds // PERIOD_S))
    n_all = WARM_FILES + n_files
    tables = gen.live_files(bench.seed, n_all, N_KEYS, PER_FILE, FILE_SPAN_US)
    tables[-1] = with_sentinel(tables[-1], -(-n_all * FILE_SPAN_US // gen.US_PER_HOUR))
    live_dirs = tuple(bench.path("live", d) for d in ("in", "out", "ckpt", "stage"))

    rss = host.RssPoller().start()
    t0 = time.perf_counter()
    spark = bench.start_session()
    m = measure_stream(
        spark,
        tables,
        PERIOD_S,
        live_dirs,
        bench.path("progress") if bench.trace else None,
        WARM_FILES,
    )
    setup_s = m["warm_end"] - t0
    peak_rss = rss.stop()
    records, layers, latency = m["records"], m["layers"], m["latency"]

    failed = len(m["bad"]) + m["segmap_diff"]
    note = f" ({len(latency)} records, {m['n_batches']} batches)"
    result = {
        "notes": {"emit_p50_s": note, "emit_p90_s": note},
        "correct": failed == 0 and m["dropped"] == 0,
        "attempted": len(records),
        "failed": failed,
        "stamp": {
            "records": len(records),
            "warm_files": WARM_FILES,
            "files": n_files,
            "period_s": PERIOD_S,
            "latency_samples": int(len(latency)),
            "data_batches": m["n_batches"],
            "setup_s": round(setup_s, 3),
            "peak_rss_mb": round(peak_rss, 1),
            "gen_late_s_max": round(layers["gen.late_s_max"][0], 4),
            "backlog_files_max": int(layers["stream.backlog_files_max"][0]),
            "dropped_by_watermark": m["dropped"],
            "segmap_rows_differing": m["segmap_diff"],
            "records_failed": len(m["bad"]),
        },
    }
    bench.stop_session()
    if not bench.trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "records_per_s": (m["rows_in"] / m["busy_s"], "records/s"),
            "emit_p50_s": (percentile(latency, 0.5), "s"),
            "emit_p90_s": (percentile(latency, 0.9), "s"),
        }
        return result

    # the stream's layers come from its progress and the sink wrapper; the
    # only tracing work is recording the progress after the query stopped
    metrics = trace.per_layer_template()
    metrics.update(layers)
    metrics["trace.overhead_s"] = (m["trace_s"], "s")
    result["trace_metrics"] = metrics
    return result
