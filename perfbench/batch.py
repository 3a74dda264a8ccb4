"""The batch segmenter job of the ``hot_keys`` workload, run plainly or one
layer at a time, plus the single-process kernel timing and the row-for-row
oracle check of its outputs."""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.storagelevel import StorageLevel

from perfbench import trace
from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.operators.fragment import (
    assign_frag_ids,
    attach_counted_arrays,
    fragment_base,
    tag_fragments,
    tag_fragments_narrow,
)
from pipe_segment_spark.operators.kernel import greedy_merge
from pipe_segment_spark.operators.segment_map import create_segment_map
from pipe_segment_spark.operators.segments import create_segments
from pipe_segment_spark.operators.tag import (
    tag_fragments_with_seg_id,
    tag_records_with_seg_id,
)
from pipe_segment_spark.oracle import segmenter as oracle
from pipe_segment_spark.pipeline import run_batch_pipeline

OUTPUTS = ("segments", "segmap", "fragments", "messages")
# what tag_fragments_narrow ships into the fragmenter UDF
UDF_COLS = ("doc_id", "timestamp", "msgid", "n_tok", "rec_type", "source", "has_payload")


def job_pass(records, out_dir: str, identity=None) -> None:
    """What ``jobs/run_segment.py --mode batch`` runs: the pipeline and its
    four writes; then, when given, the downstream identity job."""
    out = run_batch_pipeline(records)
    frames = (out.segments, out.segmap, out.fragments, out.tagged_records)
    for name, df in zip(OUTPUTS, frames):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    if identity is not None:
        identity().write.mode("overwrite").parquet(
            os.path.join(out_dir, "vessel_daily")
        )


def _materialize(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def traced_pass(tracer, records, out_dir: str, identity=None) -> dict:
    """``job_pass`` one public layer function at a time: each output is
    persisted and counted under its own span, so a span's time is its own
    layer's work. Returns the layer counts."""
    params = DEFAULT_PARAMS
    counts = {}
    with tracer.span("pipeline"):
        with tracer.span("sources.scan"):
            records, counts["fragment.records_in"] = _materialize(records)
        with tracer.span("fragment.tag_narrow"):
            narrow, _ = _materialize(tag_fragments_narrow(records, params))
        with tracer.span("fragment.base"):
            base, counts["fragment.fragments_out"] = _materialize(
                fragment_base(narrow)
            )
        with tracer.span("segment_map.match"):
            segmap, counts["segment_map.segmap_rows"] = _materialize(
                create_segment_map(base, params)
            )
        with tracer.span("fragment.counted_arrays"):
            fragments, _ = _materialize(
                attach_counted_arrays(base, narrow, records)
            )
        with tracer.span("tag.records"):
            tagged, _ = _materialize(
                tag_records_with_seg_id(
                    tag_fragments(records, params, narrow_tagged=narrow), segmap
                )
            )
            frags_out, _ = _materialize(tag_fragments_with_seg_id(fragments, segmap))
        with tracer.span("segments.daily"):
            segments, counts["segments.segment_days"] = _materialize(
                create_segments(frags_out)
            )
        with tracer.span("sink.write"):
            for name, df in zip(OUTPUTS, (segments, segmap, fragments, tagged)):
                df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        if identity is not None:
            with tracer.span("identity.vessel_daily"):
                identity().write.mode("overwrite").parquet(
                    os.path.join(out_dir, "vessel_daily")
                )
    tracer.sc.setJobGroup("counts", "counts")
    counts["fragment.noise_records"] = narrow.where("frag_id IS NULL").count()
    counts["sink.bytes_written"] = sum(
        dir_bytes(os.path.join(out_dir, name)) for name in OUTPUTS
    )
    return counts


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def layer_metrics(bench, tracer, untraced_s: float) -> dict:
    """Per-span figures from the event log, after the session stopped."""
    groups = trace.read_event_log(bench.event_log)
    self_s = tracer.self_times()
    out = {}
    for name in trace.BATCH_SPANS:
        if name in self_s:
            out.update(
                trace.span_metrics(name, self_s[name], groups.get(name), bench.cores)
            )
    out["pipeline.udf_pass_ratio"] = (
        trace.udf_runs(groups.get("untraced")) / 2.0,
        "ratio",
    )
    traced_s = next(s["end"] - s["start"] for s in tracer.spans if s["name"] == "pipeline")
    out["trace.overhead_s"] = (traced_s - untraced_s, "s")
    return out


# ---------------------------------------------------------------------------
# Kernel timing outside Spark
# ---------------------------------------------------------------------------


def kernel_metrics(records: pd.DataFrame) -> dict:
    """Time the fragmenter UDF body (``assign_frag_ids``: ``sort_group``
    plus the per-day fragment loop) and ``greedy_merge`` per doc_id in this
    process, on the rows the Spark job reads. ``records`` has the UDF's
    columns (doc_id, timestamp as naive UTC, msgid, n_tok, rec_type, source,
    has_payload)."""
    params = DEFAULT_PARAMS
    frag_s = merge_s = 0.0
    records = records[list(UDF_COLS)]
    for doc_id, pdf in records.groupby("doc_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        t0 = time.perf_counter()
        tagged = assign_frag_ids(pdf, params)
        frag_s += time.perf_counter() - t0
        frags = _fragment_summaries(tagged)
        t0 = time.perf_counter()
        greedy_merge(doc_id, frags, params)
        merge_s += time.perf_counter() - t0
    return {
        "kernel.fragment_s": (frag_s, "s"),
        "kernel.greedy_merge_s": (merge_s, "s"),
        "kernel.records_per_s": (len(records) / (frag_s + merge_s), "records/s"),
    }


def _fragment_summaries(tagged: pd.DataFrame) -> pd.DataFrame:
    """Boundary summaries ``create_segment_map`` hands the matcher."""
    pos = tagged[tagged["frag_id"].notna() & (tagged["rec_type"] != "IDENT")]
    pos = pos.sort_values(["timestamp", "msgid"])
    g = pos.groupby("frag_id", sort=False)
    first, last = g.first(), g.last()
    ts_us = lambda s: s.to_numpy("datetime64[us]").astype("int64")  # noqa: E731
    return pd.DataFrame(
        {
            "frag_id": first.index.to_numpy(),
            "date": first["timestamp"].dt.date.to_numpy(),
            "first_us": ts_us(first["timestamp"]),
            "last_us": ts_us(last["timestamp"]),
            "first_n_tok": first["n_tok"].to_numpy(),
            "last_n_tok": last["n_tok"].to_numpy(),
        }
    )


# ---------------------------------------------------------------------------
# Row-for-row oracle check of the written outputs
# ---------------------------------------------------------------------------


def _read(out_dir: str, name: str, keys) -> list[dict]:
    dataset = ds.dataset(os.path.join(out_dir, name), format="parquet")
    table = dataset.to_table(filter=ds.field("doc_id").isin(list(keys)))
    cols = []
    for field in table.schema:
        col = table[field.name]
        if pa.types.is_timestamp(field.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col)
    return pa.table(cols, names=table.column_names).to_pylist()


def _naive(ts):
    return ts.replace(tzinfo=None)


def _counted(arr):
    return tuple((i["value"], i["count"]) for i in arr or [])


def _views(tagged, fragments, segmap, segments) -> dict[str, dict]:
    """Comparable per-key views of the four outputs."""
    out: dict[str, dict] = {}

    def key(doc_id):
        return out.setdefault(
            doc_id, {"tagged": set(), "fragments": set(), "segmap": set(), "segments": set()}
        )

    for r in tagged:
        key(r["doc_id"])["tagged"].add(
            (r["msgid"], r["frag_id"], r["seg_id"], tuple(r["tokens"] or ()))
        )
    for r in fragments:
        key(r["doc_id"])["fragments"].add(
            (
                r["frag_id"],
                r["seg_id"],
                r["msg_count"],
                _naive(r["first_msg_timestamp"]),
                _naive(r["last_msg_timestamp"]),
                r["first_msg_n_tok"],
                r["last_msg_n_tok"],
                _counted(r["identities"]),
                _counted(r["destinations"]),
            )
        )
    for r in segmap:
        key(r["doc_id"])["segmap"].add((str(r["date"]), r["seg_id"], r["frag_id"]))
    for r in segments:
        key(r["doc_id"])["segments"].add(
            (
                r["seg_id"],
                r["frag_id"],
                _naive(r["timestamp"]),
                _naive(r["first_timestamp"]),
                r["daily_msg_count"],
                r["cumulative_msg_count"],
                *(
                    _counted(r[c])
                    for c in (
                        "daily_identities",
                        "cumulative_identities",
                        "daily_destinations",
                        "cumulative_destinations",
                    )
                ),
            )
        )
    return out


def check_keys(out_dir: str, records: list[dict], keys) -> tuple[int, list[str]]:
    """Compare the job's four outputs for ``keys`` row for row, token
    arrays included, with ``oracle.run_pipeline`` on those keys' records
    (keys are independent, so a sample is a valid check). Returns
    (keys compared, keys that differ)."""
    keys = sorted(keys)
    mine = [r for r in records if r["doc_id"] in set(keys)]
    want = oracle.run_pipeline(mine, DEFAULT_PARAMS)
    expected = _views(
        want["tagged_records"], want["fragments"], want["segmap"], want["segments"]
    )
    got = _views(*(_read(out_dir, n, keys) for n in ("messages", "fragments", "segmap", "segments")))
    bad = [k for k in keys if got.get(k) != expected.get(k)]
    return len(keys), bad
