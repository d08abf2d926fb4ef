"""Open-loop stream workload: ``stream_paced``.

The events table is cut into ``CHUNKS`` chronological parquet files and
staged outside the watched directory.  Three Structured Streaming faces
read the watched directory with ``maxFilesPerTrigger=1`` and noop sinks:
``streaming.stedi.join_risk`` (JVM stream-stream join; both of its sides
are filters of one file stream, so a chunk reaches both sides in the
same micro-batch), ``gap_fill_stateful`` and ``transition_stateful``
(``applyInPandasWithState``).

The first ``WARM_CHUNKS`` files are moved in during set-up and drained.
A generator thread then moves one file per arrival, at seeded due times
spread evenly over ``--seconds``, whether or not the faces keep up.
Latency is measured from a chunk's due time to the end of the
micro-batch that consumed it; the chunk of each batch is read from the
file source's own log in the checkpoint, not inferred by counting.
Because every micro-batch takes exactly one file, the state counters do
not depend on timing and are checked exactly.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import random
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import median, percentile, stage_totals

FACES = ("join_risk", "gap_fill", "transition")
#: Scale of the streamed events table: 1 000 events over 15 users.
STREAM_SF = 0.001
CHUNKS = 20
#: Drained during set-up; the other 15 arrive in the window, one every
#: ``seconds / 15`` (1.73 s at 26 s).  That period leaves room for a data
#: batch plus the no-data batch the join runs after it to move its
#: watermark, so an arrival rarely waits behind that no-data batch.
WARM_CHUNKS = 5
#: One shuffle partition per stateful operator: the state holds at most
#: 15 keys, and every extra partition adds a state-store commit per batch.
STREAM_PARTITIONS = 1
DRAIN_TIMEOUT_S = 60.0
OVERHEAD_PHASES = ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def stage(root: str) -> tuple[str, str, list[str]]:
    """Write the chunk files under ``root/staging``; returns the staging
    dir, the (empty) watched dir and the chunk file names in order."""
    staging, watched = os.path.join(root, "staging"), os.path.join(root, "watched")
    os.makedirs(staging)
    os.makedirs(watched)
    events = gen.tables(STREAM_SF)["events"].sort_by([("ts", "ascending"), ("event_id", "ascending")])
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    names, base, start = [], time.time() - 3600, 0
    for i, rows in enumerate(np.array_split(np.arange(events.num_rows), CHUNKS)):
        name = f"chunk_{i:03d}.parquet"
        path = os.path.join(staging, name)
        pq.write_table(events.slice(start, len(rows)), path)
        start += len(rows)
        # the file source orders a backlog by modification time
        os.utime(path, (base + i, base + i))
        names.append(name)
    return staging, watched, names


def start_faces(spark, staging: str, watched: str, ckpt_root: str) -> dict:
    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.streaming.sources import file_stream
    from udacity_dsnd_projects_spark.streaming.stateful import (
        gap_fill_stateful,
        transition_stateful,
    )
    from udacity_dsnd_projects_spark.streaming.stedi import join_risk

    schema = spark.read.parquet(os.path.join(staging, "chunk_000.parquet")).schema

    def source():
        return file_stream(spark, watched, schema)

    events = source()
    risks = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("customer"),
        F.col("value").alias("score"),
        F.col("ts").alias("risk_event_ts"),
    )
    custs = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("email"), F.col("ts").alias("event_ts")
    )
    frames = {
        "join_risk": (
            join_risk(risks, custs, watermarks=("risk_event_ts", "event_ts"), delay="1 hour"),
            "append",
        ),
        "gap_fill": (gap_fill_stateful(source()), "update"),
        "transition": (transition_stateful(source()), "append"),
    }
    return {
        face: df.writeStream.format("noop")
        .outputMode(mode)
        .queryName(face)
        .option("checkpointLocation", os.path.join(ckpt_root, face))
        .start()
        for face, (df, mode) in frames.items()
    }


def consumed_files(ckpt: str) -> dict[str, int]:
    """File name -> file-source log offset, from the checkpoint's
    ``sources/0`` log (plain and compacted entries)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _as_dict(progress) -> dict:
    return json.loads(progress.json) if hasattr(progress, "json") else progress


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _offset(o) -> int:
    if o is None:
        return -1
    return int((json.loads(o) if isinstance(o, str) else o)["logOffset"])


def wait_consumed(queries, ckpt_root: str, names: list[str], timeout: float) -> bool:
    """Wait until every face's file log holds every name in ``names``
    and its last batch has committed."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        done = True
        for face, q in queries.items():
            if q.exception() is not None:
                return False
            files = consumed_files(os.path.join(ckpt_root, face))
            if any(n not in files for n in names) or q.status["isTriggerActive"]:
                done = False
        if done:
            return True
        time.sleep(0.05)
    return False


def run(ctx) -> dict:
    root = ctx.tmp
    with ctx.tracer.span("bench.stage"):
        staging, watched, names = stage(root)
    ckpt_root = os.path.join(root, "ckpt")
    warm, timed_names = names[:WARM_CHUNKS], names[WARM_CHUNKS:]
    queries = start_faces(ctx.spark, staging, watched, ckpt_root)
    attempted = failed = 0
    mismatches: dict[str, object] = {}
    arrivals: list[dict] = []
    try:
        for name in warm:
            os.replace(os.path.join(staging, name), os.path.join(watched, name))
        if not wait_consumed(queries, ckpt_root, warm, DRAIN_TIMEOUT_S):
            raise RuntimeError("stream faces did not drain the warm-up chunks")
        warm_batches = {face: _as_dict(q.lastProgress)["batchId"] for face, q in queries.items()}

        rng = random.Random(ctx.seed)
        period = ctx.seconds / len(timed_names)
        ctx.mark_setup_done()
        t0 = ctx.tracer.now()
        due = [t0 + (i + 0.5 + rng.uniform(-0.1, 0.1)) * period for i in range(len(timed_names))]

        def generate():
            for name, when in zip(timed_names, due):
                time.sleep(max(0.0, when - ctx.tracer.now()))
                os.replace(os.path.join(staging, name), os.path.join(watched, name))
                arrivals.append({"name": name, "due": when, "arrived": ctx.tracer.now()})

        gen_thread = threading.Thread(target=generate, name="chunk-generator")
        gen_thread.start()
        gen_thread.join()
        drained = wait_consumed(queries, ckpt_root, timed_names, DRAIN_TIMEOUT_S)
        if drained:
            for q in queries.values():
                q.processAllAvailable()
        progress = {face: [_as_dict(p) for p in q.recentProgress] for face, q in queries.items()}
        errors = {face: str(q.exception()) for face, q in queries.items() if q.exception()}
    finally:
        for q in queries.values():
            q.stop()

    samples: dict[str, list[dict]] = {}
    arrived = {a["name"]: a for a in arrivals}
    for face in FACES:
        log = consumed_files(os.path.join(ckpt_root, face))
        by_offset = {off: name for name, off in log.items()}
        rows = []
        for p in progress[face]:
            if p["batchId"] <= warm_batches[face]:
                continue
            src = p["sources"][0]
            for off in range(_offset(src["startOffset"]) + 1, _offset(src["endOffset"]) + 1):
                name = by_offset.get(off)
                if name in arrived:
                    start = _epoch(p["timestamp"])
                    end = start + p["durationMs"]["triggerExecution"] / 1000
                    a = arrived[name]
                    rows.append({
                        "name": name,
                        "latency": end - a["due"],
                        "queue_wait": max(0.0, start - a["arrived"]),
                        "start": start,
                        "end": end,
                    })
        samples[face] = rows

    counters = {face: face_counters(progress[face]) for face in FACES}
    expected = ctx.expected["stream"]
    for face in FACES:
        missing = len(timed_names) - len(samples[face])
        attempted += len(timed_names)
        failed += missing
        for key in ("output_rows", "rows_peak"):
            attempted += 1
            if counters[face][key] != expected.get(face, {}).get(key):
                failed += 1
                mismatches[f"{face}.{key}"] = counters[face][key]
    for face, err in errors.items():
        failed += 1
        mismatches[f"{face}.exception"] = err[:200]
    if not drained:
        mismatches["drain"] = "timed out"

    lat = [r["latency"] for face in FACES for r in samples[face]]
    triggers = [
        p["durationMs"].get("triggerExecution", 0) / 1000
        for face in FACES for p in progress[face]
        if p["batchId"] > warm_batches[face] and p["numInputRows"] > 0
    ]
    e2e = {
        "pass_s_p50": (median(triggers), len(triggers)),
        "latency_s_p50": (percentile(lat, 50) if lat else 0.0, len(lat)),
        "latency_s_p75": (percentile(lat, 75) if lat else 0.0, len(lat)),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "mismatches": mismatches,
        "e2e": e2e,
        "samples_s": {
            "trigger": [round(t, 4) for t in triggers],
            "latency": [round(x, 4) for x in sorted(lat)],
        },
        "progress": progress,
        "warm_batches": warm_batches,
        "samples": samples,
        "arrivals": arrivals,
        "counters": counters,
        "window": (t0, max((r["end"] for face in FACES for r in samples[face]), default=t0)),
    }


def face_counters(progress: list[dict]) -> dict:
    """The exact counters of one face over the whole run."""
    return {
        "output_rows": sum(p["sink"]["numOutputRows"] for p in progress),
        "rows_peak": max(
            (sum(o["numRowsTotal"] for o in p["stateOperators"]) for p in progress), default=0
        ),
    }


def layers(ctx, result: dict, log: dict) -> dict:
    out: dict[str, float] = {}
    for face in FACES:
        ps = [p for p in result["progress"][face] if p["batchId"] > result["warm_batches"][face]]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in ps if p["numInputRows"] > 0]
        ops = [p["stateOperators"] for p in ps]
        out[f"streaming.{face}.batches"] = len(ps)
        out[f"streaming.{face}.trigger_s_p50"] = median(trig)
        out[f"streaming.{face}.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in ps) / 1000
        out[f"streaming.{face}.overhead_s"] = (
            sum(p["durationMs"].get(k, 0) for p in ps for k in OVERHEAD_PHASES) / 1000
        )
        out[f"streaming.{face}.queue_wait_s_p50"] = median([r["queue_wait"] for r in result["samples"][face]])
        out[f"streaming.{face}.output_rows"] = result["counters"][face]["output_rows"]
        out[f"state.{face}.rows_peak"] = result["counters"][face]["rows_peak"]
        out[f"state.{face}.all_updates_s"] = sum(o.get("allUpdatesTimeMs", 0) for op in ops for o in op) / 1000
        out[f"state.{face}.commit_s"] = sum(o.get("commitTimeMs", 0) for op in ops for o in op) / 1000
        out[f"state.{face}.memory_bytes_peak"] = max(
            (sum(o.get("memoryUsedBytes", 0) for o in op) for op in ops), default=0
        )
    backlog = 0
    for face in FACES:
        ends = sorted(r["end"] for r in result["samples"][face])
        for a in result["arrivals"]:
            backlog = max(backlog, sum(1 for b in result["arrivals"] if b["arrived"] <= a["arrived"])
                          - sum(1 for e in ends if e <= a["arrived"]))
    out["streaming.backlog_files_max"] = backlog
    out["generator.late_s_max"] = max((a["arrived"] - a["due"] for a in result["arrivals"]), default=0.0)
    out["generator.arrivals"] = len(result["arrivals"])
    lo, hi = result["window"]
    jobs = [j for j, job in log["jobs"].items() if lo <= job["start"] <= hi]
    from batch import exec_layers

    out.update(exec_layers(stage_totals(log, jobs), 1, hi - lo, ctx.cores))
    return out
