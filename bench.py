#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "legacy17_sec": N, "sf": ...}

``value`` is the total wall-clock of ALL headline queries (each executed
to completion via a count-style action that forces the full plan).
``legacy17_sec`` is the subtotal over the original 17-query set benched
unchanged since round 2 — the number the r2→r8 ratchet lineage (and the
regression floor below) is measured against, so widening the headline
set never breaks round-over-round comparability.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Round-5 recorded total (BENCH_r05.json, sf 0.1, local[32] on the
#: driver's 32-core/128GiB box) — the regression floor, ratcheted each
#: round to the newest driver-recorded total over the SAME 17-query
#: best-of-2 methodology (r2: 20.1912s → r3: 17.6925s → r4: 13.7779s →
#: r5: 13.64s; r6–r8 driver totals 14.46/10.57/10.53s are recorded in
#: BASELINE.md's lineage row but the hard floor stays at the r5 value —
#: the r7/r8 lows are within the documented ±15% machine-load noise).
#: Since round 9 the floor applies to ``legacy17_sec`` (the unchanged
#: 17-query subtotal), NOT ``value`` (which now also covers the post-r2
#: heavy families). `tests/test_bench_floor.py` fails the suite if a
#: fresh run's legacy17 subtotal exceeds 2× this; BASELINE.md "Engine
#: bench targets". Machine-specific: on slower hardware set
#: SPARK_GRAFT_BENCH_FLOOR to that box's recorded subtotal instead.
BENCH_FLOOR_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_FLOOR", "13.64"))

#: Floor for the STREAM section subtotal (every ``*_sec`` value in the
#: output's ``stream`` dict, including the join_risk replay's ``sec``)
#: — added in round 13 after the r12 driver reading inflated ~4×
#: (join_risk replay 29.4→126 s) with bit-identical state counters:
#: stream regressions are gated at 3× this floor — wider than the
#: batch section's 2× because every stream number is a SINGLE-SHOT
#: replay (no best-of-2 to shed a cold run), so scheduler noise lands
#: undamped (`tests/test_bench_floor.py`). RE-BASED in round 15
#: (VERDICT r14 task 2): the old 66.49 s floor was a 32-partition-era
#: minimum over SEVEN faces; the section now runs state-sized
#: partitions (STREAM_SHUFFLE_PARTITIONS=8) and gained an eighth face
#: (``chunk_screen``), and a full-trough round-15 reading landed the
#: whole section inside one quiet window: join_risk 12.77 + gap_fill
#: 13.56 + transition 12.86 + strip_index 3.64 + dedup 2.14 +
#: substring 3.65 + token_budget 2.93 + chunk_screen 3.31 = 54.87 s
#: at sf 0.1, local[32], every state counter bit-identical. Quiet-epoch
#: distribution under the new config/composition: {54.87, 76.36,
#: 80.57, 82.40} with loaded excursions 130.6/228.0 (counters exact —
#: environment; the gate's one-retry allowance exists for those);
#: BASELINE.md lineage.
STREAM_FLOOR_SEC = float(os.environ.get("SPARK_GRAFT_STREAM_FLOOR", "54.87"))

#: Shuffle partitions for the STREAM section only. A stateful
#: streaming query pays per-micro-batch fixed cost proportional to
#: partitions × state stores (a stream-stream join maintains FOUR
#: stores per partition; every one is snapshotted/committed each
#: batch even when near-empty), so `spark.sql.shuffle.partitions`
#: for a streaming query must be sized to STATE VOLUME, never
#: inherited from the batch-tuned session default. At the bench's
#: ~4k peak state rows, 32 partitions is pure store-commit overhead:
#: measured 132.9 s vs 14.1 s (32 vs 8 partitions, same quiet-window
#: A/B, bit-identical counters 4162/700/11) — and the overhead is
#: what scheduler contention amplifies, which explains every hot
#: join_risk excursion in the lineage (29.9 s quiet → 126-130 s
#: loaded at 32 partitions). At 100 TB the SAME sizing rule points
#: the other way: thousands of partitions, because state volume —
#: not CPU count — sets the number. Batch queries keep the session
#: default (32): their shuffles carry real data.
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
)


def stream_total_sec(stream: dict) -> float:
    """The stream-section subtotal the floor gates: every wall-clock
    reading in the ``stream`` dict (state counters excluded)."""
    return round(
        sum(
            v
            for k, v in stream.items()
            if k == "sec" or k.endswith("_sec")
        ),
        4,
    )

#: The original headline set, benched unchanged since round 2 — keep
#: frozen so `legacy17_sec` stays comparable across every recorded
#: round (one per §2 category rather than every micro-query).
LEGACY17: tuple[str, ...] = (
    "risk_join",
    "pricing_summary",
    "revenue_by_nation",
    "top_unshipped_orders",
    "hourly_event_rollup",
    "join_asof",
    "latest_per_key",
    "sessionize",
    "minhash_lsh_pairs",
    "exact_dedup",
    "simhash_near_dup_pairs",
    "cosine_topk_bruteforce",
    "cosine_topk_ivf",
    "quality_score",
    # round-2 scale additions: bucketed range join, iterative graph,
    # sub-document dedup
    "interval_count_join",
    "trade_pagerank",
    "passage_dedup",
)

#: Round-9 additions (VERDICT r8 task 1): the heavy post-r2 families
#: that were registry-only until now — semantic/near-dup clustering,
#: kNN graph construction, inverted-index retrieval, snapshot-dedup,
#: multi-pass exact ranking, and the pair-explosion basket rollup.
#: Timed the same way; counted in ``value`` but NOT in ``legacy17_sec``.
ROUND9_ADDITIONS: tuple[str, ...] = (
    "semantic_dedup",
    "knn_graph",
    "bm25_search",
    "incremental_dedup",
    "customer_rfm",
    "market_basket_pairs",
)

#: Round-10 additions: the heavy new operator families — the MOSS
#: winnowing match stage (capped inverted-index self-join over the
#: winnowed fingerprint index), the per-stratum quality-distribution
#: EMD gate (regex-heavy scoring scan + grid machinery), and the
#: embedding-space contamination gate (broadcast benchmark cross
#: score + per-vector argmax). Counted in ``value``, NOT in
#: ``legacy17_sec``.
ROUND10_ADDITIONS: tuple[str, ...] = (
    "winnowing_overlap_pairs",
    "quality_drift_report",
    "semantic_contamination",
)

#: Round-11 additions: the heaviest curation ACTION not yet benched —
#: batch boilerplate_strip (chunk-hash doc-frequency + md5-verified
#: text reconstruction; its incremental face is already timed as the
#: crawl-loop ``strip_index`` stream section) — and winnowing_strip
#: (the MOSS action face: capped match stage → connected components →
#: quality-keeper argmax). Counted in ``value``, NOT ``legacy17_sec``.
ROUND11_ADDITIONS: tuple[str, ...] = (
    "boilerplate_strip",
    "winnowing_strip",
)

#: Round-12 additions: the closed tokenizer-induction loop end-to-end
#: (bpe_apply_merges runs the 10-round learn loop on the vocab frame
#: AND the merge-aware corpus re-tokenization — the heaviest new
#: iterative job) and markup_strip (the markup action face: a pure
#: codegen regexp projection, benched as the family's scan-rate
#: canary). Counted in ``value``, NOT ``legacy17_sec``.
ROUND12_ADDITIONS: tuple[str, ...] = (
    "bpe_apply_merges",
    "markup_strip",
)

#: Round-13 additions: the BPE consumer closing the loop to the
#: training artifact — within-document chunking on merge-aware unit
#: budgets (row-local prefix-sum + chunk rollup, zero exchanges).
#: Counted in ``value``, NOT ``legacy17_sec``. NOTE: the learn loop is
#: memoized per (applicationId, vocab plan) since round 13, so under
#: best-of-2 every BPE face's number measures ITS OWN plan (the apply/
#: chunk scan). The one-time training cost is EXCLUDED from every
#: headline number entirely: whichever BPE query runs first pays it in
#: its first (cold) run, and min() keeps the warm second run. Pre-r13
#: BPE numbers included per-face training, so they are not directly
#: comparable across the r12→r13 boundary (BASELINE.md lineage note).
ROUND13_ADDITIONS: tuple[str, ...] = ("bpe_encode_chunks",)

#: Round-14 addition: the training writer — deduped chunks packed into
#: unit bins (chunk construction + hash-groupBy dedup + distributed
#: prefix-sum). Counted in ``value``, NOT ``legacy17_sec``; same
#: warm-learn measurement semantics as the other BPE faces.
ROUND14_ADDITIONS: tuple[str, ...] = ("pack_deduped_chunks",)

#: Round-15 addition: the chunk spine's ordering policy — packed bins
#: ranked by longest sequence into NTILE curriculum phases via the
#: distributed exact-rank primitive (two rank passes over the
#: one-row-per-bin rollup). Counted in ``value``, NOT ``legacy17_sec``;
#: same warm-learn measurement semantics as the other BPE faces.
ROUND15_ADDITIONS: tuple[str, ...] = ("curriculum_pack_order",)

#: Queries timed by the bench. Grows as the registry grows; keep this
#: the set of headline operators rather than every micro-query, so the
#: number stays interpretable.
HEADLINE: tuple[str, ...] = (
    LEGACY17
    + ROUND9_ADDITIONS
    + ROUND10_ADDITIONS
    + ROUND11_ADDITIONS
    + ROUND12_ADDITIONS
    + ROUND13_ADDITIONS
    + ROUND14_ADDITIONS
    + ROUND15_ADDITIONS
)


def _sf_from_dir(d: str) -> float:
    name = Path(d).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


#: Extra session conf for the bench ONLY: the status UI (ephemeral
#: port) so per-query work counters can be read back. Counters are
#: DIAGNOSTIC — they separate environment noise from plan changes
#: (executorCpuTime and task counts are deterministic per plan where
#: wall-clock on this box swings ±40% with ambient load; VERDICT r15
#: task 7). They ride the output JSON as ADDITIVE top-level keys
#: (``queries_cpu_sec``/``queries_tasks``); the timed action, query
#: set, best-of-2 methodology and every pre-existing key are
#: unchanged. retainedStages is raised so cumulative sums never lose
#: evicted stages mid-diff.
BENCH_UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedStages": "20000",
}


def _work_snapshot(spark) -> tuple[float, int] | None:
    """Cumulative (executor CPU seconds, completed tasks) over all
    retained completed stages, via the status REST API. Returns None
    (and the bench emits no counter dicts) if the UI is unavailable —
    the driver contract never depends on this."""
    import urllib.request

    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    try:
        base = f"{url}/api/v1"
        apps = json.load(urllib.request.urlopen(f"{base}/applications", timeout=5))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/applications/{app_id}/stages?status=complete", timeout=5
            )
        )
        return (
            sum(s["executorCpuTime"] for s in stages) / 1e9,
            sum(s["numCompleteTasks"] for s in stages),
        )
    except Exception:
        return None


#: Stream micro-bench replay shape: events split into this many
#: chronological micro-batches (one file per trigger), so the watermark
#: advances ~3 days of event time per batch and join state is evicted
#: between batches. Peak state is the regression metric: a change that
#: breaks eviction (losing the range predicate, or a watermark on only
#: one side) shows up as peak_state_rows jumping toward the full
#: stream size, the way a slow plan shows up in runtime.
STREAM_CHUNKS = 10
STREAM_DELAY = "1 hour"


def _ts_chunk_edges(df, n: int) -> list[float]:
    """Quantile boundaries of ``ts`` (unix micros) splitting ``df`` into
    ``n`` chronological chunks."""
    bounds = df.selectExpr(
        f"percentile(unix_micros(ts), array({', '.join(str((i + 1) / n) for i in range(n - 1))})) AS b"
    ).collect()[0]["b"]
    return [float("-inf")] + list(bounds) + [float("inf")]


def _write_chunks(df, edges: list[float], dest: str) -> None:
    """Write one parquet FILE per chronological chunk with
    lexicographically-increasing names AND strictly-increasing mtimes.

    Spark's FileStreamSource orders pending files by (modification
    time, path); relying on write-order mtimes alone breaks on
    coarse-granularity filesystems (two chunks landing in the same
    mtime tick could replay out of order and perturb the peak-state
    metric). Deterministic names + explicit ``os.utime`` make the
    replay order a property of the data, not the filesystem.
    """
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    base = time.time() - 3600
    for i in range(len(edges) - 1):
        tmp = f"{dest}__tmp"
        df.filter(
            (F.unix_micros("ts") > edges[i]) & (F.unix_micros("ts") <= edges[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        final = f"{dest}/chunk_{i:03d}.parquet"
        os.replace(f"{tmp}/{part}", final)
        os.utime(final, (base + i, base + i))
        shutil.rmtree(tmp, ignore_errors=True)


def _peak_state(progresses) -> int:
    return max(
        (
            sum(op["numRowsTotal"] for op in p["stateOperators"])
            for p in progresses
            if p["stateOperators"]
        ),
        default=0,
    )


def _run_stream(df, output_mode: str = "append") -> tuple[list, float]:
    """Run a streaming frame to completion on a noop sink; return
    (recentProgress, wall seconds)."""
    t0 = time.perf_counter()
    q = df.writeStream.format("noop").outputMode(output_mode).start()
    try:
        q.processAllAvailable()
        progresses = list(q.recentProgress)
    finally:
        q.stop()
    return progresses, round(time.perf_counter() - t0, 4)


def stream_state_bench(spark) -> dict:
    """Replay the corpus events through the stateful streaming faces and
    record peak state rows + wall-clock for each.

    1. ``join_risk`` — the DEFAULT (watermarked) stream-stream join:
       view events (customer/score side) join purchase events (email
       side) on user id within ±STREAM_DELAY event time. Bounded-state
       is the regression metric (see STREAM_CHUNKS note).
    2. ``gap_fill_stateful`` / ``transition_stateful`` — the
       applyInPandasWithState faces, each holding O(distinct users)
       state; peak state rows catch a regression that stops clearing
       or starts over-keying state (e.g. keying by (user, hour)).

    All replays are file streams over chronologically-chunked parquet
    (maxFilesPerTrigger=1, deterministic chunk order — see
    :func:`_write_chunks`), so state grows and drains across
    STREAM_CHUNKS micro-batches the way it would against a live
    source, and per-user event time is non-decreasing across batches
    (the stateful faces' documented contract)."""
    import tempfile

    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.sources.catalog import load_table
    from udacity_dsnd_projects_spark.streaming.sources import file_stream
    from udacity_dsnd_projects_spark.streaming.stateful import (
        gap_fill_stateful,
        transition_stateful,
    )
    from udacity_dsnd_projects_spark.streaming.stedi import join_risk

    ev = load_table(spark, "events", SF_DIR)
    root = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        edges = _ts_chunk_edges(ev, STREAM_CHUNKS)
        for side, etype in (("risk", "view"), ("cust", "purchase")):
            _write_chunks(
                ev.filter(F.col("event_type") == etype), edges, f"{root}/{side}"
            )
        _write_chunks(ev, edges, f"{root}/all")

        schema = ev.schema
        risks = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(f"{root}/risk")
            .select(
                F.col("user_id").alias("customer"),
                F.col("value").alias("score"),
                F.col("ts").alias("risk_event_ts"),
            )
        )
        custs = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(f"{root}/cust")
            .select(
                F.col("user_id").alias("email"),
                F.col("ts").alias("event_ts"),
            )
        )
        joined = join_risk(
            risks,
            custs,
            watermarks=("risk_event_ts", "event_ts"),
            delay=STREAM_DELAY,
        )
        progresses, elapsed = _run_stream(joined)
        out = {
            "join_risk_peak_state_rows": _peak_state(progresses),
            "join_risk_output_rows": int(
                sum(p["sink"]["numOutputRows"] for p in progresses)
            ),
            "micro_batches": len(progresses),
            "sec": elapsed,
        }

        # pandas stateful faces over the same chronological replay
        all_stream = file_stream(spark, f"{root}/all", schema)
        for name, face, mode in (
            ("gap_fill", gap_fill_stateful, "update"),
            ("transition", transition_stateful, "append"),
        ):
            progresses, elapsed = _run_stream(face(all_stream), mode)
            out[f"{name}_peak_state_rows"] = _peak_state(progresses)
            out[f"{name}_sec"] = elapsed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _write_id_chunks(df, id_col: str, n: int, dest: str) -> None:
    """Write ``df`` as ``n`` parquet files bucketed by ``id_col % n``,
    with lexicographic names + explicit increasing mtimes (same
    deterministic-replay rationale as :func:`_write_chunks`; the
    documents table has no event-time column, so crawl batches are
    id-bucketed instead of chronological)."""
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    base = time.time() - 3600
    for i in range(n):
        tmp = f"{dest}__tmp"
        df.filter(F.col(id_col) % n == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        final = f"{dest}/chunk_{i:03d}.parquet"
        os.replace(f"{tmp}/{part}", final)
        os.utime(final, (base + i, base + i))
        shutil.rmtree(tmp, ignore_errors=True)


#: Crawl-loop replay shape: the "new crawl" half of the documents
#: table arrives in this many micro-batches.
CRAWL_CHUNKS = 5


def crawl_loop_bench(spark) -> dict:
    """Replay the incremental crawl-loop hot path (VERDICT r9 task 5):
    the corpus is split into a HISTORY half (even doc_ids — the
    snapshot a prior curation run published) and a NEW-CRAWL half (odd
    doc_ids) replayed as a file stream in CRAWL_CHUNKS micro-batches.

    1. ``strip_index`` — each micro-batch probes the PUBLISHED
       boilerplate index via ``foreachBatch(strip_against_index)``,
       exactly the composition the docstring prescribes; wall-clock
       catches an index-probe plan regression (e.g. losing the
       broadcast, or re-deriving chunk frequencies per batch).
    2. ``dedup_stream`` — ``incremental_dedup_stream`` against the
       snapshot hash table (stream-static left-anti join);
       peak-state rows pin the within-stream dedup state (bounded by
       the stream's distinct new hashes), output rows pin the
       truly-new count.
    3. ``substring_stream`` — ``substring_match_stream`` against the
       published winnowing index (stream-static probe, row-local
       containment scoring); output rows pin the flagged-pair count.
    4. ``token_budget`` / 5. ``chunk_screen`` — see inline notes: the
       shipped-tokenizer accounting replay and the chunk spine's
       ingest screen against the published keeper index.

    All static sides are read back from parquet, not reused as
    in-memory frames — at scale they are stored tables, and reading
    them back keeps the probe-side plan (pushdown, broadcast of the
    slim index) honest."""
    import tempfile

    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.functions.corpus import (
        boilerplate_index_for,
        strip_against_index,
    )
    from udacity_dsnd_projects_spark.functions.dedup import (
        winnowing_index_for,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table
    from udacity_dsnd_projects_spark.streaming.sources import file_stream
    from udacity_dsnd_projects_spark.streaming.stateful import (
        incremental_dedup_stream,
        substring_match_stream,
    )

    docs = load_table(spark, "documents", SF_DIR)
    root = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)
        boilerplate_index_for(hist).write.parquet(f"{root}/index")
        hist.select(
            F.md5(F.col("text").cast("binary")).alias("content_md5")
        ).distinct().write.parquet(f"{root}/hashes")
        winnowing_index_for(hist).write.parquet(f"{root}/winnow")
        _write_id_chunks(new, "doc_id", CRAWL_CHUNKS, f"{root}/new")

        index = spark.read.parquet(f"{root}/index")
        hashes = spark.read.parquet(f"{root}/hashes")
        winnow = spark.read.parquet(f"{root}/winnow")
        out: dict = {}

        t0 = time.perf_counter()
        q = (
            file_stream(spark, f"{root}/new", docs.schema)
            .writeStream.foreachBatch(
                lambda b, _: strip_against_index(b, index)
                .selectExpr("sum(hash(*)) AS h")
                .collect()
            )
            .start()
        )
        try:
            q.processAllAvailable()
            out["strip_index_micro_batches"] = len(q.recentProgress)
        finally:
            q.stop()
        out["strip_index_sec"] = round(time.perf_counter() - t0, 4)

        deduped = incremental_dedup_stream(
            file_stream(spark, f"{root}/new", docs.schema), hashes
        )
        progresses, elapsed = _run_stream(deduped)
        out["dedup_stream_peak_state_rows"] = _peak_state(progresses)
        out["dedup_stream_output_rows"] = int(
            sum(p["sink"]["numOutputRows"] for p in progresses)
        )
        out["dedup_stream_sec"] = elapsed

        matched = substring_match_stream(
            file_stream(spark, f"{root}/new", docs.schema), winnow
        )
        progresses, elapsed = _run_stream(matched)
        out["substring_stream_output_rows"] = int(
            sum(p["sink"]["numOutputRows"] for p in progresses)
        )
        out["substring_stream_sec"] = elapsed

        # 4. ``token_budget`` — merge-aware token accounting under the
        #    SHIPPED tokenizer (merges learned on the history half —
        #    the published artifact), replayed over the same crawl
        #    chunks. Peak state pins the bounded per-source aggregation
        #    (source cardinality, NOT corpus size); wall-clock catches
        #    a regression in the baked replace-chain projection.
        from udacity_dsnd_projects_spark.functions.text import (
            _bpe_vocab,
            _learn_merges,
        )
        from udacity_dsnd_projects_spark.streaming.monitor import (
            token_budget_stream,
        )

        merges = _learn_merges(_bpe_vocab(hist))
        budget = token_budget_stream(
            file_stream(spark, f"{root}/new", docs.schema), merges
        )
        progresses, elapsed = _run_stream(budget, "update")
        out["token_budget_peak_state_rows"] = _peak_state(progresses)
        out["token_budget_sec"] = elapsed

        # 5. ``chunk_screen`` — the chunk spine's ingest boundary
        #    (VERDICT r14 task 3): each arriving crawl doc is cut into
        #    training chunks the moment it lands (encode_chunks_stream,
        #    stateless row-local folds) and screened against the
        #    PUBLISHED keeper hash index (chunk_dedup_stream —
        #    within-stream dedup + stream-static anti-join). Output
        #    rows pin the never-seen-chunk count, peak state pins the
        #    within-stream dedup store (bounded by the stream's
        #    distinct chunk hashes). The index is read back from
        #    parquet like every other static side, keeping the slim
        #    probe plan honest.
        from udacity_dsnd_projects_spark.functions.text import (
            chunk_dedup_frame,
            encode_chunks_frame,
        )
        from udacity_dsnd_projects_spark.streaming.monitor import (
            encode_chunks_stream,
        )
        from udacity_dsnd_projects_spark.streaming.stateful import (
            chunk_dedup_stream,
        )

        chunk_dedup_frame(encode_chunks_frame(hist, merges)).select(
            "chunk_hash"
        ).write.parquet(f"{root}/keepers")
        keepers = spark.read.parquet(f"{root}/keepers")
        screened = chunk_dedup_stream(
            encode_chunks_stream(
                file_stream(spark, f"{root}/new", docs.schema), merges
            ),
            keepers,
        )
        progresses, elapsed = _run_stream(screened)
        out["chunk_screen_peak_state_rows"] = _peak_state(progresses)
        out["chunk_screen_output_rows"] = int(
            sum(p["sink"]["numOutputRows"] for p in progresses)
        )
        out["chunk_screen_sec"] = elapsed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def stream_main() -> None:
    """``python bench.py --stream-only``: just the stream section,
    same session/warmup/partition scoping as :func:`main` — the
    section alone is ~70-110 s wall, short enough to fit this box's
    2-4 minute external-load troughs where the 8-minute full bench
    never can, which is how the round-15 floor re-base caught its
    full-quiet 54.87 s reading (BASELINE.md lineage). Prints ONE JSON
    line: the ``stream`` dict plus ``wall_sec``. The no-argument
    driver contract (one headline JSON line) is untouched."""
    from udacity_dsnd_projects_spark import registry
    from udacity_dsnd_projects_spark.session import get_spark

    spark = get_spark("engine-bench-stream")
    qs = registry.queries()
    for w in ("risk_join", "minhash_lsh_pairs", "simhash_near_dup_pairs"):
        if w in qs:
            qs[w](spark, "/root/testdata/sf0.001").count()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )
    t0 = time.perf_counter()
    try:
        stream = {**stream_state_bench(spark), **crawl_loop_bench(spark)}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    stream["stream_total_sec"] = stream_total_sec(stream)
    stream["wall_sec"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(stream))
    spark.stop()


def overlap_summary(faces: dict, wall_sec: float) -> dict:
    """The ``--stream-overlap`` headline keys for the merged per-face
    results ``faces``: the overlapped wall, and the sequential
    equivalent — the sum of the faces' own ``*_sec`` keys, taken
    before the overlap wall joins the dict so it is never counted in
    its own baseline."""
    return {
        "overlap_wall_sec": round(wall_sec, 2),
        "sequential_equiv_sec": stream_total_sec(faces),
    }


def stream_overlap_main() -> None:
    """``python bench.py --stream-overlap``: ADDITIVE mode (guide §2.6
    job-overlap; VERDICT r15 task 8) — the eight stream replay faces
    run as OVERLAPPING jobs from a small thread pool, so one face's
    micro-batch scheduling gaps and startup are back-filled by another
    face's tasks instead of leaving the box idle. The default driver
    contract (sequential faces inside ``main``/``stream_main``) is
    UNTOUCHED; this mode exists to measure how much of the sequential
    section total is per-face dead time. Per-face ``*_sec`` values
    here are CONTENDED walls (not comparable to sequential mode);
    ``overlap_wall_sec`` — setup excluded — is the headline. State
    counters must stay bit-identical to the sequential mode (each
    face's replay is independent); they are printed for the gate.
    Prints ONE JSON line."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark import registry
    from udacity_dsnd_projects_spark.functions.corpus import (
        boilerplate_index_for,
        strip_against_index,
    )
    from udacity_dsnd_projects_spark.functions.dedup import winnowing_index_for
    from udacity_dsnd_projects_spark.functions.text import (
        _bpe_vocab,
        _learn_merges,
        chunk_dedup_frame,
        encode_chunks_frame,
    )
    from udacity_dsnd_projects_spark.session import get_spark
    from udacity_dsnd_projects_spark.sources.catalog import load_table
    from udacity_dsnd_projects_spark.streaming.monitor import (
        encode_chunks_stream,
        token_budget_stream,
    )
    from udacity_dsnd_projects_spark.streaming.sources import file_stream
    from udacity_dsnd_projects_spark.streaming.stateful import (
        chunk_dedup_stream,
        gap_fill_stateful,
        incremental_dedup_stream,
        substring_match_stream,
        transition_stateful,
    )
    from udacity_dsnd_projects_spark.streaming.stedi import join_risk

    spark = get_spark("engine-bench-stream-overlap")
    qs = registry.queries()
    for w in ("risk_join", "minhash_lsh_pairs", "simhash_near_dup_pairs"):
        if w in qs:
            qs[w](spark, "/root/testdata/sf0.001").count()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )
    root = tempfile.mkdtemp(prefix="bench_overlap_")
    out: dict = {}
    try:
        # ---- setup (sequential, excluded from the headline wall) ----
        ev = load_table(spark, "events", SF_DIR)
        edges = _ts_chunk_edges(ev, STREAM_CHUNKS)
        for side, etype in (("risk", "view"), ("cust", "purchase")):
            _write_chunks(
                ev.filter(F.col("event_type") == etype), edges, f"{root}/{side}"
            )
        _write_chunks(ev, edges, f"{root}/all")
        docs = load_table(spark, "documents", SF_DIR)
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        new_dir = f"{root}/new"
        boilerplate_index_for(hist).write.parquet(f"{root}/index")
        hist.select(
            F.md5(F.col("text").cast("binary")).alias("content_md5")
        ).distinct().write.parquet(f"{root}/hashes")
        winnowing_index_for(hist).write.parquet(f"{root}/winnow")
        _write_id_chunks(
            docs.filter(F.col("doc_id") % 2 == 1), "doc_id", CRAWL_CHUNKS, new_dir
        )
        merges = _learn_merges(_bpe_vocab(hist))
        chunk_dedup_frame(encode_chunks_frame(hist, merges)).select(
            "chunk_hash"
        ).write.parquet(f"{root}/keepers")
        ev_schema, doc_schema = ev.schema, docs.schema
        index = spark.read.parquet(f"{root}/index")
        hashes = spark.read.parquet(f"{root}/hashes")
        winnow = spark.read.parquet(f"{root}/winnow")
        keepers = spark.read.parquet(f"{root}/keepers")

        # ---- face runners (each independent; counters as in main) ----
        def f_join_risk() -> dict:
            risks = (
                spark.readStream.format("parquet")
                .schema(ev_schema)
                .option("maxFilesPerTrigger", 1)
                .load(f"{root}/risk")
                .select(
                    F.col("user_id").alias("customer"),
                    F.col("value").alias("score"),
                    F.col("ts").alias("risk_event_ts"),
                )
            )
            custs = (
                spark.readStream.format("parquet")
                .schema(ev_schema)
                .option("maxFilesPerTrigger", 1)
                .load(f"{root}/cust")
                .select(
                    F.col("user_id").alias("email"),
                    F.col("ts").alias("event_ts"),
                )
            )
            joined = join_risk(
                risks,
                custs,
                watermarks=("risk_event_ts", "event_ts"),
                delay=STREAM_DELAY,
            )
            progresses, elapsed = _run_stream(joined)
            return {
                "join_risk_peak_state_rows": _peak_state(progresses),
                "join_risk_output_rows": int(
                    sum(p["sink"]["numOutputRows"] for p in progresses)
                ),
                "micro_batches": len(progresses),
                "sec": elapsed,
            }

        def f_gap_fill() -> dict:
            progresses, elapsed = _run_stream(
                gap_fill_stateful(file_stream(spark, f"{root}/all", ev_schema)),
                "update",
            )
            return {
                "gap_fill_peak_state_rows": _peak_state(progresses),
                "gap_fill_sec": elapsed,
            }

        def f_transition() -> dict:
            progresses, elapsed = _run_stream(
                transition_stateful(
                    file_stream(spark, f"{root}/all", ev_schema)
                ),
                "append",
            )
            return {
                "transition_peak_state_rows": _peak_state(progresses),
                "transition_sec": elapsed,
            }

        def f_strip_index() -> dict:
            t0 = time.perf_counter()
            q = (
                file_stream(spark, new_dir, doc_schema)
                .writeStream.foreachBatch(
                    lambda b, _: strip_against_index(b, index)
                    .selectExpr("sum(hash(*)) AS h")
                    .collect()
                )
                .start()
            )
            try:
                q.processAllAvailable()
                nb = len(q.recentProgress)
            finally:
                q.stop()
            return {
                "strip_index_micro_batches": nb,
                "strip_index_sec": round(time.perf_counter() - t0, 4),
            }

        def f_dedup_stream() -> dict:
            progresses, elapsed = _run_stream(
                incremental_dedup_stream(
                    file_stream(spark, new_dir, doc_schema), hashes
                )
            )
            return {
                "dedup_stream_peak_state_rows": _peak_state(progresses),
                "dedup_stream_output_rows": int(
                    sum(p["sink"]["numOutputRows"] for p in progresses)
                ),
                "dedup_stream_sec": elapsed,
            }

        def f_substring() -> dict:
            progresses, elapsed = _run_stream(
                substring_match_stream(
                    file_stream(spark, new_dir, doc_schema), winnow
                )
            )
            return {
                "substring_stream_output_rows": int(
                    sum(p["sink"]["numOutputRows"] for p in progresses)
                ),
                "substring_stream_sec": elapsed,
            }

        def f_token_budget() -> dict:
            progresses, elapsed = _run_stream(
                token_budget_stream(
                    file_stream(spark, new_dir, doc_schema), merges
                ),
                "update",
            )
            return {
                "token_budget_peak_state_rows": _peak_state(progresses),
                "token_budget_sec": elapsed,
            }

        def f_chunk_screen() -> dict:
            progresses, elapsed = _run_stream(
                chunk_dedup_stream(
                    encode_chunks_stream(
                        file_stream(spark, new_dir, doc_schema), merges
                    ),
                    keepers,
                )
            )
            return {
                "chunk_screen_peak_state_rows": _peak_state(progresses),
                "chunk_screen_output_rows": int(
                    sum(p["sink"]["numOutputRows"] for p in progresses)
                ),
                "chunk_screen_sec": elapsed,
            }

        faces = [
            f_join_risk,
            f_gap_fill,
            f_transition,
            f_strip_index,
            f_dedup_stream,
            f_substring,
            f_token_budget,
            f_chunk_screen,
        ]
        # 3 in flight: enough to back-fill micro-batch gaps, not so
        # many that the state stores fight for cores (guide §2.6)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=3) as pool:
            for result in pool.map(lambda f: f(), faces):
                out.update(result)
        out.update(overlap_summary(out, time.perf_counter() - t0))
        out["max_workers"] = 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    from udacity_dsnd_projects_spark import registry
    from udacity_dsnd_projects_spark.session import get_spark

    spark = get_spark("engine-bench", extra_conf=BENCH_UI_CONF)
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs] or sorted(qs)

    # Warm the JVM/session on the smallest corpus so JIT/codegen startup
    # isn't attributed to the first query of each family (relational,
    # text-hashing, embedding math exercise disjoint codepaths).
    # simhash_near_dup_pairs is in the list because it runs the
    # vectorized Pandas fingerprint face: the first Python stage of a
    # session forks every Python worker and imports numpy/pandas in
    # each — startup cost, not query cost.
    for w in (
        "risk_join",
        "minhash_lsh_pairs",
        "simhash_near_dup_pairs",
        "cosine_topk_bruteforce",
    ):
        if w in qs:
            qs[w](spark, "/root/testdata/sf0.001").count()

    # Best-of-2 per query: a single local[32] run is exposed to
    # scheduler/OS noise (observed ±50% on identical plans); the min of
    # two runs measures the plan, not the machine's mood. The action
    # still forces full execution of every operator (count() alone can
    # skip projections; summing a hash of all columns cannot).
    timings: dict[str, float] = {}
    cpu_sec: dict[str, float] = {}
    tasks: dict[str, int] = {}
    for name in names:
        w0 = _work_snapshot(spark)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.selectExpr("sum(hash(*)) AS h").collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        if w0 is not None:
            # outside the timed window: let the async status store
            # settle, then diff. Counters cover BOTH best-of-2 runs
            # (so ~2x one plan execution) — diagnostic, not a timing.
            time.sleep(0.4)
            w1 = _work_snapshot(spark)
            if w1 is not None:
                cpu_sec[name] = round(w1[0] - w0[0], 3)
                tasks[name] = int(w1[1] - w0[1])

    total = round(sum(timings.values()), 4)
    legacy17 = round(sum(timings[n] for n in LEGACY17 if n in timings), 4)
    # Stream section under state-sized partitioning (see
    # STREAM_SHUFFLE_PARTITIONS): each streaming query locks in the
    # session conf at planning time, so the override scopes cleanly to
    # the section and the batch numbers above are untouched.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )
    try:
        stream = {**stream_state_bench(spark), **crawl_loop_bench(spark)}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    stream["stream_total_sec"] = stream_total_sec(stream)
    out = {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # ratchet-lineage subtotal: same 17 queries as every
                # recorded round since r2 (see LEGACY17); the floor in
                # tests/test_bench_floor.py gates THIS number
                "legacy17_sec": legacy17,
                "headline_count": len(timings),
                "sf": _sf_from_dir(SF_DIR),
                # bounded-state regression metrics for the streaming
                # faces — not part of `value`, which stays the batch
                # headline total; stream_total_sec is the subtotal the
                # round-13 stream floor gates
                "stream": stream,
    }
    if cpu_sec:
        # additive diagnostics (VERDICT r15 task 7): per-query executor
        # CPU + task counts over the two timed runs — deterministic per
        # plan, so round-over-round comparisons can separate ambient
        # load from plan regressions without forensic work
        out["queries_cpu_sec"] = cpu_sec
        out["queries_tasks"] = tasks
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    if "--stream-only" in sys.argv[1:]:
        stream_main()
    elif "--stream-overlap" in sys.argv[1:]:
        stream_overlap_main()
    else:
        main()
