"""Closed-loop batch workloads: ``batch_sql`` and ``batch_curation``.

One caller runs passes back to back.  Each pass visits every query of
the workload once, in an order drawn from the run seed, and for each
query times three calls into the engine: the registry builder
(``registry.queries()[name](spark, sf_dir)``), Catalyst planning of the
action frame, and the action, ``count(1)`` plus ``sum(hash(*))`` over
the result, which doubles as the result fingerprint.
"""

from __future__ import annotations

import random

from spans import (
    descendants,
    duration,
    median,
    percentile,
    self_times,
    stage_totals,
    steal_s,
    union_length,
)

SQL_QUERIES = (
    "risk_join",
    "pricing_summary",
    "revenue_by_nation",
    "top_unshipped_orders",
    "hourly_event_rollup",
    "join_asof",
    "latest_per_key",
    "sessionize",
    "interval_count_join",
    "exact_dedup",
)

CURATION_QUERIES = ("minhash_lsh_pairs", "simhash_near_dup_pairs", "winnowing_strip")

WORKLOADS = {"batch_sql": SQL_QUERIES, "batch_curation": CURATION_QUERIES}


def fingerprint(spark, qs, name: str, sf_dir: str, tracer) -> list[int]:
    """Build, plan and run one query; returns ``[rows, sum(hash(*))]``."""
    with tracer.span("registry.build", query=name):
        df = qs[name](spark, sf_dir)
    with tracer.span("catalyst.plan", query=name):
        action = df.selectExpr("count(1) AS n", "sum(hash(*)) AS h")
        action._jdf.queryExecution().executedPlan()
    with tracer.span("exec.action", query=name):
        row = action.collect()[0]
    return [int(row["n"]), int(row["h"] or 0)]


#: Untimed passes before the window: the first in registry order, the
#: rest in seeded order.  Without the second, the first two timed passes
#: run 20-40 % slower than later ones, which moves the median pass.
WARM_PASSES = 2


def run(ctx, workload: str) -> dict:
    """Warm up with ``WARM_PASSES`` passes, then run seeded passes until
    ``ctx.seconds`` have elapsed (the pass in flight completes)."""
    from udacity_dsnd_projects_spark import registry

    names = list(WORKLOADS[workload])
    expected = ctx.expected["batch"][ctx.sf_key]
    qs = registry.queries()
    spark, tracer = ctx.spark, ctx.tracer
    attempted = failed = 0
    mismatches: dict[str, list] = {}

    def one_pass(order, index):
        nonlocal attempted, failed
        steal_start = steal_s()
        with tracer.span("pass", index=index) as p:
            for name in order:
                attempted += 1
                with tracer.span("query", query=name):
                    try:
                        got = fingerprint(spark, qs, name, ctx.data_dir, tracer)
                    except Exception as exc:  # a raised query is a failed operation
                        failed += 1
                        mismatches[name] = [repr(exc)[:200]]
                        continue
                if got != expected.get(name):
                    failed += 1
                    mismatches[name] = got
            if ctx.traced:
                p.update(ctx.storage_snapshot())
        p["steal_s"] = steal_s() - steal_start
        return p

    rng = random.Random(ctx.seed)
    one_pass(names, -1)
    for index in range(2, WARM_PASSES + 1):
        one_pass(rng.sample(names, len(names)), -index)
    ctx.mark_setup_done()
    passes = []
    while not passes or tracer.now() - ctx.t_first < ctx.seconds:
        passes.append(one_pass(rng.sample(names, len(names)), len(passes)))

    timed = descendants(tracer.spans, passes)
    queries = [s for s in timed if s["name"] == "query"]
    e2e = {
        "pass_s_p50": (median([duration(p) for p in passes]), len(passes)),
        "latency_s_p50": (percentile([duration(q) for q in queries], 50), len(queries)),
        "latency_s_p75": (percentile([duration(q) for q in queries], 75), len(queries)),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "mismatches": mismatches,
        "e2e": e2e,
        # every timed pass, for the stamp line: its wall time and the
        # hypervisor steal on this machine while it ran
        "samples_s": {
            "pass": [round(duration(p), 4) for p in passes],
            "pass_steal": [round(p["steal_s"], 2) for p in passes],
        },
        "passes": passes,
        "timed": timed,
    }


def layers(ctx, result: dict, log: dict) -> dict:
    """Per-layer metrics of the timed passes, per pass."""
    n = len(result["passes"])
    timed = result["timed"]
    by_group = {}
    for jid, job in log["jobs"].items():
        by_group.setdefault(job["group"], []).append(jid)
    own = self_times(timed)
    out: dict[str, float] = {}
    for layer in ("registry.build", "catalyst.plan", "exec.action"):
        out[f"{layer}_s"] = sum(own[s["id"]] for s in timed if s["name"] == layer) / n
    build_jobs = [
        j for s in timed if s["name"] == "registry.build"
        for j in by_group.get(f"{ctx.tracer.trace_id}:{s['id']}", [])
    ]
    out["registry.build_jobs"] = len(build_jobs) / n
    gap = 0.0
    all_jobs = []
    parent = {s["id"]: s["parent"] for s in timed}
    pass_of = {p["id"]: p for p in result["passes"]}
    for p in result["passes"]:
        p["jobs"] = 0
    for s in timed:
        if s["name"] not in ("registry.build", "catalyst.plan", "exec.action"):
            continue
        jids = by_group.get(f"{ctx.tracer.trace_id}:{s['id']}", [])
        all_jobs += jids
        pass_of[parent[parent[s["id"]]]]["jobs"] += len(jids)  # span > query > pass
        if s["name"] != "catalyst.plan":
            spans = [(log["jobs"][j]["start"], log["jobs"][j]["end"] or s["end"]) for j in jids]
            gap += duration(s) - union_length(spans, s["start"], s["end"])
    out["exec.driver_gap_s"] = gap / n
    tot = stage_totals(log, all_jobs)
    wall = sum(duration(p) for p in result["passes"])
    out.update(exec_layers(tot, n, wall, ctx.cores))
    out["storage.memory_used_bytes"] = max(p["storage_bytes"] for p in result["passes"])
    out["storage.rdd_blocks"] = max(p["rdd_blocks"] for p in result["passes"])
    return out


def exec_layers(tot: dict, n: int, wall: float, cores: int) -> dict:
    """Executor, source, shuffle and Python-worker metrics from summed
    stage totals, divided by ``n`` (passes, or 1 for a whole run)."""
    return {
        "exec.jobs": tot["jobs"] / n,
        "exec.stages": tot["stages"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.executor_run_s": tot["run_ms"] / 1e3 / n,
        "exec.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "exec.gc_s": tot["gc_ms"] / 1e3 / n,
        "exec.core_busy_ratio": tot["run_ms"] / 1e3 / (cores * wall) if wall else 0.0,
        "sources.input_rows": tot["input_rows"] / n,
        "sources.input_bytes": tot["input_bytes"] / n,
        "shuffle.write_bytes": tot["shuffle_write_bytes"] / n,
        "shuffle.read_bytes": tot["shuffle_read_bytes"] / n,
        "shuffle.spill_bytes": tot["spill_bytes"] / n,
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3 / n,
        "shuffle.read_skew": tot["read_skew"],
        "python_worker.run_s": tot["py_run_ms"] / 1e3 / n,
        "python_worker.boot_s": tot["py_boot_ms"] / 1e3 / n,
        "python_worker.init_s": tot["py_init_ms"] / 1e3 / n,
        "python_worker.sent_bytes": tot["py_sent_bytes"] / n,
        "python_worker.received_bytes": tot["py_received_bytes"] / n,
    }
