#!/usr/bin/env python3
"""Regenerate ``expected.json``, the outputs every benchmark run is
checked against.

    python3 perfbench/record.py

For each batch scale (0.01 for the timed runs, 0.001 for the fast test)
it generates the tables, runs every query of both batch workloads,
compares the full result with the registry's DuckDB oracle SQL
(``registry.oracle_sql()``, values rounded to 6 places, rows sorted) and
records ``[rows, sum(hash(*))]`` only for results that match.  It then
replays every stream chunk through the three faces and records their
exact counters.  Any oracle mismatch aborts without writing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import batch
import gen
import run
import stream


def oracle_matches(sdf, con, sql: str) -> bool:
    ddf = con.sql(sql).df()
    cols = sorted(sdf.columns)
    if cols != sorted(ddf.columns):
        return False
    a = sorted(map(str, sdf[cols].round(6).itertuples(index=False, name=None)))
    b = sorted(map(str, ddf[cols].round(6).itertuples(index=False, name=None)))
    return a == b


def main() -> int:
    import duckdb

    os.environ.update(run.BOX_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (run.ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, run.ROOT)
    from udacity_dsnd_projects_spark import registry
    from udacity_dsnd_projects_spark.session import get_spark

    args = run.parse_args(["--workload", "stream_paced", "--seconds", "3"])
    scratch = os.path.join(run.ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="record-", dir=scratch)
    args.expected = os.path.join(tmp, "none.json")
    with open(args.expected, "w") as f:
        json.dump({"batch": {}, "stream": {}}, f)
    ctx = run.Context(args, tmp)
    ctx.spark = spark = get_spark("perfbench-record", extra_conf=run.session_conf(ctx))
    expected: dict = {"batch": {}, "stream": {}}
    try:
        qs, osql = registry.queries(), registry.oracle_sql()
        for sf in (run.BATCH_SF, 0.001):
            data = gen.write(os.path.join(tmp, f"sf{sf}"), sf)
            con = duckdb.connect()
            for t in gen.tables(sf):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            got = {}
            for names in batch.WORKLOADS.values():
                for name in names:
                    if not oracle_matches(qs[name](spark, data).toPandas(), con, osql[name]):
                        print(f"oracle mismatch: {name} at sf {sf}", file=sys.stderr)
                        return 1
                    got[name] = batch.fingerprint(spark, qs, name, data, ctx.tracer)
            expected["batch"][str(sf)] = got
        spark.conf.set("spark.sql.shuffle.partitions", str(stream.STREAM_PARTITIONS))
        result = stream.run(ctx)
        expected["stream"] = result["counters"]
    finally:
        run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(expected))
    return 0


if __name__ == "__main__":
    sys.exit(main())
