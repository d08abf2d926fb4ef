"""Driver-local metadata frames without the Python-RDD boundary.

``SparkSession.createDataFrame(rows, schema)`` on a driver-local list
builds a PICKLED PYTHON RDD parallelized across ``defaultParallelism``
partitions. Every action over such a frame (including the job a
``BroadcastExchange`` runs to build its relation) launches one task
per partition, and each concurrently-running task needs its own
Python worker: ``SparkEnv.createPythonWorker`` is synchronized, so a
32-core local session serializes ~32 fork+handshake rounds per stage
with near-zero CPU. Measured on ``curriculum_pack_order`` (round-15
profile): a 32-task stage with 55.7 s summed executorRunTime and
0.36 s executorCpuTime, thread dumps showing 31/32 task threads
BLOCKED in ``createPythonWorker`` — the guide §4.1 Python-boundary
cost in its sneakiest form, paid for frames that hold a few dozen
driver-built metadata rows (rank bucket offsets, BPE merge lists,
observation reports).

:func:`local_frame` avoids the boundary entirely: rows already in
driver memory are shipped as JVM literals —
``inline(array(named_struct(...), ...))`` — which analyzes to a local
relation: scanning it is task-free (``LocalTableScan``), broadcasting
it never launches a job, and no Python worker is ever forked.

The literal tree is rendered as ONE SQL expression string parsed
JVM-side, not as per-value ``F.lit().cast()`` Column objects: every
Column operation is a py4j round trip (~1 ms), so a 100-row × 4-col
offsets frame built per-literal costs ~1.5-2 s of pure driver latency
(round-16 profile: 2.6 s of ``curriculum_pack_order``'s construction
was local_frame py4j traffic) while one ``F.expr`` parse of the same
tree is milliseconds. The parsed expression analyzes to the identical
literal relation, so plans are unchanged. Rows beyond
:data:`MAX_LITERAL_ROWS` fall back to ``createDataFrame`` (a literal
expression tree should stay metadata-sized, like the frames
themselves); value types outside the SQL-renderable set (dates,
timestamps, decimals, bytes) fall back to the per-literal Column
builder, which handles them via ``F.lit``."""

from __future__ import annotations

import math
import re
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Above this many rows the literal expression tree (rows × columns
#: ``lit().cast()`` nodes) starts to cost real analysis time, and a
#: frame that size is data, not metadata — fall back to the RDD path.
MAX_LITERAL_ROWS = 4096

_SAFE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_value(v, dt: T.DataType) -> str | None:
    """Render ``v`` as a SQL expression of exactly ``dt``, or None when
    this value needs the per-literal Column fallback. Renderings are
    chosen to be BIT-IDENTICAL to ``F.lit(v).cast(dt)``:

    - floats route through a quoted string → DOUBLE parse
      (``Double.parseDouble`` round-trips ``repr`` exactly, including
      the NaN/Infinity spellings) and only then cast to ``dt``, so a
      FloatType/DecimalType target narrows from the same double the
      ``F.lit`` path narrows from;
    - strings are hex-encoded (``decode(unhex(...), 'UTF-8')``), which
      sidesteps every quoting/escaping rule for arbitrary corpus-derived
      text (BPE merge pairs contain the \\x1f separator and can contain
      quotes/backslashes) and constant-folds to the exact string."""
    s = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {s})"
    if isinstance(v, bool):
        return f"CAST({'TRUE' if v else 'FALSE'} AS {s})"
    if isinstance(v, int):
        return f"CAST({v} AS {s})"
    if isinstance(v, float):
        if math.isnan(v):
            d = "CAST('NaN' AS DOUBLE)"
        elif math.isinf(v):
            d = f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        else:
            d = f"CAST('{v!r}' AS DOUBLE)"
        return d if isinstance(dt, T.DoubleType) else f"CAST({d} AS {s})"
    if isinstance(v, str):
        hexed = v.encode("utf-8").hex()
        return f"CAST(decode(unhex('{hexed}'), 'UTF-8') AS {s})"
    return None


def local_frame(
    spark: SparkSession,
    rows: Sequence[Iterable],
    schema: T.StructType | str,
) -> DataFrame:
    """A DataFrame over driver-local ``rows`` with ``schema``,
    value-identical to ``spark.createDataFrame(rows, schema)`` but
    built as a JVM literal relation: zero jobs, zero Python workers
    (see module docstring). ``rows`` must be metadata-sized; each row
    is a sequence aligned with ``schema``'s fields; values must be
    plain literals (numbers, strings, bools, None, datetimes)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if len(rows) > MAX_LITERAL_ROWS:
        return spark.createDataFrame(rows, schema)
    fields = schema.fields
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    checked: list[list] = []
    for i, row in enumerate(rows):
        vals = list(row)
        # zip() would silently truncate a short row (dropping trailing
        # columns from the struct) where createDataFrame raises —
        # validate so a malformed caller row errors instead of
        # building a silently wrong frame (ADVICE r15)
        if len(vals) != len(fields):
            raise ValueError(
                f"local_frame row {i} has {len(vals)} values for "
                f"{len(fields)} schema fields"
            )
        checked.append(vals)

    # fast path: the whole relation as ONE parsed SQL expression
    struct_sqls: list[str] | None = []
    if all(_SAFE_NAME.match(f.name) for f in fields):
        for vals in checked:
            entries = []
            for v, f in zip(vals, fields):
                sv = _sql_value(v, f.dataType)
                if sv is None:  # unrenderable type -> Column fallback
                    struct_sqls = None
                    break
                entries.append(f"'{f.name}', {sv}")
            if struct_sqls is None:
                break
            struct_sqls.append(f"named_struct({', '.join(entries)})")
    else:
        struct_sqls = None

    # one explicit partition: the default would split the 1-row range
    # defaultParallelism ways, scheduling ~32 empty tasks per scan.
    base = spark.range(0, 1, 1, 1)

    def _column_built() -> DataFrame:
        return base.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            *[
                                F.lit(v).cast(f.dataType).alias(f.name)
                                for v, f in zip(vals, fields)
                            ]
                        )
                        for vals in checked
                    ]
                )
            )
        )

    if struct_sqls is not None:
        out = base.select(
            F.expr(f"inline(array({', '.join(struct_sqls)}))")
        )
        # the hex-decode string rendering analyzes nullable=True; a
        # field DECLARED non-nullable can't be un-nulled by wrapping,
        # so such (rare) frames take the per-literal Column path whose
        # nullability matches F.lit's
        if any(
            not f.nullable and o.nullable
            for f, o in zip(fields, out.schema.fields)
        ):
            out = _column_built()
    else:
        out = _column_built()
    # Align nullability with createDataFrame, which honors the DECLARED
    # schema: an all-non-null literal column would otherwise come out
    # nullable=False and surface in schema contracts / parquet writes /
    # unions on new call sites (ADVICE r15). when(col IS NOT NULL, col)
    # with no otherwise is value-identical and analyzes nullable=True
    # (a foldable TRUE condition would not — Spark 4 sees through it);
    # the optimizer still folds the conditional away at execution, so
    # the scan stays literal/task-free.
    if any(
        f.nullable and not o.nullable
        for f, o in zip(fields, out.schema.fields)
    ):
        # backtick-quoted, so a dotted field name is one column, not
        # struct access
        cols = [F.col("`" + f.name.replace("`", "``") + "`") for f in fields]
        out = out.select(
            *[
                F.when(c.isNotNull(), c).alias(f.name)
                if f.nullable and not o.nullable
                else c
                for c, f, o in zip(cols, fields, out.schema.fields)
            ]
        )
    return out
