"""Input-contract pins for small helpers: column names that are not
plain identifiers, partial precomputed inputs and out-of-range literals
that must fail loudly, the Column template cache under threads, and the
``--stream-overlap`` summary's sequential total."""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T


def test_local_frame_nullability_wrap_keeps_dotted_names(spark):
    """A dotted field name takes the Column-built path, whose non-null
    literals analyze nullable=False; the nullability wrap must then
    select ``a.b`` as one column, not as struct access."""
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    schema = T.StructType(
        [
            T.StructField("a.b", T.LongType(), True),
            T.StructField("k", T.StringType(), True),
        ]
    )
    rows = [(1, "x"), (2, "y")]
    lf = local_frame(spark, rows, schema)
    assert lf.schema == spark.createDataFrame(rows, schema).schema
    assert sorted(map(tuple, lf.collect())) == rows


@pytest.mark.parametrize(
    "dtype,bits",
    [
        (T.ByteType(), 8),
        (T.ShortType(), 16),
        (T.IntegerType(), 32),
        (T.LongType(), 64),
    ],
)
def test_local_frame_rejects_out_of_range_ints(spark, dtype, bits):
    """An int outside an integral field's range raises a ValueError
    naming the field, whatever the session's ANSI setting; the range's
    own ends are kept exactly."""
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    schema = T.StructType([T.StructField("n", dtype, True)])
    lo, hi = -(1 << bits - 1), (1 << bits - 1) - 1
    for bad in (lo - 1, hi + 1):
        with pytest.raises(ValueError, match=r"field 'n': .* outside the range"):
            local_frame(spark, [(0,), (bad,)], schema)
    kept = local_frame(spark, [(lo,), (hi,)], schema).collect()
    assert sorted(r.n for r in kept) == [lo, hi]


def test_cached_expr_survives_concurrent_eviction(monkeypatch):
    """Threads that hit, insert and evict past ``_CAP`` at once must
    never see a key vanish between its lookup and ``move_to_end``."""
    from udacity_dsnd_projects_spark.operators import exprcache

    monkeypatch.setattr(exprcache, "_CACHE", type(exprcache._CACHE)())
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    errors: list[BaseException] = []

    def hammer(seed):
        try:
            for i in range(20_000):
                k = (seed * 7919 + i * 31) % (exprcache._CAP + 16)
                assert exprcache.cached_expr(fake, (k,), lambda: k) == k
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(exprcache._CACHE) <= exprcache._CAP


def test_exact_multi_rank_rejects_partial_bounds(spark):
    from udacity_dsnd_projects_spark.operators.ranks import exact_multi_rank

    df = spark.createDataFrame(
        [(1.0, 2.0, 1), (3.0, 4.0, 2)], "a double, b double, id long"
    )
    with pytest.raises(ValueError, match=r"order columns \['b'\]"):
        exact_multi_rank(
            df,
            [("a", False, "ra"), ("b", True, "rb")],
            ["id"],
            bounds={"a": [2.0]},
        )


def test_checkpoint_with_sketch_quotes_column_names(spark):
    from udacity_dsnd_projects_spark.operators.ranks import checkpoint_with_sketch

    rows = [(float(i), float(i), i) for i in range(100)]
    odd = spark.createDataFrame(rows, "`x.y` double, `n tok` double, id long")
    plain = spark.createDataFrame(rows, "x double, n double, id long")
    # accuracy above the row count makes the sketch exact
    kw = {"n_buckets": 4, "relative_error": 1e-3}
    ck, bounds = checkpoint_with_sketch(odd, ["x.y", "n tok"], **kw)
    _, want = checkpoint_with_sketch(plain, ["x", "n"], **kw)
    assert ck.count() == 100
    assert bounds == {"x.y": want["x"], "n tok": want["n"]}


def test_overlap_summary_sums_only_the_face_keys():
    """``sequential_equiv_sec`` is the sum of the faces' own wall keys;
    the overlap wall must not be counted into its own baseline."""
    import bench

    faces = {
        "sec": 1.5,
        "gap_fill_sec": 2.0,
        "transition_sec": 3.25,
        "join_risk_peak_state_rows": 700,
        "micro_batches": 11,
    }
    summary = bench.overlap_summary(dict(faces), wall_sec=4.0)
    assert summary == {"overlap_wall_sec": 4.0, "sequential_equiv_sec": 6.75}
    merged = {**faces, **summary}
    assert merged["sequential_equiv_sec"] == bench.stream_total_sec(faces)
