"""Pins for ``curation.connected_components``' driver actions: the
round budget is exactly ``MAX_CC_ITERS`` rounds, and a shallow graph
costs two eager materializations (the edge checkpoint plus one fused
action whose convergence probe sees its own fixpoint)."""

from __future__ import annotations

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _path(n):
    """Path 1-2-...-n. Under min-label propagation with pointer
    doubling its labels stop changing after round 2 for n in 4..7,
    round 3 for n in 8..15 and round 4 for n in 16..31."""
    return [(i, i + 1) for i in range(1, n)]


@pytest.mark.parametrize("budget, fits, one_over", [(3, 4, 8), (4, 8, 16)])
def test_cc_round_budget_is_exact(spark, monkeypatch, budget, fits, one_over):
    """A fixpoint at round budget-1 is detected by round budget (in
    budget; an odd budget ends on a one-round action); a fixpoint at
    round budget would need one round more and must raise."""
    from udacity_dsnd_projects_spark.functions import curation

    monkeypatch.setattr(curation, "MAX_CC_ITERS", budget)
    got = {
        r.doc_id: r.component
        for r in curation.connected_components(_pairs(spark, _path(fits))).collect()
    }
    assert got == {i: 1 for i in range(1, fits + 1)}
    with pytest.raises(RuntimeError, match=f"no fixed point in {budget} rounds"):
        curation.connected_components(_pairs(spark, _path(one_over)))


@pytest.mark.parametrize(
    "edges, materializations, expected",
    [
        # labels final after round 1: the first action's probe (round 2
        # vs round 1) already sees the fixpoint
        ([(1, 2), (1, 3), (4, 5)], 2, {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}),
        # node 2 reaches label 1 only in round 2, so one more action
        ([(1, 3), (2, 3), (4, 5)], 3, {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}),
    ],
)
def test_cc_eager_materialization_count(
    spark, monkeypatch, edges, materializations, expected
):
    from udacity_dsnd_projects_spark.functions import curation

    pairs = _pairs(spark, edges)
    calls: list[str] = []
    for name in ("localCheckpoint", "count"):
        real = getattr(ClassicDataFrame, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(ClassicDataFrame, name, spy)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    comp = curation.connected_components(pairs)
    assert calls == ["localCheckpoint"] * materializations
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert {r.doc_id: r.component for r in comp.collect()} == expected
