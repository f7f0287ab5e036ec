"""Both physical regimes of connected components, certified.

A contraction round broadcasts its merge map when the working edge set
is at most ``dedup._CC_BROADCAST_EDGES`` rows and shuffles both sides
otherwise. Every graph the tests and the sf0.01 oracle run fits under
that cap, so the shuffle regime would run nowhere; here the cap is
patched to 0 (every non-empty round shuffles) and the same graphs and
the ``dedup_lsh_clusters`` oracle run in both regimes."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from evaluate_human_balance_with_spark_streaming_spark.operators import dedup
from evaluate_human_balance_with_spark_streaming_spark.plans import registry
from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import TABLES

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts",
                 "check_correctness.py"),
)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)

CHAIN = [(i, i + 1) for i in range(1, 8)]  # path graph, diameter 7
TWO_COMPONENTS = [(1, 2), (2, 3), (7, 8)]
CLIQUE = [(a, b) for a in range(40) for b in range(a + 1, 40)]  # the pairs of 40 identical docs
GRAPHS = {
    "chain": (CHAIN, {n: 1 for n in range(1, 9)}),
    "two_components": (TWO_COMPONENTS, {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}),
    "all_identical": (CLIQUE, {n: 0 for n in range(40)}),
}


@pytest.fixture(params=["broadcast", "shuffle"])
def cc_regime(request, monkeypatch):
    """Runs connected components in one regime and yields the list of
    ``small`` flags its rounds ran with, so a test can check that every
    round took the regime it names."""
    if request.param == "shuffle":
        monkeypatch.setattr(dedup, "_CC_BROADCAST_EDGES", 0)
    rounds: list[bool] = []
    apply_round = dedup._cc_apply_round

    def spy(edges, mapping, m2, w, small=False):
        rounds.append(small)
        return apply_round(edges, mapping, m2, w, small)

    monkeypatch.setattr(dedup, "_cc_apply_round", spy)
    yield request.param, rounds


def _assert_regime(regime: str, rounds: list[bool]) -> None:
    assert rounds, "connected components ran no round"
    assert set(rounds) == {regime == "broadcast"}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_unit_graphs_in_both_regimes(spark, cc_regime, graph):
    regime, rounds = cc_regime
    edges, expected = GRAPHS[graph]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    labels = dedup.connected_components(pairs, max_iterations=10).collect()
    assert {r.node: r.cluster_id for r in labels} == expected
    assert len(labels) == len(expected)
    _assert_regime(regime, rounds)


def test_lsh_clusters_match_oracle_in_both_regimes(spark, sf_dir, cc_regime):
    """The registered query against its DuckDB oracle, compared the way
    scripts/check_correctness.py compares them."""
    regime, rounds = cc_regime
    sdf = registry.all_queries()["dedup_lsh_clusters"](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    _assert_regime(regime, rounds)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        pdf = con.execute(registry.all_oracles()["dedup_lsh_clusters"]).df()
    finally:
        con.close()
    orows = list(pdf.itertuples(index=False, name=None))
    assert sorted(sdf.columns) == sorted(pdf.columns)
    assert len(srows) == len(orows) > 0
    assert (check_correctness.value_hash(srows, sdf.columns)
            == check_correctness.value_hash(orows, list(pdf.columns)))
