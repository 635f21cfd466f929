"""Connected-components / canonicalization tests: min-label vs the
alternating large-star/small-star scale path, the broadcast-fallback
regimes of canonicalize_entities, and the one-job-per-round budget and
round cap of every fixpoint operator."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.operators.describe import describe
from sophia_rs_spark.operators.linking import (
    canonicalize_entities,
    connected_components,
    connected_components_alternating,
)
from sophia_rs_spark.operators.paths import one_or_more
from sophia_rs_spark.operators.reasoner import (
    T_SUBCLASS,
    T_TYPE,
    rdfs_saturate,
    transitive_closure,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _as_map(df):
    return {r["member"]: r["comp"] for r in df.collect()}


class TestAlternatingCC:
    def test_small_graph_same_as_minlabel(self, spark):
        pairs = [
            ("<b>", "<a>"), ("<c>", "<b>"), ("<e>", "<d>"),
            ("<f>", "<f2>"), ("<f2>", "<f3>"), ("<f3>", "<a>"),
        ]
        e = _edges(spark, pairs)
        assert _as_map(connected_components_alternating(e)) == _as_map(
            connected_components(e)
        )

    def test_long_chain_fewer_iterations(self, spark):
        # 1k-node chain: min-label needs O(n) rounds (capped), alternating O(log n)
        n = 1000
        pairs = [(f"<n{i:04d}>", f"<n{i+1:04d}>") for i in range(n - 1)]
        e = _edges(spark, pairs).repartition(8)
        st_alt = {}
        alt = _as_map(connected_components_alternating(e, stats=st_alt))
        assert len(set(alt.values())) == 1
        assert set(alt.values()) == {"<n0000>"}
        assert len(alt) == n
        assert st_alt["iterations"] <= 12, st_alt
        # min-label on a short sub-chain for equality check (full 1k chain
        # would need 1k rounds)
        sub = _edges(spark, pairs[:16])
        st_ml = {}
        ml = _as_map(connected_components(sub, stats=st_ml))
        alt_sub = _as_map(connected_components_alternating(sub))
        assert ml == alt_sub

    def test_two_components_and_star(self, spark):
        pairs = [("<hub>", f"<s{i}>") for i in range(50)] + [("<x>", "<y>")]
        e = _edges(spark, pairs)
        alt = _as_map(connected_components_alternating(e))
        assert alt["<x>"] == alt["<y>"] == "<x>"
        assert {alt[f"<s{i}>"] for i in range(50)} == {"<hub>"}


class TestCanonicalizeBroadcastRegimes:
    def _setup(self, spark):
        t = spark.createDataFrame(
            [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>")],
            "s string, p string, o string",
        )
        comp = spark.createDataFrame(
            [("<b>", "<a>"), ("<c>", "<a>")], "member string, comp string"
        )
        return t, comp

    def test_broadcast_regime_plan(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp, broadcast=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        rows = {(r["s"], r["o"]) for r in out.collect()}
        assert rows == {("<a>", "<a>"), ("<a>", "<a>")} or rows == {("<a>", "<a>")}

    def test_shuffle_regime_plan(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp, broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan or "AdaptiveSparkPlan" in plan
        # values identical in both regimes
        ref = canonicalize_entities(t, comp, broadcast=True)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))

    def test_auto_small_map_broadcasts(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp)  # auto: 2 rows → broadcast
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


def _chain(n):
    return [(f"<n{i}>", f"<n{i + 1}>") for i in range(n)]


def _min_label(spark, n):
    return connected_components(_edges(spark, _chain(n)))


def _alternating(spark, n):
    return connected_components_alternating(_edges(spark, _chain(n)))


def _one_or_more(spark, n):
    return one_or_more(_edges(spark, _chain(n)))


def _transitive_closure(spark, n):
    return transitive_closure(spark.createDataFrame(_chain(n), "s string, o string"))


def _rdfs_saturate(spark, n):
    rows = [("<x>", T_TYPE, "<n0>")] + [(a, T_SUBCLASS, b) for a, b in _chain(n)]
    return rdfs_saturate(spark.createDataFrame(rows, "s string, p string, o string"))


def _describe(spark, n):
    rows = [("<a>", "<p>", "_:n1")] + [
        (f"_:n{i}", "<p>", f"_:n{i + 1}") for i in range(1, n)
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    return describe(t, spark.createDataFrame([("<a>",)], "term string"))


def _ceil_log2(n):
    return (n - 1).bit_length()


# operator on a chain of n edges → (result rows, rounds to converge,
# counting the final round that finds nothing new)
FIXPOINTS = {
    # one hop of label propagation per round
    "connected_components": (_min_label, lambda n: (n + 1, n + 1)),
    # large/small-star halves the chain per round
    "connected_components_alternating": (
        _alternating,
        lambda n: (n + 1, _ceil_log2(n) + 1),
    ),
    # one hop of BFS per round
    "one_or_more": (_one_or_more, lambda n: (n * (n + 1) // 2, n)),
    # doubling: round k reaches paths of length 2^k
    "transitive_closure": (
        _transitive_closure,
        lambda n: (n * (n + 1) // 2, _ceil_log2(n) + 1),
    ),
    # the schema is closed on the driver, so one round infers every type
    "rdfs_saturate": (_rdfs_saturate, lambda n: (1 + n + n * (n + 1) // 2, 2)),
    # the seed's triple is the base; each round pulls in one blank node
    "describe": (_describe, lambda n: (n, n)),
}


@pytest.mark.parametrize("op", sorted(FIXPOINTS))
def test_fixpoint_one_driver_action_per_round(spark, op):
    """Every fixpoint costs ONE driver action (job) per round: the lazy
    localCheckpoint materializes inside the round's signal aggregate
    (driver-barrier latency amplifies on a busy cluster, so checkpoint +
    probe per round doubles the barriers)."""
    run, expect = FIXPOINTS[op]
    n = 8
    rows_want, rounds = expect(n)
    sc = spark.sparkContext
    # AQE materializes every shuffle stage as its own job — disable it
    # so jobs ≈ driver actions and the count is a meaningful proxy
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"fixpoint-jobs-{op}"
    sc.setJobGroup(group, "job-count probe")
    try:
        rows = run(spark, n).collect()
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # budget: setup (at most an eager checkpoint and the rdfs schema
    # collect, whose limit can take two jobs) + 1 job/round + the collect
    assert len(jobs) <= rounds + 4, (len(jobs), rounds)
    assert len(rows) == rows_want
    if "comp" in rows[0].__fields__:  # components: one, rooted at <n0>
        assert {r["comp"] for r in rows} == {"<n0>"}


def test_min_label_cap_raises(spark):
    """A 60-edge chain needs 61 min-label rounds; at the default cap of
    50 the loop must fail instead of returning unconverged labels."""
    with pytest.raises(RuntimeError, match="connected_components.*max_iter=50"):
        _min_label(spark, 60)
