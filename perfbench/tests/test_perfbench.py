"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator tests need no Spark; the others share one small local
session with the event log on.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402


def _inputs(seed: int) -> bytes:
    """Every generated input of every workload, serialized."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    seg = gen.crawl_segment(seed, 0, gen.crawl_params(seed, 60))
    frames = [seg.pages, seg.quads, *gen.tpch_tables(seed, 50, 200, 40, 4).values()]
    for df in frames:
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    buf.write(json.dumps([
        [r.text for r in gen.request_stream(seed, 24, 50, 40)],
        gen.schema_hierarchy(seed, 3),
        gen.sameas_chains(seed, 10, 3),
        gen.chain_forest(seed, "tc", 50, 4),
    ]).encode())
    return buf.getvalue()


def test_same_seed_same_inputs_and_other_seed_other_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generator_properties_stay_in_their_ranges():
    for seed in range(20):
        p = gen.crawl_params(seed, 300)
        assert abs(sum(p.fmt_weights) - 1) < 1e-9
        assert max(p.chain_lens) == 3  # fixed diameter → fixed round count
        seg = gen.crawl_segment(seed, 0, p)
        assert set(seg.fmt) <= set(gen.FORMATS)
        n = gen.CYCLE_LEN
        reqs = gen.request_stream(seed, 10 * n, 50, 40)
        for k in range(0, 10 * n, n):  # every cycle: the same mix, update last
            cycle = reqs[k:k + n]
            assert sorted(r.template for r in cycle if not r.repeat) == sorted(gen.TEMPLATES)
            assert sorted(r.template for r in cycle if r.repeat) == sorted(gen.REPEATED)
            assert cycle[-1].template == "update"
            for i, r in enumerate(cycle):  # a repeat follows its original
                assert not r.repeat or any(q.text == r.text for q in cycle[:i])
        assert len(gen.sameas_chains(seed, 20, 4)) >= 4
        depth = {}
        for child, parent in gen.chain_forest(seed, "tc", 200, 5):
            depth[child] = parent
        for node in depth:  # no chain is longer than its depth bound
            n, hops = node, 0
            while n in depth:
                n, hops = depth[n], hops + 1
            assert hops <= 5


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.GATED_WORKLOADS)


# ---------------------------------------------------------------------------
# with Spark
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    from perfbench import session

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = session.start(ROOT, work, event_log=True)
    yield spark, work
    session.stop(spark)
    shutil.rmtree(work, ignore_errors=True)


def _tiny(monkeypatch):
    from perfbench import workloads as W

    monkeypatch.setattr(W, "BUILD_PAGES", 40)
    monkeypatch.setattr(W, "QUERY_SIZES", dict(customers=40, orders=150, parts=30, chain=3))
    monkeypatch.setattr(W, "QUERY_CRAWL_PAGES", 30)
    monkeypatch.setattr(W, "REASON_SIZES", dict(customers=30, orders=100, parts=20, chain=3))
    monkeypatch.setattr(W, "REASON_CHAINS", 10)
    monkeypatch.setattr(W, "REASON_FOREST", dict(nodes=60, tc_depth=4, plus_depth=3))
    return W


def _run(W, name, spark, work, traced=False):
    from perfbench.trace import Tracer

    d = os.path.join(work, f"{name}-{traced}")
    os.makedirs(d, exist_ok=True)
    wl = W.WORKLOADS[name](spark, d, 3, Tracer(spark, enabled=traced))
    wl.setup()
    wl.warm_up()
    wl.run_op(0)
    return wl


@pytest.mark.parametrize("name", ["build", "query", "reason"])
def test_engine_agrees_with_oracle_at_a_tiny_seed(env, monkeypatch, name):
    spark, work = env
    wl = _run(_tiny(monkeypatch), name, spark, work)
    assert wl.attempted > 0
    assert wl.failed == 0, wl.errors


def test_oracle_detects_a_wrong_result(env, monkeypatch):
    spark, work = env
    W = _tiny(monkeypatch)
    wl = _run(W, "build", spark, work)
    wl.seg.expected["graph"] = wl.seg.expected["graph"].iloc[1:]
    assert not wl._check(wl.seg, wl.wd)
    assert wl.failed == 1


def _jobs_in_subtree(ev, tr, span) -> int:
    return len(ev.jobs_in({s.group for s in tr.subtree(span)}))


def test_trace_on_and_off_run_the_same_spark_jobs(env, monkeypatch, tmp_path):
    from perfbench.trace import EventLog, Tracer

    spark, work = env
    W = _tiny(monkeypatch)
    sc = spark.sparkContext

    # the build warm-up (a segment build and a resume), untraced under a
    # job group of the test's own
    wl = W.Build(spark, str(tmp_path / "off"), 5, Tracer(spark, enabled=False))
    wl.setup()
    sc.setJobGroup("test-off-build", "off")
    wl.run_op(-1)
    sc.setLocalProperty("spark.jobGroup.id", None)
    on = W.Build(spark, str(tmp_path / "on"), 5, Tracer(spark, enabled=True))
    on.setup()
    on.run_op(-1)

    # one query request (fresh text each side, so no plan-memo hit)
    q = W.Query(spark, str(tmp_path / "q"), 5, Tracer(spark, enabled=False))
    q.setup()
    req = next(r for r in q.requests if r.template == "join_filter")
    sc.setJobGroup("test-off-query", "off")
    q._request(req, measured=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    q.tr = Tracer(spark, enabled=True)
    q._request(gen.Request(req.template, req.text + " ", req.args, False), measured=True)
    assert q.failed == 0, q.errors

    ev_dir = os.path.join(work, "eventlog")
    ev = EventLog(ev_dir)
    query_span = next(s for s in q.tr.spans if s.name == "perfbench.op")
    assert len(ev.jobs_in({"test-off-build"})) > 0
    assert len(ev.jobs_in({s.group for s in on.tr.spans})) == len(ev.jobs_in({"test-off-build"}))
    assert _jobs_in_subtree(ev, q.tr, query_span) == len(ev.jobs_in({"test-off-query"}))
