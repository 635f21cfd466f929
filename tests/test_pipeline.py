"""Checkpoint-resumable pipeline tests: manifests, resume-without-
recompute, dependency invalidation, owl:sameAs canonicalization flow."""

import os
import shutil
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.plans.extract import pages_df
from sophia_rs_spark.plans.pipeline import (
    load_manifest,
    manifest_path,
    run_pipeline,
    run_stage,
)
from sophia_rs_spark.sources.fixtures import FixtureCase, fixture_pages

SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

CASES = [
    FixtureCase(
        "p1",
        "nt",
        "<x:a> <x:p> <x:o>.\n"
        f"<x:a> <{SAMEAS}> <x:b>.\n"
        f"<x:b> <{SAMEAS}> <x:c>.",
        [],
    ),
    FixtureCase("p2", "nt", "<x:c> <x:q> <x:o2>.", []),
    FixtureCase("p3", "nt", "bad line", [], error_lines=1),
]

STAGES = (
    "extract", "quarantine", "components", "canonicalize", "graph", "terms",
    "lineage",
)


def reread_checksum(df):
    """The manifest checksum, computed on a re-read of the written stage:
    the oracle for the checksum observed during the write."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    row = (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(F.expr("bit_xor(h)").alias("chk"))
        .collect()[0]
    )
    return row["chk"] if row["chk"] is not None else 0


def spark_jobs(spark, fn):
    """How many Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def pages(spark):
    return pages_df(spark, fixture_pages(CASES))


def test_pipeline_end_to_end(spark, pages, tmp_path):
    wd = str(tmp_path / "wd")
    out = run_pipeline(spark, pages, wd)
    # sameAs chain a-b-c: canonical id is min = <x:a>
    comp = {r["member"]: r["comp"] for r in out["components"].collect()}
    assert comp == {"<x:a>": "<x:a>", "<x:b>": "<x:a>", "<x:c>": "<x:a>"}
    # triples rewritten through the component map
    canon = {(r["s"], r["p"], r["o"]) for r in out["canonical_quads"].collect()}
    assert ("<x:a>", "<x:q>", "<x:o2>") in canon  # <x:c> rewritten to <x:a>
    assert ("<x:a>", f"<{SAMEAS}>", "<x:a>") in canon
    # quarantine captured the bad page
    assert out["quarantine"].count() == 1
    # lineage covers graph + terms stages
    stages = {r["stage"] for r in out["lineage"].collect()}
    assert stages == {"graph", "terms"}
    # manifests written for every stage
    for stage in ("extract", "components", "canonicalize", "graph", "terms"):
        man = load_manifest(wd, stage)
        assert man is not None and man["rows"] >= 0 and "checksum" in man


def test_pipeline_resume_skips_recompute(spark, pages, tmp_path):
    wd = str(tmp_path / "wd")
    run_pipeline(spark, pages, wd)
    man1 = load_manifest(wd, "extract")

    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(3).select(F.col("id").cast("string").alias("s"))

    # same stage name + satisfied manifest → compute not called
    df = run_stage(spark, wd, "extract", compute)
    assert calls["n"] == 0
    assert df.count() == man1["rows"]


def test_stage_dependency_invalidation(spark, tmp_path):
    wd = str(tmp_path / "wd")
    a1 = run_stage(spark, wd, "a", lambda: spark.range(5).select(F.col("id")))
    b1 = run_stage(
        spark, wd, "b", lambda: spark.range(2).select(F.col("id")), deps=("a",)
    )
    # recompute a with different content → b must recompute
    run_stage(
        spark, wd, "a", lambda: spark.range(7).select(F.col("id")), force=True
    )
    calls = {"n": 0}

    def compute_b():
        calls["n"] += 1
        return spark.range(4).select(F.col("id"))

    b2 = run_stage(spark, wd, "b", compute_b, deps=("a",))
    assert calls["n"] == 1
    assert b2.count() == 4


def test_manifest_checksum_partition_independent(spark, tmp_path):
    wd = str(tmp_path / "wd")
    df = spark.range(100).select(F.col("id").cast("string").alias("s"))
    run_stage(spark, wd, "x1", lambda: df.repartition(2))
    run_stage(spark, wd, "x2", lambda: df.repartition(13))
    m1, m2 = load_manifest(wd, "x1"), load_manifest(wd, "x2")
    assert m1["checksum"] == m2["checksum"]
    assert m1["rows"] == m2["rows"]


def test_manifest_matches_reread(spark, pages, tmp_path):
    """The observed rows/checksum/schema equal the re-read definition."""
    wd = str(tmp_path / "wd")
    run_pipeline(spark, pages, wd)
    for stage in STAGES:
        man = load_manifest(wd, stage)
        back = spark.read.parquet(os.path.join(wd, stage))
        assert man["rows"] == back.count(), stage
        assert man["checksum"] == reread_checksum(back), stage
        assert man["schema"] == back.schema.simpleString(), stage


@pytest.mark.parametrize(
    "empty",
    [
        lambda s: s.range(0),
        lambda s: s.createDataFrame([], "a string, b int"),
        lambda s: s.range(10).filter(F.lit(False)),
        lambda s: s.range(10).limit(0),
    ],
    ids=["range0", "createDataFrame", "filter_false", "limit0"],
)
def test_empty_stage_manifest(spark, tmp_path, empty):
    wd = str(tmp_path / "wd")
    done = threading.Event()

    def commit():
        run_stage(spark, wd, "e", lambda: empty(spark))
        done.set()

    t = threading.Thread(target=commit, daemon=True)
    t.start()
    t.join(timeout=120)
    assert done.is_set(), "stage commit did not finish"
    man = load_manifest(wd, "e")
    assert (man["rows"], man["checksum"]) == (0, 0)


def test_resume_spark_jobs(spark, pages, tmp_path):
    wd = str(tmp_path / "wd")
    run_pipeline(spark, pages, wd)
    # a crash while graph was written: no manifest, terms/lineage not begun
    os.remove(manifest_path(wd, "graph"))
    for stage in ("terms", "lineage"):
        shutil.rmtree(os.path.join(wd, stage))
    assert spark_jobs(spark, lambda: run_pipeline(spark, pages, wd)) <= 10
    calls = []
    reopen = spark_jobs(
        spark, lambda: run_stage(spark, wd, "terms", calls.append, deps=("canonicalize",))
    )
    assert (reopen, calls) == (0, [])


def test_partition_column_keeps_written_type(spark, tmp_path):
    """A ``bigint`` partition column of small values, which Spark's
    partition inference would read back as ``int``, keeps ``bigint`` in
    the manifest, in the written stage and in the reopened stage."""
    wd = str(tmp_path / "wd")
    df = spark.range(20).select(
        F.col("id").cast("string").alias("s"), (F.col("id") % 3).alias("k")
    )
    df.write.partitionBy("k").parquet(str(tmp_path / "inferred"))
    assert dict(spark.read.parquet(str(tmp_path / "inferred")).dtypes)["k"] == "int"

    out = run_stage(spark, wd, "p", lambda: df, partition_by=("k",))
    man = load_manifest(wd, "p")
    assert man["schema"] == "struct<s:string,k:bigint>"
    assert out.schema.simpleString() == man["schema"]
    again = run_stage(spark, wd, "p", lambda: None, partition_by=("k",))
    assert again.schema.simpleString() == man["schema"]
    assert man["checksum"] == reread_checksum(again)
    assert sorted(again.collect()) == sorted(df.collect())


def test_unparseable_schema_reopens(spark, tmp_path):
    """A column name the recorded ``simpleString`` cannot carry back
    still reopens, without recomputing the stage."""
    wd = str(tmp_path / "wd")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(4).selectExpr("count(1)")

    run_stage(spark, wd, "c", compute)
    assert load_manifest(wd, "c")["schema"] == "struct<count(1):bigint>"
    out = run_stage(spark, wd, "c", compute)
    assert len(calls) == 1
    assert out.collect()[0][0] == 4


def test_f9_linking_fixture_components(spark, tmp_path):
    """F9 golden components: extract sameAs bridges across pages →
    connected components must equal the hand-derived golden set."""
    from sophia_rs_spark.operators.linking import connected_components, sameas_edges
    from sophia_rs_spark.plans.extract import extract_quads, split_quarantine
    from sophia_rs_spark.sources.fixtures import linking_fixture

    pages_pdf, golden = linking_fixture()
    pages = pages_df(spark, pages_pdf)
    good, bad = split_quarantine(extract_quads(pages, from_html=True))
    assert bad.count() == 0
    comp = connected_components(sameas_edges(good))
    got = {(r["comp"], r["member"]) for r in comp.collect()}
    assert got == set(golden)
