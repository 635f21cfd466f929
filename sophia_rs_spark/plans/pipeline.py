"""End-to-end pipeline orchestration: checkpoint-resumable stages with
per-partition lineage + manifests (north rule).

Stage model (SURVEY.md §2.11): each stage writes its output table to
``<workdir>/<stage>/`` as parquet plus a ``_MANIFEST.json`` recording row
count, an order-independent checksum, the schema, and upstream stage
manifest checksums.  The row count and checksum are observed during the
write itself (``DataFrame.observe``), so committing a stage runs no job
besides the write.  Stages reopen with the recorded schema, so reading
one back runs no schema-inference job.  ``run_stage`` skips
recomputation when a valid manifest exists — resuming a killed pipeline
replays only missing stages.  (Iceberg would give us this via
snapshots; without Iceberg jars the same contract is implemented over
parquet — the writer is behind this one interface, as planned in
SURVEY.md §7.)

The full flow: pages → extract (quads + quarantine) → link (connected
components) → canonicalize (rewrite through component map) →
graph/term tables.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string

from ..operators.linking import (
    canonicalize_entities,
    connected_components,
    sameas_edges,
)
from .extract import extract_quads, graph_table, split_quarantine, term_table

MANIFEST = "_MANIFEST.json"


def manifest_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage, MANIFEST)


def load_manifest(workdir: str, stage: str) -> Optional[dict]:
    p = manifest_path(workdir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _recorded_schema(man: dict) -> Optional[StructType]:
    """The stage schema a manifest recorded, or None when its column
    names do not parse back from the ``simpleString`` form (a name that
    is not a plain identifier, such as ``count(1)``); such a stage
    reopens with the schema inferred from its files."""
    try:
        return _parse_datatype_string(man["schema"])
    except ParseException:
        return None


def run_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    compute: Callable[[], DataFrame],
    *,
    deps: tuple[str, ...] = (),
    force: bool = False,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """Compute-or-resume one stage.

    A cached stage is reused only if its manifest exists AND every
    dependency's current manifest checksum matches what this stage
    recorded — upstream changes invalidate downstream stages.  A reused
    stage opens with the manifest's schema and runs no Spark job.

    A computed stage is committed in one pass: the write observes the
    row count and the checksum (``bit_xor`` of ``xxhash64`` over every
    column cast to string, NULL as ``\\x00``; independent of row order
    and partitioning).  Columns are hashed and recorded in the order a
    re-read has them, the ``partition_by`` columns last.  Partition
    columns keep their written type: the stage reopens with it instead
    of the type Spark would infer from the directory names (a ``bigint``
    column of small values stays ``bigint``, not ``int``).  A string
    partition value that a directory name cannot carry (``""``) reads
    back as NULL, but is hashed as written.
    """
    out_dir = os.path.join(workdir, stage)
    dep_chk = {d: (load_manifest(workdir, d) or {}).get("checksum") for d in deps}
    man = load_manifest(workdir, stage)
    if (
        not force
        and man is not None
        and man.get("deps") == dep_chk
        and os.path.exists(os.path.join(out_dir, "_SUCCESS"))
    ):
        schema = _recorded_schema(man)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(out_dir)

    t0 = time.time()
    df = compute()
    schema = StructType(
        [f for f in df.schema if f.name not in partition_by]
        + [df.schema[c] for c in partition_by]
    )
    cols = [F.coalesce(F.col(f.name).cast("string"), F.lit("\x00")) for f in schema]
    obs = Observation()
    writer = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("checksum"),
    ).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)
    out = spark.read.schema(schema).parquet(out_dir)
    seen = obs.get
    man = {
        "stage": stage,
        "rows": seen["rows"],
        "checksum": seen["checksum"] or 0,  # bit_xor of no rows is NULL
        "schema": schema.simpleString(),
        "deps": dep_chk,
        "elapsed_sec": round(time.time() - t0, 3),
        "partitions": out.rdd.getNumPartitions(),
    }
    with open(manifest_path(workdir, stage), "w") as f:
        json.dump(man, f, indent=2)
    return out


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage rows for a stage output."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return (
        df.withColumn("part_id", F.spark_partition_id())
        .withColumn("h", F.xxhash64(*cols))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.expr("bit_xor(h)").alias("checksum"))
        .withColumn("stage", F.lit(stage))
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    *,
    strict: bool = False,
    salt_partitions: Optional[int] = None,
) -> dict[str, DataFrame]:
    """pages → {quads, quarantine, components, canonical_quads, graph,
    terms, lineage} with every stage checkpointed under ``workdir``."""
    os.makedirs(workdir, exist_ok=True)

    quads_all = run_stage(
        spark,
        workdir,
        "extract",
        lambda: extract_quads(pages, strict=strict, from_html=True),
    )
    good, bad = split_quarantine(quads_all)
    quarantine = run_stage(
        spark, workdir, "quarantine", lambda: bad, deps=("extract",)
    )

    def _components() -> DataFrame:
        edges = sameas_edges(good)
        return connected_components(edges)

    components = run_stage(
        spark, workdir, "components", _components, deps=("extract",)
    )

    def _canonical() -> DataFrame:
        df = canonicalize_entities(good, components)
        if salt_partitions:
            # head-predicate skew: salt on (p, hash(s)) before downstream
            # predicate-grouped consumers (SURVEY.md §4 item 1)
            df = df.repartition(
                salt_partitions,
                F.col("p"),
                F.pmod(F.xxhash64("s"), F.lit(16)),
            )
        return df

    canonical = run_stage(
        spark, workdir, "canonicalize", _canonical, deps=("extract", "components")
    )

    def _graph() -> DataFrame:
        # predicate-bucketed layout: partition pruning + pushdown reach the
        # scan for p-constant patterns (tests/test_plan_quality.py), the
        # physical design that replaces sophia's POS index at scale
        return graph_table(canonical).withColumn(
            "p_part",
            F.abs(F.pmod(F.xxhash64("p"), F.lit(64))).cast("int"),
        )

    graph = run_stage(
        spark, workdir, "graph", _graph, deps=("canonicalize",),
        partition_by=("p_part",),
    )
    terms = run_stage(
        spark, workdir, "terms", lambda: term_table(canonical), deps=("canonicalize",)
    )
    lineage = run_stage(
        spark,
        workdir,
        "lineage",
        lambda: partition_lineage(graph, "graph").unionByName(
            partition_lineage(terms, "terms")
        ),
        deps=("graph", "terms"),
    )
    return {
        "quads": good,
        "quarantine": quarantine,
        "components": components,
        "canonical_quads": canonical,
        "graph": graph,
        "terms": terms,
        "lineage": lineage,
    }
