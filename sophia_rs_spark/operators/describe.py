"""DESCRIBE — concise-bounded-description, reference-faithful.

Mirrors `sparql/src/exec/describe_iter.rs:40-115` (behavior pinned by
the DESCRIBE battery in `sparql/src/test.rs:2352-2455`):

- triples mentioning a described term in SUBJECT or OBJECT position are
  included (symmetric CBD);
- blank nodes appearing in included triples — including blank nodes
  INSIDE triple terms — are described transitively;
- reifications ride along: a triple whose object is the triple term
  ``<<( s p o )>>`` of an included triple is included too (that is how
  RDF 1.2 annotations `{| ... |}` surface), and its reifier expands
  further if it is a blank node;
- terms mentioned only INSIDE an (unasserted) triple term do not pull
  that triple in.

Each round is a :func:`~.fixpoint.semi_naive` step: semi-joins over the
triples table keyed by the (small) set of blank nodes and triple terms of
the previous round's new triples, so the loop is frontier-sized, not
corpus-sized; the anti-join against the triples already included drops
repeats, so a blank node met twice adds nothing the second time.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import semi_naive


def _tt_bnodes(enc: str, out: List[str]) -> None:
    from ..functions.triple_terms import split_triple_term

    parts = split_triple_term(enc)
    if parts is None:
        return
    for p in parts:
        if p.startswith("_:"):
            out.append(p)
        elif p.startswith("<<("):
            _tt_bnodes(p, out)


def _bnode_terms(df: DataFrame) -> DataFrame:
    """Blank nodes in s/o of the given triples, including inside triple
    terms (split-based — literals whose text merely contains '_:' do
    not false-positive)."""
    direct = (
        df.select(F.col("s").alias("term"))
        .unionByName(df.select(F.col("o").alias("term")))
        .filter(F.col("term").startswith("_:"))
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            found: List[str] = []
            for col in ("s", "o"):
                for enc in pdf[col]:
                    if enc and enc.startswith("<<("):
                        _tt_bnodes(enc, found)
            yield pd.DataFrame({"term": found})

    inside = df.select("s", "o").mapInPandas(extract, schema="term string")
    return direct.unionByName(inside).distinct()


def _mentioning(triples: DataFrame, terms: DataFrame) -> DataFrame:
    """Triples with a ``term`` in subject or object position."""
    by_s = triples.join(terms.withColumnRenamed("term", "s"), "s", "left_semi")
    by_o = triples.join(terms.withColumnRenamed("term", "o"), "o", "left_semi")
    return by_s.unionByName(by_o)


def describe(triples: DataFrame, seeds: DataFrame, max_iter: int = 20) -> DataFrame:
    """CBD of the seed terms (column ``term``) over triples (s, p, o)."""
    spo = triples.select("s", "p", "o")
    base = _mentioning(spo, seeds.select("term")).distinct()

    def expand(new: DataFrame, _known: DataFrame, _row) -> DataFrame:
        # new blank nodes (incl. inside triple terms) + reification keys
        tts = new.select(
            F.concat(
                F.lit("<<( "), "s", F.lit(" "), "p", F.lit(" "), "o", F.lit(" )>>")
            ).alias("o")
        )
        return _mentioning(spo, _bnode_terms(new)).unionByName(
            spo.join(tts, "o", "left_semi")
        )

    return semi_naive(
        "describe",
        base.localCheckpoint(eager=False),
        expand,
        max_iter=max_iter,
    )
