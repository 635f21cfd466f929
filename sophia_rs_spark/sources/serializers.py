"""Serializers / sinks (SURVEY.md §2.2).

- N-Triples / N-Quads: vectorized column concat (the canonical encoding
  IS the serialization, `turtle/src/serializer/nt.rs` canonical mode) →
  ``df.write.text`` for distributed output; non-canonical mode uses
  TABs so the output doubles as TSV (nt.rs:44-55 rationale).
- Canonical sorted N-Quads (golden-file format): RDFC-1.0 relabel +
  global sort — driver-sized outputs.
- Pretty Turtle (`turtle/src/serializer/_pretty.rs`): subject grouping
  with ``;``/``,``, prefix abbreviation, ``a`` sugar — a driver-side
  printer for small graphs (the distributed path stays NT/NQ, as in
  SURVEY.md §2.2).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..terms.model import RDF


def nquads_lines(quads: DataFrame, *, canonical: bool = True) -> DataFrame:
    """One canonical N-Quads/N-Triples line per row (column ``line``)."""
    sep = " " if canonical else "\t"
    parts = [F.col("s"), F.col("p"), F.col("o")]
    if "g" in quads.columns:
        parts.append(F.col("g"))  # concat_ws skips NULL (default graph)
    end = " ." if canonical else "\t."
    return quads.select(
        F.concat(F.concat_ws(sep, *parts), F.lit(end)).alias("line")
    )


def canonical_nquads(quads_with_url: DataFrame) -> List[str]:
    """Golden-file output: RDFC-1.0 relabel per url + globally sorted
    canonical N-Quads (the c14n example flow, SURVEY.md §3.3).
    Driver-sized results only."""
    from ..operators.c14n import canonicalize_by_url

    relabeled = canonicalize_by_url(quads_with_url)
    lines = nquads_lines(relabeled.select("s", "p", "o", "g"))
    return sorted(r["line"] for r in lines.collect())


# ---------------------------------------------------------------------------
# Pretty Turtle (driver-side)
# ---------------------------------------------------------------------------


def _abbrev(term: str, prefixes: Dict[str, str]) -> str:
    if term == f"<{RDF}type>":
        return "a"
    if term.startswith("<"):
        iri = term[1:-1]
        for pfx, ns in prefixes.items():
            if iri.startswith(ns):
                local = iri[len(ns):]
                if local and all(c.isalnum() or c in "_-" for c in local):
                    return f"{pfx}:{local}"
    return term


def pretty_turtle(
    triples: List[Tuple[str, str, str]],
    prefixes: Optional[Dict[str, str]] = None,
) -> str:
    """Pretty-print (s, p, o) canonical-encoded triples as Turtle with
    prefix declarations, subject grouping (``;``) and object lists
    (``,``) — mirroring the reference's pretty mode semantics."""
    prefixes = prefixes or {}
    out = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    if out:
        out.append("")
    by_subject: Dict[str, Dict[str, List[str]]] = {}
    subject_order: List[str] = []
    for s, p, o in triples:
        if s not in by_subject:
            by_subject[s] = {}
            subject_order.append(s)
        by_subject[s].setdefault(p, []).append(o)
    for s in subject_order:
        preds = by_subject[s]
        lines = []
        for p, objs in preds.items():
            objs_txt = ", ".join(_abbrev(o, prefixes) for o in objs)
            lines.append(f"{_abbrev(p, prefixes)} {objs_txt}")
        body = " ;\n    ".join(lines)
        out.append(f"{_abbrev(s, prefixes)} {body} .")
    return "\n".join(out) + "\n"
