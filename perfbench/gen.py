"""Seeded input generators.  The seed is the only argument that shapes the
inputs; the program under test receives only what these functions make.

Every generator also returns what a correct program must produce from its
inputs, derived from the generator's own bookkeeping (never from the
program), so the workloads can check every output.

Seed-dependent properties vary inside narrow ranges: a run measures a
different input each time, but the amount of work stays close enough from
seed to seed that medians of two sets of runs are comparable.
"""

from __future__ import annotations

import datetime
import html as _html
import json
import random
from dataclasses import dataclass

import pandas as pd

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
RDF_TYPE = f"<{RDF}type>"
CRAWL = "http://crawl.example/"
CVOC = CRAWL + "voc#"
EX = "http://example.org/"
VOC = EX + "voc#"

FORMATS = ("nt", "ttl", "jsonld", "rdfxml")
BAD_LINE = '<http://crawl.example/broken <http://crawl.example/voc#x> "y" .'


def rng_for(seed: int, stream: str) -> random.Random:
    """An independent, reproducible random stream per (seed, purpose)."""
    return random.Random(f"perfbench:{seed}:{stream}")


def iri(x: str) -> str:
    return f"<{x}>"


def int_lit(n: int) -> str:
    return f'"{n}"^^<{XSD_INT}>'


# ---------------------------------------------------------------------------
# Crawl segments (build; also the crawl part of the query graph)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlParams:
    pages: int
    fmt_weights: tuple  # share of nt, ttl, jsonld, rdfxml payloads
    dup_share: float  # pages whose payload byte-duplicates an earlier page
    chain_lens: tuple  # owl:sameAs edges per chain
    head_share: float  # share of entities typed with the one head class
    malformed_share: float  # N-Triples payloads carrying one broken line


def crawl_params(seed: int, pages: int, max_chain: int = 3) -> CrawlParams:
    r = rng_for(seed, "crawl-params")
    nt = r.uniform(0.6, 0.7)
    ttl, js = (1 - nt) * r.uniform(0.3, 0.4), (1 - nt) * r.uniform(0.3, 0.4)
    n_chains = max(2, pages // 15)
    # one chain always has the maximum length, so the number of
    # min-label rounds (the diameter) is the same for every seed
    lens = [max_chain] + [r.randint(1, max_chain) for _ in range(n_chains - 1)]
    return CrawlParams(
        pages=pages,
        fmt_weights=(nt, ttl, js, 1 - nt - ttl - js),
        dup_share=r.uniform(0.05, 0.12),
        chain_lens=tuple(lens),
        head_share=r.uniform(0.35, 0.55),
        malformed_share=r.uniform(0.01, 0.03),
    )


def _render(fmt: str, e: str, triples: list[tuple[str, str, str]], bad: bool) -> str:
    """One page's HTML carrying ``triples`` (all about subject ``e``)."""
    if fmt == "nt":
        lines = [f"{s} {p} {o} ." for s, p, o in triples]
        if bad:
            lines.insert(len(lines) // 2, BAD_LINE)
        body = f'<pre data-format="nt">{_html.escape(chr(10).join(lines), quote=False)}</pre>'
    elif fmt == "ttl":
        preds = [f"{'a' if p == RDF_TYPE else p} {o}" for _, p, o in triples]
        text = f"@prefix v: <{CVOC}> .\n{e} " + " ;\n    ".join(preds) + " ."
        body = f'<pre data-format="ttl">{_html.escape(text, quote=False)}</pre>'
    elif fmt == "jsonld":
        doc: dict = {"@id": e[1:-1]}
        for _, p, o in triples:
            if p == RDF_TYPE:
                doc["@type"] = o[1:-1]
            elif o.startswith("<"):
                doc[p[1:-1]] = {"@id": o[1:-1]}
            elif "^^" in o:
                doc[p[1:-1]] = {"@value": o.split('"')[1], "@type": XSD_INT}
            else:
                doc[p[1:-1]] = o[1:-1]
        body = f'<script type="application/ld+json">{json.dumps(doc, sort_keys=True)}</script>'
    else:
        props = []
        for _, p, o in triples:
            tag = "rdf:type" if p == RDF_TYPE else (
                "owl:sameAs" if p == iri(OWL_SAMEAS) else "v:" + p[1:-1].rsplit("#", 1)[1]
            )
            if o.startswith("<"):
                props.append(f'<{tag} rdf:resource="{o[1:-1]}"/>')
            elif "^^" in o:
                props.append(f'<{tag} rdf:datatype="{XSD_INT}">{o.split(chr(34))[1]}</{tag}>')
            else:
                props.append(f"<{tag}>{o[1:-1]}</{tag}>")
        text = (
            f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:owl="http://www.w3.org/2002/07/owl#" '
            f'xmlns:v="{CVOC}"><rdf:Description rdf:about="{e[1:-1]}">'
            + "".join(props)
            + "</rdf:Description></rdf:RDF>"
        )
        body = f'<pre data-format="rdfxml">{_html.escape(text, quote=False)}</pre>'
    return (
        '<!DOCTYPE html>\n<html lang="en"><head><meta charset="utf-8">'
        f"<title>page</title></head><body>\n{body}\n</body></html>"
    )


@dataclass
class CrawlSegment:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    quads: pd.DataFrame  # url, s, p, o: every good triple, per page
    bad_rows: int
    fmt: list  # payload format per page
    expected: dict  # stage name → pandas frame a correct pipeline commits


def crawl_segment(seed: int, seg: int, params: CrawlParams) -> CrawlSegment:
    r = rng_for(seed, f"crawl-{seg}")
    n = params.pages
    ent = [iri(f"{CRAWL}s{seg}/e{i:05d}") for i in range(n)]
    dup_of = [None] * n
    for i in range(1, n):
        if r.random() < params.dup_share:
            dup_of[i] = r.randrange(i)
            while dup_of[dup_of[i]] is not None:
                dup_of[i] = dup_of[dup_of[i]]
    # sameAs chains over consecutive original (non-duplicate) pages
    originals = [i for i in range(n) if dup_of[i] is None]
    nxt: dict[int, int] = {}
    pos = 0
    for length in params.chain_lens:
        if pos + length >= len(originals):
            break
        for k in range(length):
            nxt[originals[pos + k]] = originals[pos + k + 1]
        pos += length + 1 + r.randint(0, 3)
    fw = params.fmt_weights
    rows, quads, fmts, bad_rows = [], [], [], 0
    page_triples: list = [None] * n
    page_html: list = [None] * n
    page_bad = [False] * n
    t0 = datetime.datetime(2026, 1, 1)
    for i in range(n):
        url = f"https://crawl.example/s{seg}/p{i:05d}"
        if dup_of[i] is None:
            fmt = r.choices(FORMATS, weights=fw)[0]
            cls = 0 if r.random() < params.head_share else r.randint(1, 40)
            tr = [
                (ent[i], RDF_TYPE, iri(f"{CRAWL}C/{cls}")),
                (ent[i], iri(CVOC + "name"), f'"Entity {i} of segment {seg}"'),
                (ent[i], iri(CVOC + "score"), int_lit(r.randint(0, 10_000))),
                (ent[i], iri(CVOC + "cites"), ent[r.randrange(n)]),
            ]
            if i in nxt:
                tr.append((ent[i], iri(OWL_SAMEAS), ent[nxt[i]]))
            bad = fmt == "nt" and r.random() < params.malformed_share
            page_triples[i], page_bad[i] = tr, bad
            page_html[i] = _render(fmt, ent[i], tr, bad)
            fmts.append(fmt)
        else:
            j = dup_of[i]
            page_triples[i], page_bad[i], page_html[i] = page_triples[j], page_bad[j], page_html[j]
            fmts.append(fmts[j])
        bad_rows += page_bad[i]
        quads.extend((url, s, p, o) for s, p, o in page_triples[i])
        rows.append((url, t0 + datetime.timedelta(seconds=i), page_html[i].encode(), "", "en"))
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    qdf = pd.DataFrame(quads, columns=["url", "s", "p", "o"])
    return CrawlSegment(pages, qdf, bad_rows, fmts, expected_build(qdf))


def components_of(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Undirected components → {member: min member} (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _kind(t: str) -> int:
    return 0 if t.startswith("_:") else 3 if t.startswith("<<(") else (
        1 if t.startswith("<") else 2 if t.startswith('"') else 4
    )


def expected_build(quads: pd.DataFrame) -> dict:
    """What ``run_pipeline`` must commit for these good quads."""
    same = quads[quads["p"] == iri(OWL_SAMEAS)]
    comp = components_of(list(zip(same["s"], same["o"])))
    canon = quads.assign(
        s=quads["s"].map(lambda x: comp.get(x, x)),
        o=quads["o"].map(lambda x: comp.get(x, x)),
    )
    graph = canon.groupby(["s", "p", "o"], as_index=False)["url"].min()
    graph = graph.rename(columns={"url": "src_url"})
    terms = pd.DataFrame({"term": sorted(set(canon["s"]) | set(canon["p"]) | set(canon["o"]))})
    terms["kind"] = terms["term"].map(_kind)
    return {
        "components": pd.DataFrame(sorted(comp.items()), columns=["member", "comp"]),
        "canonicalize": canon,
        "graph": graph,
        "terms": terms,
    }


# ---------------------------------------------------------------------------
# TPC-H-shaped tables (query, reason)
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def tpch_tables(seed: int, customers: int, orders: int, parts: int, chain: int) -> dict:
    """region, nation, customer, supplier, orders and part tables.  Parts
    form supersession chains of at most ``chain`` links ending at part 0,
    which has no row of its own."""
    r = rng_for(seed, "tpch")
    region = pd.DataFrame({"r_regionkey": range(5), "r_name": list(REGIONS)})
    nation = pd.DataFrame(
        {
            "n_nationkey": range(25),
            "n_name": [f"NATION{k:02d}" for k in range(25)],
            "n_regionkey": [k % 5 for k in range(25)],
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": range(1, customers + 1),
            "c_name": [f"Customer#{k:09d}" for k in range(1, customers + 1)],
            "c_mktsegment": [r.choice(SEGMENTS) for _ in range(customers)],
            "c_nationkey": [r.randrange(25) for _ in range(customers)],
        }
    )
    n_supp = max(10, customers // 15)
    supplier = pd.DataFrame(
        {
            "s_suppkey": range(1, n_supp + 1),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
            "s_nationkey": [r.randrange(25) for _ in range(n_supp)],
        }
    )
    orders_df = pd.DataFrame(
        {
            "o_orderkey": range(1, orders + 1),
            "o_custkey": [r.randint(1, customers) for _ in range(orders)],
            "o_totalprice": [r.randint(1_000, 500_000) for _ in range(orders)],
            "o_orderstatus": [r.choice("FOP") for _ in range(orders)],
        }
    )
    sup, run = [], 0
    for k in range(1, parts + 1):
        run = 0 if run >= chain or r.random() < 1 / chain else run + 1
        sup.append(0 if run == 0 else k - 1)
    part = pd.DataFrame(
        {
            "p_partkey": range(1, parts + 1),
            "p_name": [f"part {k}" for k in range(1, parts + 1)],
            "p_size": [r.randint(1, 50) for _ in range(parts)],
            "p_supersedes": sup,
        }
    )
    for df in (region, nation, customer, supplier, orders_df, part):
        for c in df.columns:
            if df[c].dtype.kind == "i":
                df[c] = df[c].astype("int64")
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders_df, "part": part,
    }


def mappings():
    """The direct mapping of :func:`tpch_tables`: the program's default
    mapping plus orders and parts."""
    from sophia_rs_spark.sources.direct_mapping import (
        DEFAULT_MAPPINGS, ColumnMap, TableMap,
    )

    return list(DEFAULT_MAPPINGS) + [
        TableMap("orders", "o_orderkey", "order", "Order", [
            ColumnMap("o_custkey", VOC + "placedBy", "link", EX + "customer/"),
            ColumnMap("o_totalprice", VOC + "totalprice", "integer"),
            ColumnMap("o_orderstatus", VOC + "status"),
        ]),
        TableMap("part", "p_partkey", "part", "Part", [
            ColumnMap("p_name", VOC + "name"),
            ColumnMap("p_size", VOC + "size", "integer"),
            ColumnMap("p_supersedes", VOC + "supersedes", "link", EX + "part/"),
        ]),
    ]


# ---------------------------------------------------------------------------
# Query request stream
# ---------------------------------------------------------------------------

TEMPLATES = ("lookup", "join_filter", "optional_agg", "distinct_agg", "path", "update")
P = {k: f"<{VOC}{k}>" for k in (
    "name", "segment", "inNation", "inRegion", "placedBy", "totalprice",
    "status", "supersedes",
)}


@dataclass(frozen=True)
class Request:
    template: str
    text: str
    args: tuple
    repeat: bool


def _fresh(r: random.Random, template: str, n_cust: int, n_parts: int) -> Request:
    if template == "lookup":
        c = r.randint(1, n_cust)
        return Request(template, f"SELECT ?p ?o WHERE {{ <{EX}customer/{c}> ?p ?o }}", (c,), False)
    if template == "join_filter":
        n, t = r.randrange(25), r.randint(300_000, 480_000)
        return Request(template, (
            f"SELECT ?o ?c ?price WHERE {{ ?o {P['placedBy']} ?c . "
            f"?o {P['totalprice']} ?price . ?c {P['inNation']} <{EX}nation/{n}> . "
            f"FILTER(?price > {t}) }}"
        ), (n, t), False)
    if template == "optional_agg":
        n, t = r.randrange(25), r.randint(100_000, 450_000)
        return Request(template, (
            f"SELECT ?seg (COUNT(?o) AS ?n) (COUNT(?c) AS ?rows) WHERE {{ "
            f"?c {P['segment']} ?seg . ?c {P['inNation']} <{EX}nation/{n}> . "
            f"OPTIONAL {{ ?o {P['placedBy']} ?c . ?o {P['totalprice']} ?price . "
            f"FILTER(?price > {t}) }} }} GROUP BY ?seg"
        ), (n, t), False)
    if template == "distinct_agg":
        reg = r.randrange(5)
        return Request(template, (
            f"SELECT ?n (COUNT(DISTINCT ?seg) AS ?k) "
            f"(GROUP_CONCAT(DISTINCT ?seg; separator=\",\") AS ?segs) WHERE {{ "
            f"?n {P['inRegion']} <{EX}region/{reg}> . ?c {P['inNation']} ?n . "
            f"?c {P['segment']} ?seg }} GROUP BY ?n"
        ), (reg,), False)
    if template == "path":
        p = r.randint(1, n_parts)
        return Request(template, (
            f"SELECT ?x WHERE {{ <{EX}part/{p}> {P['supersedes']}+ ?x }}"
        ), (p,), False)
    n, seg = r.randrange(25), r.choice(SEGMENTS)
    return Request("update", (
        f"DELETE {{ ?c {P['segment']} ?old }} INSERT {{ ?c {P['segment']} \"{seg}\" }} "
        f"WHERE {{ ?c {P['segment']} ?old . ?c {P['inNation']} <{EX}nation/{n}> }}"
    ), (n, seg), False)


READS = tuple(t for t in TEMPLATES if t != "update")
# refreshed in every cycle: the aggregation and the fixpoint template,
# whose plans cost the most to build
REPEATED = ("optional_agg", "path")
CYCLE_LEN = len(READS) + len(REPEATED) + 1


def request_stream(seed: int, n: int, n_cust: int, n_parts: int) -> list[Request]:
    """``n`` requests in cycles of ``CYCLE_LEN``: each read template once
    with fresh seeded constants, in a seeded order; the ``REPEATED``
    requests repeated exactly later in the cycle, at seeded places
    (dashboard refresh); the update last.  The update commits a new graph
    version, and a new version is a new dataset for the program's plan
    memo, so a repeat placed after it would cost as much as a fresh
    request.  Fixing the update's place and which templates repeat makes
    every cycle the same amount of work, for every seed and whatever the
    number of cycles a run completes."""
    r = rng_for(seed, "requests")
    out: list[Request] = []
    while len(out) < n:
        reads = [_fresh(r, t, n_cust, n_parts) for t in READS]
        r.shuffle(reads)
        for t in REPEATED:
            orig = next(i for i, q in enumerate(reads) if q.template == t and not q.repeat)
            pos = r.randint(orig + 1, len(reads))
            reads.insert(pos, Request(t, reads[orig].text, reads[orig].args, True))
        out.extend(reads + [_fresh(r, "update", n_cust, n_parts)])
    return out[:n]


# ---------------------------------------------------------------------------
# Fixpoint inputs (reason)
# ---------------------------------------------------------------------------

RX = "http://reason.example/"


def schema_hierarchy(seed: int, depth: int) -> list[tuple[str, str, str]]:
    """A class and a property hierarchy of ``depth`` levels over the
    direct-mapped vocabulary, with domains and ranges."""
    r = rng_for(seed, "schema")
    sc, sp = f"<{RDFS}subClassOf>", f"<{RDFS}subPropertyOf>"
    out = []
    for base in ("Customer", "Order", "Part", "Supplier"):
        prev = f"<{VOC}{base}>"
        for d in range(depth):
            nxt = f"<{VOC}{base}Super{d}_{r.randrange(1000)}>"
            out.append((prev, sc, nxt))
            prev = nxt
        out.append((prev, sc, f"<{VOC}Thing>"))
    prev = P["placedBy"]
    for d in range(depth):
        nxt = f"<{VOC}relatesTo{d}_{r.randrange(1000)}>"
        out.append((prev, sp, nxt))
        prev = nxt
    out += [
        (P["placedBy"], f"<{RDFS}domain>", f"<{VOC}Order>"),
        (P["placedBy"], f"<{RDFS}range>", f"<{VOC}Customer>"),
        (P["inNation"], f"<{RDFS}domain>", f"<{VOC}Located>"),
        (P["inNation"], f"<{RDFS}range>", f"<{VOC}Place>"),
        (prev, f"<{RDFS}range>", f"<{VOC}Party>"),
    ]
    return out


def sameas_chains(seed: int, chains: int, diameter: int) -> list[tuple[str, str]]:
    """``chains`` owl:sameAs chains of at most ``diameter`` edges (one of
    exactly ``diameter``), node labels shuffled so the component minimum
    sits anywhere along the chain."""
    r = rng_for(seed, "cc")
    edges = []
    for c in range(chains):
        length = diameter if c == 0 else r.randint(1, diameter)
        labels = [iri(f"{RX}cc/{r.randrange(10**6):06d}-{c}-{k}") for k in range(length + 1)]
        edges += list(zip(labels, labels[1:]))
    r.shuffle(edges)
    return edges


def chain_forest(seed: int, stream: str, nodes: int, depth: int) -> list[tuple[str, str]]:
    """A forest of parent chains: each node links to its parent, at most
    ``depth`` links from a root (one chain reaches exactly ``depth``)."""
    r = rng_for(seed, stream)
    level = [0] * nodes
    edges = []
    name = [iri(f"{RX}{stream}/{k}") for k in range(nodes)]
    for k in range(1, nodes):
        if k <= depth:
            parent = k - 1  # the one full-depth chain
        else:
            parent = r.randrange(k)
            if level[parent] >= depth or r.random() < 0.1:
                continue  # a new root
        level[k] = level[parent] + 1
        edges.append((name[k], name[parent]))
    r.shuffle(edges)
    return edges
