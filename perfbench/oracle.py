"""DuckDB oracles: order-independent fingerprints of committed outputs and
the SQL twin of every query template, update and fixpoint job."""

from __future__ import annotations

import glob
import os
import re

import duckdb
import pandas as pd

from .gen import EX, P, RDF_TYPE, RDFS

_NUM = re.compile(r'^"(-?[0-9]+)"\^\^')


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _fp_sql(src: str, cols: list[str]) -> str:
    h = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '')" for c in cols)
    return f"SELECT count(*) AS n, coalesce(bit_xor(hash({h})), 0) AS x FROM {src}"


def parquet_src(path: str) -> str:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return "(SELECT NULL AS _ WHERE false)"
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}', hive_partitioning=true)"


def fingerprint(con, src: str, cols: list[str]) -> tuple[int, int]:
    """(row count, bit_xor of row hashes) of a table, view or subquery."""
    n, x = con.execute(_fp_sql(src, cols)).fetchone()
    return int(n), int(x)


def fingerprint_df(con, df: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    con.register("_fp_df", df)
    try:
        return fingerprint(con, "_fp_df", cols)
    finally:
        con.unregister("_fp_df")


# ---------------------------------------------------------------------------
# query: the SQL twin of each template over the oracle's ``triples`` table
# ---------------------------------------------------------------------------

def _num(col: str) -> str:
    return f"CAST(regexp_extract({col}, '^\"(-?[0-9]+)\"', 1) AS BIGINT)"


def load_graph(con, tables: dict, mappings, crawl_graph: pd.DataFrame) -> None:
    """Create the oracle's ``triples`` table: the direct-mapping SQL twin
    over the relational tables plus the crawl graph."""
    from sophia_rs_spark.sources.direct_mapping import duckdb_cte

    for name, df in tables.items():
        con.register(f"_t_{name}", df)
        con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM _t_{name}")
        con.unregister(f"_t_{name}")
    con.register("_crawl", crawl_graph)
    con.execute(
        f"CREATE OR REPLACE TABLE triples AS SELECT s, p, o FROM ({duckdb_cte(mappings)}) "
        "UNION ALL SELECT s, p, o FROM _crawl"
    )
    con.unregister("_crawl")


def expected_rows(con, req) -> list[tuple]:
    """The oracle answer of a read request, normalized like
    :func:`normalize` normalizes the engine's rows."""
    t, a = req.template, req.args
    if t == "lookup":
        return sorted(con.execute(
            "SELECT p, o FROM triples WHERE s = ?", [f"<{EX}customer/{a[0]}>"]
        ).fetchall())
    if t == "join_filter":
        n, th = a
        return sorted(con.execute(f"""
            SELECT x.s, x.o, y.o FROM triples x
            JOIN triples y ON y.s = x.s AND y.p = '{P['totalprice']}'
            JOIN triples z ON z.s = x.o AND z.p = '{P['inNation']}' AND z.o = '<{EX}nation/{n}>'
            WHERE x.p = '{P['placedBy']}' AND {_num('y.o')} > {th}""").fetchall())
    if t == "optional_agg":
        n, th = a
        return sorted(con.execute(f"""
            WITH cs AS (
              SELECT a.s AS c, a.o AS seg FROM triples a
              JOIN triples b ON b.s = a.s AND b.p = '{P['inNation']}' AND b.o = '<{EX}nation/{n}>'
              WHERE a.p = '{P['segment']}'),
            op AS (
              SELECT x.s AS o, x.o AS c FROM triples x
              JOIN triples y ON y.s = x.s AND y.p = '{P['totalprice']}'
              WHERE x.p = '{P['placedBy']}' AND {_num('y.o')} > {th})
            SELECT cs.seg, count(op.o), count(*)
            FROM cs LEFT JOIN op ON op.c = cs.c GROUP BY cs.seg""").fetchall())
    if t == "distinct_agg":
        rows = con.execute(f"""
            SELECT n.s, count(DISTINCT sg.o), list(DISTINCT substr(sg.o, 2, length(sg.o) - 2))
            FROM triples n
            JOIN triples c ON c.p = '{P['inNation']}' AND c.o = n.s
            JOIN triples sg ON sg.s = c.s AND sg.p = '{P['segment']}'
            WHERE n.p = '{P['inRegion']}' AND n.o = '<{EX}region/{a[0]}>'
            GROUP BY n.s""").fetchall()
        return sorted((n, k, tuple(sorted(v))) for n, k, v in rows)
    if t == "path":
        return sorted(con.execute(f"""
            WITH RECURSIVE r(x) AS (
              SELECT o FROM triples WHERE s = '<{EX}part/{a[0]}>' AND p = '{P['supersedes']}'
              UNION
              SELECT t.o FROM r JOIN triples t ON t.s = r.x AND t.p = '{P['supersedes']}')
            SELECT x FROM r""").fetchall())
    raise ValueError(t)


def _lex_int(v: str) -> int:
    m = _NUM.match(v or "")
    if m is None:
        raise ValueError(f"not an integer literal: {v!r}")
    return int(m.group(1))


def normalize(req, rows: list) -> list[tuple]:
    """Engine result rows → the oracle's shape."""
    t = req.template
    if t == "optional_agg":
        return sorted((r[0], _lex_int(r[1]), _lex_int(r[2])) for r in rows)
    if t == "distinct_agg":
        return sorted(
            (r[0], _lex_int(r[1]), tuple(sorted(r[2][1:-1].split(",")))) for r in rows
        )
    return sorted(tuple(r) for r in rows)


def apply_update(con, req) -> None:
    """The SQL twin of the ``update`` template: set the segment of every
    customer of one nation."""
    n, seg = req.args
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE _m AS
        SELECT DISTINCT a.s AS c FROM triples a
        JOIN triples b ON b.s = a.s AND b.p = '{P['inNation']}' AND b.o = '<{EX}nation/{n}>'
        WHERE a.p = '{P['segment']}'""")
    con.execute(f"DELETE FROM triples WHERE p = '{P['segment']}' AND s IN (SELECT c FROM _m)")
    con.execute(f"INSERT INTO triples SELECT c, '{P['segment']}', '\"{seg}\"' FROM _m")


# ---------------------------------------------------------------------------
# reason
# ---------------------------------------------------------------------------

def closure_fp(con, edges: list[tuple[str, str]]) -> tuple[int, int]:
    """Transitive closure of an edge list by a recursive CTE."""
    con.register("_e", pd.DataFrame(edges, columns=["a", "b"]))
    try:
        return fingerprint(con, """(
            WITH RECURSIVE r(a, b) AS (
              SELECT a, b FROM _e
              UNION
              SELECT r.a, _e.b FROM r JOIN _e ON _e.a = r.b)
            SELECT a, b FROM r)""", ["a", "b"])
    finally:
        con.unregister("_e")


def rdfs_base_rows(con, mappings, schema: list[tuple[str, str, str]]) -> int:
    """Distinct triples rdfs_saturate starts from."""
    from sophia_rs_spark.sources.direct_mapping import duckdb_cte

    con.register("_schema", pd.DataFrame(schema, columns=["s", "p", "o"]))
    try:
        return con.execute(
            f"SELECT count(*) FROM (SELECT s, p, o FROM ({duckdb_cte(mappings)}) "
            "UNION SELECT s, p, o FROM _schema)"
        ).fetchone()[0]
    finally:
        con.unregister("_schema")


def rdfs_fp(con, mappings, schema: list[tuple[str, str, str]]) -> tuple[int, int]:
    """RDFS closure (rdfs2/3/5/7/9/11) of the direct-mapped tables already
    loaded into ``con`` plus ``schema``.  The schema has no rules about
    schema predicates, so one pass after closing the hierarchies is the
    fixpoint."""
    from sophia_rs_spark.sources.direct_mapping import duckdb_cte

    con.register("_schema", pd.DataFrame(schema, columns=["s", "p", "o"]))
    sc, sp = f"<{RDFS}subClassOf>", f"<{RDFS}subPropertyOf>"
    dom, rng = f"<{RDFS}domain>", f"<{RDFS}range>"
    try:
        return fingerprint(con, f"""(
            WITH RECURSIVE base AS (
              SELECT s, p, o FROM ({duckdb_cte(mappings)}) UNION SELECT s, p, o FROM _schema),
            scc(a, b) AS (
              SELECT s, o FROM base WHERE p = '{sc}'
              UNION SELECT scc.a, x.o FROM scc JOIN base x ON x.s = scc.b AND x.p = '{sc}'),
            spc(a, b) AS (
              SELECT s, o FROM base WHERE p = '{sp}'
              UNION SELECT spc.a, x.o FROM spc JOIN base x ON x.s = spc.b AND x.p = '{sp}'),
            b2 AS (
              SELECT s, p, o FROM base
              UNION SELECT base.s, spc.b, base.o FROM base JOIN spc ON base.p = spc.a),
            typed AS (
              SELECT s, o FROM b2 WHERE p = '{RDF_TYPE}'
              UNION SELECT b2.s, d.o FROM b2 JOIN base d ON d.s = b2.p AND d.p = '{dom}'
              UNION SELECT b2.o, r.o FROM b2 JOIN base r ON r.s = b2.p AND r.p = '{rng}'
                    WHERE NOT starts_with(b2.o, '"'))
            SELECT s, p, o FROM b2
            UNION SELECT s, '{RDF_TYPE}', o FROM typed
            UNION SELECT typed.s, '{RDF_TYPE}', scc.b FROM typed JOIN scc ON typed.o = scc.a
            UNION SELECT a, '{sc}', b FROM scc
            UNION SELECT a, '{sp}', b FROM spc)""", ["s", "p", "o"])
    finally:
        con.unregister("_schema")
