"""Unit tests for graph ops (api/src/graph.rs semantics), property paths
(sparql/src/exec.rs:338-482), and the SPARQL function library
(sparql/src/function.rs)."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.functions import sparql_fns as FN
from sophia_rs_spark.operators import graph_ops as G
from sophia_rs_spark.operators import paths as P


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("<a>", "<p>", "<b>", None),
        ("<b>", "<p>", "<c>", None),
        ("<c>", "<p>", "<d>", None),
        ("<a>", "<q>", '"lit"', None),
        ("_:x", "<q>", '"10"^^<http://www.w3.org/2001/XMLSchema#integer>', "<g1>"),
        ("<a>", "<q>", '"bonjour"@fr', "<g1>"),
        ("<a>", "<q>", '"hi"@en--ltr', "<g2>"),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, g string")
    df.cache().count()
    yield df
    df.unpersist()


class TestGraphOps:
    def test_triples_matching_constants(self, triples):
        assert G.triples_matching(triples, s="<a>", p="<p>").count() == 1

    def test_matching_list_and_column(self, triples):
        assert G.triples_matching(triples, p=["<p>", "<q>"]).count() == 7
        assert G.triples_matching(triples, o=F.col("o").startswith('"')).count() == 4

    def test_contains(self, triples):
        assert G.contains(triples, "<a>", "<p>", "<b>")
        assert not G.contains(triples, "<a>", "<p>", "<z>")

    def test_projections(self, triples):
        assert G.predicates(triples).count() == 2
        assert G.subjects(triples).count() == 4

    def test_atoms_kinds(self, triples):
        kinds = {r["kind"] for r in G.atoms(triples).collect()}
        assert kinds == {0, 1, 2}

    def test_graph_views(self, triples):
        assert G.graph_view(triples, "<g1>").count() == 2
        assert G.graph_view(triples, None).count() == 4
        assert G.graph_names(triples).count() == 2
        assert G.union_graph(triples).count() == 7
        assert G.partial_union_graph(triples, ["<g1>", None]).count() == 6

    def test_quads_matching_default_graph(self, triples):
        assert G.quads_matching(triples, g=G.DEFAULT_GRAPH).count() == 4

    def test_mutation(self, spark, triples):
        new = spark.createDataFrame(
            [("<a>", "<p>", "<b>", None), ("<new>", "<p>", "<x>", None)],
            "s string, p string, o string, g string",
        )
        merged = G.insert_all(triples, new)
        assert merged.count() == 8  # 1 duplicate dropped
        removed = G.remove_all(merged, new)
        assert removed.count() == 6

    def test_as_dataset_roundtrip(self, spark):
        g = spark.createDataFrame([("<s>", "<p>", "<o>")], "s string, p string, o string")
        ds = G.as_dataset(g)
        assert ds.columns == ["s", "p", "o", "g"]
        assert ds.filter(F.col("g").isNull()).count() == 1


class TestPaths:
    def test_pred_and_reverse(self, triples):
        pp = P.pred(triples, "<p>")
        assert pp.count() == 3
        rev = {(r["src"], r["dst"]) for r in P.reverse(pp).collect()}
        assert ("<b>", "<a>") in rev

    def test_sequence(self, triples):
        pp = P.pred(triples, "<p>")
        two = {(r["src"], r["dst"]) for r in P.sequence(pp, pp).collect()}
        assert two == {("<a>", "<c>"), ("<b>", "<d>")}

    def test_one_or_more(self, triples):
        pp = P.pred(triples, "<p>")
        got = {(r["src"], r["dst"]) for r in P.one_or_more(pp).collect()}
        assert got == {
            ("<a>", "<b>"), ("<b>", "<c>"), ("<c>", "<d>"),
            ("<a>", "<c>"), ("<b>", "<d>"), ("<a>", "<d>"),
        }

    def test_one_or_more_cap_raises(self, spark):
        """A 45-edge chain needs 45 BFS rounds; at the default cap of 40
        p+ must fail instead of dropping every pair longer than 41."""
        chain = [(f"<n{i}>", f"<n{i + 1}>") for i in range(45)]
        pairs = spark.createDataFrame(chain, "src string, dst string")
        with pytest.raises(RuntimeError, match="one_or_more.*max_iter=40"):
            P.one_or_more(pairs).collect()

    def test_zero_or_more_includes_identity(self, triples):
        pp = P.pred(triples, "<p>")
        got = {(r["src"], r["dst"]) for r in P.zero_or_more(pp, triples).collect()}
        assert ("<a>", "<a>") in got and ('"lit"', '"lit"') in got
        assert ("<a>", "<d>") in got

    def test_zero_or_one(self, triples):
        pp = P.pred(triples, "<p>")
        got = {(r["src"], r["dst"]) for r in P.zero_or_one(pp, triples).collect()}
        assert ("<a>", "<b>") in got and ("<a>", "<a>") in got
        assert ("<a>", "<c>") not in got

    def test_alternative_and_negated(self, triples):
        alt = P.alternative(P.pred(triples, "<p>"), P.pred(triples, "<q>"))
        assert alt.count() == 7
        neg = P.negated_property_set(triples, ["<p>"])
        assert neg.count() == 4

    def test_cycle_terminates(self, spark):
        rows = [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<a>")]
        t = spark.createDataFrame(rows, "s string, p string, o string")
        got = {(r["src"], r["dst"]) for r in P.one_or_more(P.pred(t, "<p>")).collect()}
        assert got == {
            ("<a>", "<b>"), ("<b>", "<a>"), ("<a>", "<a>"), ("<b>", "<b>"),
        }


XSD = "http://www.w3.org/2001/XMLSchema#"


class TestSparqlFns:
    @pytest.fixture(scope="class")
    def terms(self, spark):
        vals = [
            "<http://e/x>",
            "_:b1",
            '"plain"',
            f'"42"^^<{XSD}integer>',
            f'"3.5"^^<{XSD}double>',
            '"chat"@fr',
            '"x"@ar--rtl',
            f'"true"^^<{XSD}boolean>',
            f'"notanum"^^<{XSD}integer>',
            '"with \\"esc\\""',
        ]
        df = spark.createDataFrame([(v,) for v in vals], "t string")
        rows = df.select(
            "t",
            FN.kind(F.col("t")).alias("kind"),
            FN.str_(F.col("t")).alias("str"),
            FN.lex(F.col("t")).alias("lex"),
            FN.lang(F.col("t")).alias("lang"),
            FN.datatype(F.col("t")).alias("dt"),
            FN.is_numeric(F.col("t")).alias("isnum"),
            FN.numeric_value(F.col("t")).alias("num"),
            FN.xsd_boolean(F.col("t")).alias("b"),
            FN.ebv(F.col("t")).alias("ebv"),
        ).collect()
        return {r["t"]: r for r in rows}

    def test_kind(self, terms):
        assert terms["<http://e/x>"]["kind"] == 1
        assert terms["_:b1"]["kind"] == 0
        assert terms['"plain"']["kind"] == 2

    def test_str(self, terms):
        assert terms["<http://e/x>"]["str"] == "http://e/x"
        assert terms['"plain"']["str"] == "plain"

    def test_lex_unescapes(self, terms):
        assert terms['"with \\"esc\\""']["lex"] == 'with "esc"'

    def test_lang(self, terms):
        assert terms['"chat"@fr']["lang"] == "fr"
        assert terms['"x"@ar--rtl']["lang"] == "ar"
        assert terms['"plain"']["lang"] == ""

    def test_datatype(self, terms):
        assert terms['"plain"']["dt"] == f"{XSD}string"
        assert terms[f'"42"^^<{XSD}integer>']["dt"] == f"{XSD}integer"
        assert terms['"chat"@fr']["dt"].endswith("langString")
        assert terms['"x"@ar--rtl']["dt"].endswith("dirLangString")
        assert terms["<http://e/x>"]["dt"] is None

    def test_numeric(self, terms):
        assert terms[f'"42"^^<{XSD}integer>']["isnum"] is True
        assert terms[f'"42"^^<{XSD}integer>']["num"] == 42.0
        assert terms[f'"notanum"^^<{XSD}integer>']["isnum"] is False
        assert terms[f'"notanum"^^<{XSD}integer>']["num"] is None
        assert terms['"plain"']["isnum"] is False

    def test_xsd_boolean(self, terms):
        assert terms[f'"true"^^<{XSD}boolean>']["b"] is True
        assert terms[f'"42"^^<{XSD}integer>']["b"] is True
        assert terms['"plain"']["b"] is None

    def test_ebv(self, terms):
        assert terms[f'"true"^^<{XSD}boolean>']["ebv"] is True
        assert terms[f'"42"^^<{XSD}integer>']["ebv"] is True
        assert terms['"plain"']["ebv"] is True  # non-empty string
        assert terms["<http://e/x>"]["ebv"] is None  # type error → NULL

    def test_order_key_numeric_not_lexical(self, spark):
        # SPARQL ORDER BY compares numerics by value: 2 < 10
        vals = [f'"10"^^<{XSD}integer>', f'"2"^^<{XSD}integer>']
        df = spark.createDataFrame([(v,) for v in vals], "t string")
        got = [r["t"] for r in df.orderBy(*FN.order_key(F.col("t"))).collect()]
        assert got == [f'"2"^^<{XSD}integer>', f'"10"^^<{XSD}integer>']

    def test_order_key_cross_kind(self, spark):
        vals = ['"zzz"', "<http://a>", "_:b"]
        df = spark.createDataFrame([(v,) for v in vals], "t string")
        got = [r["t"] for r in df.orderBy(*FN.order_key(F.col("t"))).collect()]
        assert got == ["_:b", "<http://a>", '"zzz"']  # bnode < iri < literal


class TestMatcherFactories:
    """Position-independent matchers (matcher/_not.rs, _datatype_matcher.rs,
    _language_tag_matcher.rs, _trait.rs:127)."""

    @pytest.fixture(scope="class")
    def mdata(self, spark):
        XSD = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            ("<x:a>", "<x:p>", '"plain"', None),
            ("<x:a>", "<x:p>", '"tagged"@en', None),
            ("<x:a>", "<x:p>", '"regional"@en-GB', None),
            ("<x:a>", "<x:p>", '"hebrew"@he', None),
            ("<x:a>", "<x:q>", f'"5"^^<{XSD}integer>', None),
            ("<x:a>", "<x:q>", "_:b1", None),
            ("<x:b>", "<x:q>", "<x:c>", None),
        ]
        return spark.createDataFrame(rows, "s string, p string, o string, g string")

    def test_of_kind(self, mdata):
        from sophia_rs_spark.operators.graph_ops import of_kind, triples_matching

        assert triples_matching(mdata, o=of_kind("literal")).count() == 5
        assert triples_matching(mdata, o=of_kind("bnode")).count() == 1
        assert triples_matching(mdata, o=of_kind("iri")).count() == 1

    def test_not(self, mdata):
        from sophia_rs_spark.operators.graph_ops import not_, of_kind, triples_matching

        assert triples_matching(mdata, o=not_(of_kind("literal"))).count() == 2
        assert triples_matching(mdata, p=not_("<x:p>")).count() == 3

    def test_with_datatype(self, mdata):
        from sophia_rs_spark.operators.graph_ops import triples_matching, with_datatype

        XSD = "http://www.w3.org/2001/XMLSchema#"
        assert triples_matching(mdata, o=with_datatype(f"{XSD}integer")).count() == 1
        # implicit xsd:string for plain literals
        assert triples_matching(mdata, o=with_datatype(f"{XSD}string")).count() == 1

    def test_with_language(self, mdata):
        from sophia_rs_spark.operators.graph_ops import triples_matching, with_language

        assert triples_matching(mdata, o=with_language("en")).count() == 2  # en + en-GB
        assert triples_matching(mdata, o=with_language("he")).count() == 1
