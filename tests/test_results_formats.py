"""SPARQL results formats (JSON/XML/CSV/TSV) — results.rs:16-147 parity."""

import json
import xml.etree.ElementTree as ET

import pytest

from sophia_rs_spark.sparql import query
from sophia_rs_spark.sparql.results import (
    bindings_to_csv,
    bindings_to_json,
    bindings_to_tsv,
    bindings_to_xml,
    boolean_to_json,
    boolean_to_xml,
    term_to_json,
    to_json_str,
)

PFX = "PREFIX : <http://example.org/ns/>\n"


@pytest.fixture(scope="module")
def data(spark):
    NS = "http://example.org/ns/"
    rows = [
        (f"<{NS}a>", f"<{NS}name>", '"Ann"', None),
        (f"<{NS}a>", f"<{NS}note>", '"x,y\\n"@en--rtl', None),
        (f"<{NS}a>", f"<{NS}age>", '"42"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
        ("_:b1", f"<{NS}name>", '"Anon"', None),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string, g string")


class TestTermToJson:
    def test_kinds(self):
        assert term_to_json("<http://x/>") == {"type": "uri", "value": "http://x/"}
        assert term_to_json("_:b7") == {"type": "bnode", "value": "b7"}
        assert term_to_json('"hi"') == {"type": "literal", "value": "hi"}
        assert term_to_json('"hi"@en') == {
            "type": "literal", "value": "hi", "xml:lang": "en"}
        assert term_to_json('"hi"@ar--rtl') == {
            "type": "literal", "value": "hi", "xml:lang": "ar", "its:dir": "rtl"}
        assert term_to_json('"5"^^<http://www.w3.org/2001/XMLSchema#integer>') == {
            "type": "literal", "value": "5",
            "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
        assert term_to_json(None) is None

    def test_escaped_lexical_decoded(self):
        assert term_to_json('"a\\nb"')["value"] == "a\nb"
        assert term_to_json('"q\\"x"')["value"] == 'q"x'

    def test_triple_term(self):
        t = term_to_json('<<( <x:s> <x:p> "v"@en )>>')
        assert t["type"] == "triple"
        assert t["value"]["subject"] == {"type": "uri", "value": "x:s"}
        assert t["value"]["object"] == {
            "type": "literal", "value": "v", "xml:lang": "en"}

    def test_plain_values(self):
        assert term_to_json(5) == {
            "type": "literal", "value": "5",
            "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
        assert term_to_json(True)["value"] == "true"


class TestDocuments:
    def test_select_json(self, spark, data):
        got = query(data, PFX + "SELECT ?s ?n WHERE { ?s :name ?n }")
        doc = bindings_to_json(got)
        assert doc["head"]["vars"] == ["s", "n"]
        assert len(doc["results"]["bindings"]) == 2
        types = {b["s"]["type"] for b in doc["results"]["bindings"]}
        assert types == {"uri", "bnode"}
        json.loads(to_json_str(doc))  # valid JSON

    def test_ask_json_and_xml(self, spark, data):
        assert boolean_to_json(True) == {"head": {}, "boolean": True}
        assert "<boolean>false</boolean>" in boolean_to_xml(False)

    def test_select_xml_parses(self, spark, data):
        got = query(data, PFX + "SELECT ?s ?o WHERE { ?s :note ?o }")
        xml = bindings_to_xml(got)
        root = ET.fromstring(xml)
        ns = "{http://www.w3.org/2005/sparql-results#}"
        lits = root.findall(f".//{ns}literal")
        assert len(lits) == 1
        assert lits[0].text == "x,y\n"
        assert lits[0].get("{http://www.w3.org/XML/1998/namespace}lang") == "en"

    def test_csv_quoting(self, spark, data):
        got = query(data, PFX + "SELECT ?o WHERE { ?s :note ?o }")
        csv = bindings_to_csv(got)
        assert csv.startswith("o\r\n")
        assert '"x,y\n"' in csv

    def test_tsv_keeps_encoding(self, spark, data):
        got = query(data, PFX + "SELECT ?o WHERE { ?s :age ?o }")
        tsv = bindings_to_tsv(got)
        assert tsv.splitlines()[0] == "?o"
        assert '"42"^^<http://www.w3.org/2001/XMLSchema#integer>' in tsv


class TestDistributedLines:
    """r5: distributed ``*_lines_df`` sinks + the ``bindings_to_*``
    delegation above ``_DELEGATE_ROWS`` — both paths must be
    byte-equivalent to the driver-side writers."""

    @pytest.fixture(scope="class")
    def res(self, spark, data):
        # includes an unbound column (OPTIONAL miss), an escaped
        # lexical, and a lang--dir literal; orderBy on the RAW column
        # aligns the document row order with the sinks' order=["s"]
        # (which sorts canonical encodings, not SPARQL value order)
        return query(
            data,
            PFX + "SELECT ?s ?n ?note WHERE { ?s :name ?n"
            "  OPTIONAL { ?s :note ?note } }",
        ).orderBy("s")

    def test_json_lines_match_document(self, res):
        from sophia_rs_spark.sparql.results import json_lines_df

        doc = bindings_to_json(res)
        lines = {
            r["line_no"]: r["line"] for r in json_lines_df(res, ["s"]).collect()
        }
        assert json.loads(lines[0]) == {"head": {"vars": ["s", "n", "note"]}}
        got = [json.loads(lines[i]) for i in range(1, len(lines))]
        assert got == doc["results"]["bindings"]

    def test_xml_lines_match_document(self, res):
        from sophia_rs_spark.sparql.results import xml_lines_df

        rows = sorted(xml_lines_df(res, ["s"]).collect(), key=lambda r: r["line_no"])
        assembled = "".join(r["line"] for r in rows) + "</results></sparql>"
        assert assembled == bindings_to_xml(res)

    def test_tsv_lines_match_document(self, res):
        from sophia_rs_spark.sparql.results import tsv_lines_df

        rows = sorted(tsv_lines_df(res, ["s"]).collect(), key=lambda r: r["line_no"])
        assembled = "\n".join(r["line"] for r in rows) + "\n"
        assert assembled == bindings_to_tsv(res)

    def test_lines_sinks_build_without_driver_jobs(self, spark, res):
        # the distributed sinks are PLANS — building them must launch
        # zero driver jobs (no collect/count in the plan path)
        from sophia_rs_spark.sparql.results import (
            csv_lines_df,
            json_lines_df,
            tsv_lines_df,
            xml_lines_df,
        )

        sc = spark.sparkContext
        sc.setJobGroup("results-plan-probe", "no-job probe")
        try:
            for sink in (csv_lines_df, json_lines_df, xml_lines_df, tsv_lines_df):
                sink(res, ["s"]).schema  # force analysis, no execution
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup("results-plan-probe")
        assert len(jobs) == 0, f"plan building launched {len(jobs)} driver jobs"

    def test_delegation_is_equivalent(self, res, monkeypatch):
        # force the large-result branch and compare against the
        # driver-side render
        import sophia_rs_spark.sparql.results as R

        small_json = bindings_to_json(res)
        small_xml = bindings_to_xml(res)
        small_tsv = bindings_to_tsv(res)
        monkeypatch.setattr(R, "_DELEGATE_ROWS", 1)
        assert R.bindings_to_json(res) == small_json
        assert R.bindings_to_xml(res) == small_xml
        assert R.bindings_to_tsv(res) == small_tsv

    def test_caller_cache_survives_render(self, spark, data):
        """Rendering a frame the caller cached keeps the caller's cache;
        an uncached frame is left uncached."""
        from pyspark import StorageLevel

        cached = query(data, PFX + "SELECT ?s ?n WHERE { ?s :name ?n }").cache()
        plain = query(data, PFX + "SELECT ?s WHERE { ?s :age ?a }")
        try:
            bindings_to_json(cached)
            bindings_to_json(plain)
            assert cached.storageLevel != StorageLevel.NONE
            assert plain.storageLevel == StorageLevel.NONE
        finally:
            cached.unpersist()
