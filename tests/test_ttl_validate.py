"""Turtle well-formedness gate (round-2 VERDICT missing #3).

The reference runs ``riot --validate`` over every produced file
(/root/reference/src/validate_everything.bash:6-10).  Byte-parity tests
subsume this where a golden exists; :mod:`gg2rdf_spark.functions.
ttl_check` catches escaping/structure regressions on inputs with no
golden.  Validated here over (a) hand-built good/bad snippets proving
the checker's power, (b) pipeline output on the SQL corpus, the recipe
corpus, and the reference's own example XML."""

import pytest

from gg2rdf_spark.functions.ttl_check import validate_turtle
from gg2rdf_spark.refimpl import PREFIX_HEADER


class TestValidator:
    def test_good_document(self):
        ttl = PREFIX_HEADER + """

<http://ex.org/t1>
    dc:creator "Doe, A" ;
    trt:hasTaxonName <http://ex.org/n1> ;
    a trt:Treatment .

# No properties for <http://ex.org/x>

<http://ex.org/n2>
    dwc:rank "species" ;
    rdfs:label "esc \\" quote and \\\\ backslash" ;
    a dwcFP:TaxonName .
"""
        assert validate_turtle(ttl) == []

    @pytest.mark.parametrize("bad,needle", [
        ('<http://e> dc:t "unclosed ;\n a trt:T .', "unterminated string"),
        ('<http://e> dc:t "a\\qb" .', "bad string escape"),
        ('<http://e x> a trt:T .', "forbidden character"),
        ('<http://e>\n  foo:bar "x" .', "undeclared prefix"),
        ('<http://e> a trt:T', "expected ';', ',' or '.'"),
        ('<http://e .', "forbidden character"),
        ('<http://e> .', "no predicate-object"),
        ('@prefix broken <http://e> .\n', "malformed @prefix"),
    ])
    def test_catches(self, bad, needle):
        errs = validate_turtle(PREFIX_HEADER + "\n" + bad)
        assert any(needle in e for e in errs), (bad, errs)

    def test_literal_with_newline_escape_and_lang(self):
        ttl = PREFIX_HEADER + """
<http://e>
    dc:description "line1\\nline2"@en ;
    dc:count "3"^^<http://www.w3.org/2001/XMLSchema#integer> ;
    a trt:Treatment .
"""
        assert validate_turtle(ttl) == []


def _assert_all_valid(ttl_rows):
    assert ttl_rows
    for conv_id, ttl in ttl_rows:
        errs = validate_turtle(ttl)
        assert errs == [], (conv_id, errs[:5], ttl[:400])


class TestPipelineOutputWellFormed:
    def test_sql_corpus(self, spark):
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources.synthsql import transcripts_sql

        tr = spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(120))", dialect="spark"))
        rows = [(r.conv_id, r.ttl)
                for r in KGPipeline(tr, cache=False).turtle().collect()]
        _assert_all_valid(rows)

    def test_recipe_corpus(self, spark):
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources import recipe

        rows = []
        for doc_id in range(120):
            rows.extend(recipe.conversation_turns(doc_id))
        tr = spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"])
             for r in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string",
        )
        rows = [(r.conv_id, r.ttl)
                for r in KGPipeline(tr, cache=False).turtle().collect()]
        _assert_all_valid(rows)

    def test_reference_example_xml(self, spark):
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources.xml_adapter import conversation_from_gg_xml

        conv_id, turns = conversation_from_gg_xml(
            "/root/reference/example-data/"
            "000040332F2853C295734E7BD4190F05.xml")
        tr = spark.createDataFrame(
            [(conv_id, t, "assistant", txt, None) for t, txt in turns],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string",
        )
        rows = [(r.conv_id, r.ttl)
                for r in KGPipeline(tr, cache=False).turtle().collect()]
        _assert_all_valid(rows)
