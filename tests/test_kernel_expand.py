"""Document expansion → triples conformance (the layer the reference stubs,
built to the WD it cites — SURVEY.md §7 M0)."""

import json

import pytest

from json_ld_spark.kernel import (
    Context,
    ProcessorOptions,
    expand_document,
    expanded_to_triples,
    process_context,
)
from json_ld_spark.kernel.expand_doc import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE

DOC_IRI = "http://example.org/doc"


def expand(doc, contexts=None):
    p = ProcessorOptions(document_iri=DOC_IRI, context_loader=contexts or {})
    active = Context(base=DOC_IRI)
    return expand_document(p, active, doc)


def triples(doc, contexts=None):
    return expanded_to_triples(expand(doc, contexts))


def tmap(ts):
    return {(t["subj"], t["pred"]): t for t in ts}


def test_simple_node_expansion():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#"},
        "@id": "http://ex.org/alice",
        "name": "Alice",
    }
    out = expand(doc)
    assert out == [{
        "@id": "http://ex.org/alice",
        "http://ex.org/v#name": [{"@value": "Alice"}],
    }]


def test_triples_literal_and_iri():
    doc = {
        "@context": {
            "schema": "http://schema.org/",
            "knows": {"@id": "schema:knows", "@type": "@id"},
        },
        "@id": "http://ex.org/alice",
        "schema:name": "Alice",
        "knows": "http://ex.org/bob",
    }
    ts = triples(doc)
    m = tmap(ts)
    name = m[("http://ex.org/alice", "http://schema.org/name")]
    assert name["obj_kind"] == "literal"
    assert name["obj_value"] == "Alice"
    assert name["obj_type"] == "http://www.w3.org/2001/XMLSchema#string"
    knows = m[("http://ex.org/alice", "http://schema.org/knows")]
    assert knows["obj_kind"] == "iri"
    assert knows["obj_value"] == "http://ex.org/bob"


def test_nested_node_gets_bnode():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#"},
        "@id": "http://ex.org/a",
        "child": {"name": "inner"},
    }
    ts = triples(doc)
    child = [t for t in ts if t["pred"] == "http://ex.org/v#child"][0]
    assert child["obj_kind"] == "bnode"
    assert child["obj_value"] == "_:b0"
    inner = [t for t in ts if t["subj"] == "_:b0"][0]
    assert inner["obj_value"] == "inner"


def test_type_triple():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#"},
        "@id": "http://ex.org/a",
        "@type": "Person",
    }
    ts = triples(doc)
    assert ts == [{
        "subj": "http://ex.org/a", "pred": RDF_TYPE, "obj_kind": "iri",
        "obj_value": "http://ex.org/v#Person", "obj_type": None,
        "obj_lang": None, "obj_direction": None, "graph": None,
    }]


def test_language_and_direction():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#", "@language": "en",
                     "@direction": "ltr"},
        "@id": "http://ex.org/a",
        "label": "hello",
    }
    ts = triples(doc)
    t = ts[0]
    assert t["obj_lang"] == "en"
    assert t["obj_direction"] == "ltr"
    assert t["obj_type"] is None


def test_typed_value_object():
    doc = {
        "@id": "http://ex.org/a",
        "http://ex.org/v#when": {
            "@value": "2026-01-01", "@type": "http://www.w3.org/2001/XMLSchema#date"
        },
    }
    ts = triples(doc)
    assert ts[0]["obj_type"] == "http://www.w3.org/2001/XMLSchema#date"


def test_number_and_bool_literals():
    xsd_double = "http://www.w3.org/2001/XMLSchema#double"
    # JSON-LD 1.1 toRdf: a number with a fractional part, of magnitude
    # >= 1e21 or typed xsd:double is a canonical xsd:double (shortest
    # round-tripping mantissa, no "+" or leading zeros in the exponent);
    # any other number is an xsd:integer
    expected = {
        "n": (42, "42", "integer"),
        "f": (2.5, "2.5E0", "double"),
        "f2": (1.5, "1.5E0", "double"),
        "p1": (1.23456789, "1.23456789E0", "double"),
        "p2": (1.2345681, "1.2345681E0", "double"),
        "big": (1e21, "1.0E21", "double"),
        "tenth": (0.1, "1.0E-1", "double"),
        "neg": (-2.5e-7, "-2.5E-7", "double"),
        "whole": (5.0, "5", "integer"),
        "typed": ({"@value": 5, "@type": xsd_double}, "5.0E0", "double"),
        # past the double range: neither may raise
        "huge_int": (10**400, "INF", "double"),
        "overflowed": (json.loads("1e400"), "INF", "double"),
    }
    doc = {"@id": "http://ex.org/a", "http://ex.org/v#b": True}
    for k, (v, _, _) in expected.items():
        doc[f"http://ex.org/v#{k}"] = v
    m = tmap(triples(doc))
    assert m[("http://ex.org/a", "http://ex.org/v#b")]["obj_value"] == "true"
    for k, (_, lexical, ty) in expected.items():
        t = m[("http://ex.org/a", f"http://ex.org/v#{k}")]
        got = (t["obj_value"], t["obj_type"].rsplit("#", 1)[1])
        assert got == (lexical, ty), k


def test_list_expansion_to_rdf_chain():
    doc = {
        "@context": {"tags": {"@id": "http://ex.org/tags", "@container": "@list"}},
        "@id": "http://ex.org/a",
        "tags": ["x", "y"],
    }
    ts = triples(doc)
    head = [t for t in ts if t["pred"] == "http://ex.org/tags"][0]
    assert head["obj_kind"] == "bnode"
    firsts = [t for t in ts if t["pred"] == RDF_FIRST]
    rests = [t for t in ts if t["pred"] == RDF_REST]
    assert [t["obj_value"] for t in firsts] == ["x", "y"]
    assert rests[-1]["obj_value"] == RDF_NIL


def test_reverse_property_flips_triple():
    doc = {
        "@context": {
            "schema": "http://schema.org/",
            "isKnownBy": {"@reverse": "schema:knows"},
        },
        "@id": "http://ex.org/alice",
        "isKnownBy": {"@id": "http://ex.org/bob"},
    }
    ts = triples(doc)
    assert len(ts) == 1
    t = ts[0]
    assert t["subj"] == "http://ex.org/bob"
    assert t["pred"] == "http://schema.org/knows"
    assert t["obj_value"] == "http://ex.org/alice"


def test_graph_keyword_named_graph():
    doc = {
        "@id": "http://ex.org/g1",
        "@graph": [{
            "@id": "http://ex.org/a",
            "http://ex.org/v#p": "v",
        }],
    }
    ts = triples(doc)
    assert ts[0]["graph"] == "http://ex.org/g1"
    assert ts[0]["subj"] == "http://ex.org/a"


def test_language_map_container():
    doc = {
        "@context": {
            "label": {"@id": "http://ex.org/label", "@container": "@language"}
        },
        "@id": "http://ex.org/a",
        "label": {"en": "hello", "fr": "bonjour"},
    }
    ts = sorted(triples(doc), key=lambda t: t["obj_lang"])
    assert [(t["obj_value"], t["obj_lang"]) for t in ts] == [
        ("hello", "en"), ("bonjour", "fr"),
    ]


def test_index_map_container():
    doc = {
        "@context": {
            "item": {"@id": "http://ex.org/item", "@container": "@index"}
        },
        "@id": "http://ex.org/a",
        "item": {"k1": {"http://ex.org/v#p": "v1"}},
    }
    ts = triples(doc)
    preds = {t["pred"] for t in ts}
    assert "http://ex.org/item" in preds
    assert "http://ex.org/v#p" in preds


def test_id_map_container():
    doc = {
        "@context": {
            "@base": "http://ex.org/",
            "m": {"@id": "http://ex.org/m", "@container": "@id"},
        },
        "@id": "http://ex.org/a",
        "m": {"http://ex.org/x": {"http://ex.org/v#p": "v"}},
    }
    ts = triples(doc)
    member = [t for t in ts if t["pred"] == "http://ex.org/m"][0]
    assert member["obj_value"] == "http://ex.org/x"


def test_set_unwraps():
    doc = {
        "@id": "http://ex.org/a",
        "http://ex.org/v#p": {"@set": ["x", "y"]},
    }
    ts = triples(doc)
    assert sorted(t["obj_value"] for t in ts) == ["x", "y"]


def test_nest_flattens():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#", "meta": "@nest"},
        "@id": "http://ex.org/a",
        "meta": {"inner": "v"},
    }
    ts = triples(doc)
    assert ts[0]["pred"] == "http://ex.org/v#inner"
    assert ts[0]["subj"] == "http://ex.org/a"


def test_free_floating_scalar_dropped():
    assert expand(["free string", {"@id": "http://ex.org/a"}]) == []


def test_json_literal():
    doc = {
        "@context": {"blob": {"@id": "http://ex.org/blob", "@type": "@json"}},
        "@id": "http://ex.org/a",
        "blob": {"z": 1, "a": [2]},
    }
    ts = triples(doc)
    assert ts[0]["obj_type"].endswith("#JSON")
    assert ts[0]["obj_value"] == '{"a":[2],"z":1}'  # canonical sorted form


def test_remote_context_in_document():
    contexts = {
        "https://example.org/ctx/prefix": {
            "@context": {"schema": "http://schema.org/",
                         "knows": {"@id": "schema:knows", "@type": "@id"}}
        }
    }
    doc = {
        "@context": "https://example.org/ctx/prefix",
        "@id": "http://ex.org/p1",
        "schema:name": "Agent 1",
        "knows": "http://ex.org/p2",
    }
    m = tmap(triples(doc, contexts))
    assert ("http://ex.org/p1", "http://schema.org/knows") in m


def test_bnode_relabelling_deterministic():
    doc = {
        "@id": "http://ex.org/a",
        "http://ex.org/v#p": [
            {"@id": "_:zz", "http://ex.org/v#q": "1"},
            {"@id": "_:aa", "http://ex.org/v#q": "2"},
        ],
    }
    ts1 = triples(doc)
    ts2 = triples(doc)
    assert ts1 == ts2
    labels = [t["obj_value"] for t in ts1 if t["pred"] == "http://ex.org/v#p"]
    assert labels == ["_:b0", "_:b1"]  # first-seen order, not lexical


def test_expanded_form_idempotent_under_reexpansion():
    doc = {
        "@context": {"@vocab": "http://ex.org/v#"},
        "@id": "http://ex.org/a",
        "name": "x",
        "knows": {"@id": "http://ex.org/b"},
    }
    once = expand(doc)
    twice = expand(once)
    assert once == twice
