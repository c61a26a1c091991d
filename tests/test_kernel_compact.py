"""Kernel compaction unit tests (WD-json-ld11-api §6 subset, SURVEY.md M0).

compact_iri's exact-term/prefix/vocab preference order is already pinned
JVM-vs-kernel in tests/test_functions_iri_ops.py; here the document/value
layers are pinned: expansion→compaction round-trips on the fixture shapes.
"""

import pytest

from json_ld_spark.contexts import ContextDict
from json_ld_spark.kernel import Context, expand_document, process_context
from json_ld_spark.kernel.compact import compact_document, compact_value


@pytest.fixture(scope="module")
def cd():
    return ContextDict()


def _compile(cd, ctx_iri):
    """The active context ``ctx_iri`` yields over the document base."""
    return process_context(
        cd.processor, Context(base=cd.document_iri), ctx_iri, cd.document_iri
    )


def _roundtrip(cd, ctx_iri, doc_body):
    ctx = _compile(cd, ctx_iri)
    expanded = expand_document(cd.processor, ctx, doc_body)
    return compact_document(ctx, expanded)


def test_compact_value_typed_id(cd):
    ctx = _compile(cd, "https://example.org/ctx/prefix")
    td = ctx.term_definitions["knows"]  # @type: @id
    assert compact_value(ctx, td, {"@id": "http://ex.org/p1"}) == "http://ex.org/p1"


def test_compact_value_plain_string(cd):
    ctx = _compile(cd, "https://example.org/ctx/prefix")
    td = ctx.term_definitions["name"]
    assert compact_value(ctx, td, {"@value": "Alice"}) == "Alice"


def test_compact_document_prefix_roundtrip(cd):
    doc = {
        "@id": "http://ex.org/person-1",
        "name": "Agent 1",
        "knows": {"@id": "http://ex.org/person-2"},
    }
    out = _roundtrip(cd, "https://example.org/ctx/prefix", doc)
    assert isinstance(out, dict)
    assert out["@id"] == "http://ex.org/person-1"
    # property IRIs compact back to the defined terms
    assert out["name"] == "Agent 1"
    assert out["knows"] == "http://ex.org/person-2"


def test_compact_document_vocab_suffix(cd):
    doc = {"@id": "http://ex.org/d/x", "unmapped": "v"}
    out = _roundtrip(cd, "https://example.org/ctx/base", doc)
    # @vocab-expanded term compacts back to its suffix form
    assert out["unmapped"] == "v"


def test_compact_document_list_container(cd):
    doc = {"@id": "http://ex.org/e1", "tags": ["alpha", "beta"]}
    out = _roundtrip(cd, "https://example.org/ctx/typed", doc)
    tags = out["tags"]
    if isinstance(tags, dict):  # @list object form
        assert tags.get("@list") == ["alpha", "beta"]
    else:
        assert tags == ["alpha", "beta"]


def test_compact_document_preserves_unknown_absolute(cd):
    doc = {"@id": "http://ex.org/p", "http://other.org/prop": "x"}
    out = _roundtrip(cd, "https://example.org/ctx/prefix", doc)
    assert out["http://other.org/prop"] == "x"


# --------------------------------------------------- container-map forms

MAP_CTX = {
    "@context": {
        "ex": "http://ex.org/",
        "label": {"@id": "ex:label", "@container": "@language"},
        "posts": {"@id": "ex:posts", "@container": "@index"},
        "members": {"@id": "ex:members", "@container": "@id"},
    }
}


@pytest.fixture(scope="module")
def map_ctx(cd):
    from json_ld_spark.kernel import Context, process_context

    return process_context(
        cd.processor, Context(base=cd.document_iri),
        MAP_CTX["@context"], cd.document_iri,
    )


def _expand_compact_expand(cd, ctx, body):
    """compact must be lossless: re-expanding the compacted form yields
    the original expanded form (order-insensitive)."""
    import json

    expanded = expand_document(cd.processor, ctx, body)
    compacted = compact_document(ctx, expanded)
    again = expand_document(cd.processor, ctx, compacted)
    canon = lambda e: sorted(  # noqa: E731
        json.dumps(n, sort_keys=True) for n in e
    )
    assert canon(again) == canon(expanded), (compacted, expanded, again)
    return compacted


def test_compact_language_map(cd, map_ctx):
    body = {
        "@id": "http://ex.org/x",
        "label": {"en": "Hello", "de": ["Hallo", "Servus"]},
    }
    out = _expand_compact_expand(cd, map_ctx, body)
    assert out["label"] == {"en": "Hello", "de": ["Hallo", "Servus"]}


def test_compact_index_map(cd, map_ctx):
    body = {
        "@id": "http://ex.org/x",
        "posts": {"2024": "a", "2025": ["b", "c"]},
    }
    out = _expand_compact_expand(cd, map_ctx, body)
    assert out["posts"] == {"2024": "a", "2025": ["b", "c"]}


def test_compact_id_map(cd, map_ctx):
    body = {
        "@id": "http://ex.org/x",
        "members": {
            "http://ex.org/m1": {"ex:name": "A"},
            "http://ex.org/m2": {"ex:name": "B"},
        },
    }
    out = _expand_compact_expand(cd, map_ctx, body)
    # id-map keys compact in document-relative (vocab=false) mode; the WD's
    # step-6 CURIE candidates are NOT vocab-gated, so a declared prefix
    # yields compact keys — re-expansion resolves the CURIE back (lossless,
    # and the roundtrip above is the contract)
    assert set(out["members"].keys()) == {"ex:m1", "ex:m2"}
    assert all(
        v == {"ex:name": n}
        for v, n in zip(
            (out["members"]["ex:m1"], out["members"]["ex:m2"]),
            ("A", "B"),
        )
    )


def test_compact_map_heterogeneous_array_splits_losslessly(cd, map_ctx):
    """A language-container property whose expanded values carry extra
    members must not be forced into the map wholesale: §6.1 per-item term
    selection routes the map-compatible item into the language map (under
    "@none") and the typed item to a CURIE property — roundtrip intact."""
    import json as _json

    from json_ld_spark.kernel.compact import compact_document

    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/label": [
            {"@value": "plain"},
            {"@value": "typed", "@type": "http://ex.org/T"},
        ],
    }]
    out = compact_document(map_ctx, expanded)
    assert out["label"] == {"@none": "plain"}, out
    assert out["ex:label"] == {"@value": "typed", "@type": "ex:T"}, out
    again = expand_document(cd.processor, map_ctx, out)

    def canon(e):
        # order-insensitive within property arrays too: the split routes
        # re-merge in selection order, which is not the original order
        def c(x):
            if isinstance(x, list):
                return sorted((c(i) for i in x), key=_json.dumps)
            if isinstance(x, dict):
                return {k: c(v) for k, v in sorted(x.items())}
            return x

        return sorted(_json.dumps(c(n), sort_keys=True) for n in e)

    # re-expansion merges both routes back into the one expanded property
    assert canon(again) == canon(expanded), (out, again)


def test_compact_language_map_rejects_non_string(cd, map_ctx):
    """Regression: a non-string @value can't live in a language map (it
    would fail re-expansion: 'invalid language map value') — must fall
    back to array compaction, roundtrip intact."""
    from json_ld_spark.kernel.compact import compact_document

    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/label": [{"@value": 42}],
    }]
    out = compact_document(map_ctx, expanded)
    assert not isinstance(out.get("label"), dict), out
    from json_ld_spark.kernel import expand_document

    again = expand_document(cd.processor, map_ctx, out)
    assert again[0]["http://ex.org/label"] == [{"@value": 42}]


# ----------------------------------------- full section 6.3 term selection

SELECT_CTX = {
    "@context": {
        "ex": "http://ex.org/",
        # same IRI, three terms distinguished only by language/direction:
        # the WD's inverse-context language buckets must pick the right one
        "labelEn": {"@id": "ex:label", "@language": "en"},
        "labelDe": {"@id": "ex:label", "@language": "de"},
        "labelNone": {"@id": "ex:label", "@language": None},
        # direction bucket terms (language+direction combination keys)
        "titleLtr": {"@id": "ex:title", "@language": "en", "@direction": "ltr"},
        "titleRtl": {"@id": "ex:title", "@language": "en", "@direction": "rtl"},
        # typed vs plain on one IRI
        "whenDate": {"@id": "ex:when",
                     "@type": "http://www.w3.org/2001/XMLSchema#date"},
        "whenPlain": {"@id": "ex:when"},
        # node-reference coercion
        "ref": {"@id": "ex:ref", "@type": "@id"},
        # reverse term
        "knownBy": {"@reverse": "ex:knows"},
        "knows": {"@id": "ex:knows", "@type": "@id"},
    }
}


@pytest.fixture(scope="module")
def sel_ctx(cd):
    from json_ld_spark.kernel import Context, process_context

    return process_context(
        cd.processor, Context(base=cd.document_iri),
        SELECT_CTX["@context"], cd.document_iri,
    )


def _ec(cd, ctx, expanded):
    """compact then assert expand(compacted) == expanded (fixpoint)."""
    import json as _json

    from json_ld_spark.kernel import expand_document
    from json_ld_spark.kernel.compact import compact_document

    compacted = compact_document(ctx, expanded)
    again = expand_document(cd.processor, ctx, compacted)
    canon = lambda e: sorted(_json.dumps(n, sort_keys=True) for n in e)  # noqa: E731
    assert canon(again) == canon(expanded), (compacted, expanded, again)
    return compacted


def test_select_language_buckets(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/label": [{"@value": "Hallo", "@language": "de"}],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["labelDe"] == "Hallo"


def test_select_null_language_bucket(cd, sel_ctx):
    # a plain string (no language) selects the "@language": null term
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/label": [{"@value": "plain"}],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["labelNone"] == "plain"


def test_select_direction_buckets(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/title": [
            {"@value": "abc", "@language": "en", "@direction": "rtl"}
        ],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["titleRtl"] == "abc"


def test_select_typed_term(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/when": [{
            "@value": "2024-01-01",
            "@type": "http://www.w3.org/2001/XMLSchema#date",
        }],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["whenDate"] == "2024-01-01"


def test_select_plain_term_for_untyped(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/when": [{"@value": "sometime"}],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["whenPlain"] == "sometime"


def test_select_id_coercion_for_node_ref(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/ref": [{"@id": "http://ex.org/y"}],
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert out["ref"] == "ex:y"


def test_bare_iri_selects_id_typed_term(cd):
    """Vocab-mode compaction with no value prefers an @type:@id term over a
    CURIE (WD step 4: type/language value @id when value is null)."""
    from json_ld_spark.kernel.compact import compact_iri

    ctx = _compile(cd, "https://example.org/ctx/prefix")
    assert compact_iri(ctx, "http://schema.org/knows", vocab=True) == "knows"


def test_reverse_term_hoists_out_of_reverse_map(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "@reverse": {
            "http://ex.org/knows": [{"@id": "http://ex.org/y"}],
        },
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert "@reverse" not in out
    # the reverse term absorbs the inversion; its @type:@id-like value
    # compaction happens under the reverse term's own definition
    assert out["knownBy"] == {"@id": "ex:y"}


def test_reverse_map_kept_for_unmatched_property(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "@reverse": {
            "http://ex.org/other": [{"@id": "http://ex.org/y"}],
        },
    }]
    out = _ec(cd, sel_ctx, expanded)
    assert set(out["@reverse"].keys()) == {"ex:other"}


def test_compact_value_direction_mismatch_stays_object(cd, sel_ctx):
    """A value missing the term's direction cannot compact to a scalar (the
    term would re-add @direction on expansion) — fixpoint forces the
    explicit object form."""
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/title": [{"@value": "abc", "@language": "en"}],
    }]
    out = _ec(cd, sel_ctx, expanded)  # fixpoint is the contract
    # whichever term was selected, the scalar form must not have been used
    (val,) = [v for k, v in out.items() if k != "@id"]
    assert isinstance(val, dict) and val.get("@value") == "abc"


def test_value_index_preserved(cd, sel_ctx):
    expanded = [{
        "@id": "http://ex.org/x",
        "http://ex.org/when": [{"@value": "v", "@index": "i1"}],
    }]
    out = _ec(cd, sel_ctx, expanded)
    (val,) = [v for k, v in out.items() if k != "@id"]
    assert val.get("@index") == "i1"


# --------------------------------------- §6.3 step 8: compactToRelative

@pytest.mark.parametrize(
    "base,iri,expected",
    [
        ("http://a/b/c/d;p?q", "http://a/b/c/g", "g"),
        ("http://a/b/c/d;p?q", "http://a/b/c/", "./"),
        ("http://a/b/c/d;p?q", "http://a/b/", "../"),
        ("http://a/b/c/d;p?q", "http://a/g", "/g"),
        ("http://a/b/c/d;p?q", "http://a/b/c/d;p?y", "?y"),
        ("http://a/b/c/d;p?q", "http://a/b/c/d;p?q#s", "#s"),
        ("http://ex.org/d/", "http://ex.org/d/person-3", "person-3"),
        # different authority / scheme / blank node: absolute survives
        ("http://ex.org/d/", "http://other.org/x", "http://other.org/x"),
        ("http://ex.org/d/", "urn:uuid:abc", "urn:uuid:abc"),
        ("http://ex.org/d/", "_:b0", "_:b0"),
        # a leading segment with ":" must not parse as a scheme
        ("http://a/b/", "http://a/b/x:y", "./x:y"),
    ],
)
def test_relativize_iri_grid(base, iri, expected):
    from json_ld_spark.kernel.iri import relativize_iri, resolve_iri

    rel = relativize_iri(iri, base)
    assert rel == expected
    if rel != iri:
        assert resolve_iri(rel, base) == iri


def test_relativize_iri_roundtrip_fuzz():
    """Every emitted relative reference must resolve back exactly — the
    self-verification contract that makes lossy output impossible."""
    import random

    from json_ld_spark.kernel.iri import relativize_iri, resolve_iri

    rng = random.Random(7)
    segs = ["a", "b", "c", "x:y", "d;p", ""]
    for _ in range(1500):
        bp = "/" + "/".join(rng.choice(segs) for _ in range(rng.randrange(4)))
        tp = "/" + "/".join(rng.choice(segs) for _ in range(rng.randrange(4)))
        base = "http://h" + bp + rng.choice(["", "?bq"])
        iri = (
            "http://h" + tp + rng.choice(["", "?q"]) + rng.choice(["", "#f"])
        )
        rel = relativize_iri(iri, base)
        if rel != iri:
            assert resolve_iri(rel, base) == iri, (base, iri, rel)


def test_compact_to_relative_document(cd):
    """compactToRelative=true (the WD default) relativizes @id against the
    context base and the result re-expands to the same document;
    compactToRelative=false keeps IRIs absolute (the pipeline's declared
    publishing choice)."""
    from json_ld_spark.kernel import normalize_expanded
    from json_ld_spark.kernel.model import Context

    ctx = _compile(cd, "https://example.org/ctx/base")
    assert ctx.base, "fixture context must carry @base for this test"
    doc = {
        "@id": f"{ctx.base}person-7",
        "http://schema.org/knows": {"@id": f"{ctx.base}nested/person-8"},
    }
    expanded = expand_document(cd.processor, ctx, doc)

    rel = compact_document(ctx, expanded)
    assert rel["@id"] == "person-7"
    reexpanded = expand_document(cd.processor, ctx, rel)
    assert normalize_expanded(reexpanded) == normalize_expanded(expanded)

    absolute = compact_document(ctx, expanded, compact_to_relative=False)
    assert absolute["@id"] == f"{ctx.base}person-7"
