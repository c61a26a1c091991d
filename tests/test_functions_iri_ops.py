"""JVM-side vectorized IRI ops vs the Spark-free kernel oracle.

The kernel (reference-parity, tests/test_kernel_*) is ground truth; the
Catalyst expressions in json_ld_spark/functions must agree on every value
class they claim to cover (SURVEY.md A23 tier-1 / P2 / §6.3).
"""

import pytest
from pyspark.sql import functions as F

from json_ld_spark.contexts import ContextDict
from json_ld_spark.functions import (
    classify_iri_col,
    compact_iri_col,
    expand_term_col,
    expand_term_join,
    prefix_suffix_split,
)
from json_ld_spark.kernel import Context, expand_iri, process_context
from json_ld_spark.kernel.compact import compact_iri
from json_ld_spark.kernel.iri import split_prefix

CTX_IRIS = [
    "https://example.org/ctx/base",
    "https://example.org/ctx/prefix",
    "https://example.org/ctx/typed",
    "https://example.org/ctx/nullterm",
]

EXPAND_INPUTS = [
    "name", "knows", "schema", "ex", "hidden", "when", "label",
    "schema:knows", "schema:name", "ex:other", "nope:x",
    # empty-suffix compact IRIs: step 6.4 concatenates even when the suffix
    # is empty, so a declared prefix + ':' expands to the namespace itself
    "schema:", "ex:", "nope:",
    "http://schema.org/name", "https://a.b/c", "_:b0",
    "@id", "@type", "@notakeyword", "plain", "x",
]

COMPACT_INPUTS = [
    "http://schema.org/name", "http://schema.org/knows",
    "http://schema.org/unknownProp", "http://ex.org/v#foo",
    "http://ex.org/when", "http://ex.org/label", "http://other.org/p",
    "@type",
]


@pytest.fixture(scope="module")
def ctxdict():
    return ContextDict()


def _compile(cd, ctx_iri):
    """The active context ``ctx_iri`` yields over the document base."""
    return process_context(
        cd.processor, Context(base=cd.document_iri), ctx_iri, cd.document_iri
    )


@pytest.mark.parametrize("ctx_iri", CTX_IRIS)
def test_expand_term_col_matches_kernel(spark, ctxdict, ctx_iri):
    ctx = _compile(ctxdict, ctx_iri)
    proc = ctxdict.processor
    want = {
        v: expand_iri(proc, ctx, v, vocab=True, document_relative=False)
        for v in EXPAND_INPUTS
    }
    df = spark.createDataFrame([(v,) for v in EXPAND_INPUTS], "v string")
    got = {
        r["v"]: r["out"]
        for r in df.select("v", expand_term_col(F.col("v"), ctx).alias("out")).collect()
    }
    assert got == want


@pytest.mark.parametrize("ctx_iri", CTX_IRIS)
def test_expand_term_join_matches_col(spark, ctxdict, ctx_iri):
    """The broadcast-join realization must agree with the CASE-chain
    realization on every value class (both are pinned to the kernel)."""
    ctx = _compile(ctxdict, ctx_iri)
    df = spark.createDataFrame([(v,) for v in EXPAND_INPUTS], "v string")
    via_col = {
        r["v"]: r["out"]
        for r in df.select("v", expand_term_col(F.col("v"), ctx).alias("out")).collect()
    }
    via_join = {
        r["v"]: r["out"]
        for r in expand_term_join(df, "v", ctx, "out").select("v", "out").collect()
    }
    assert via_join == via_col


def test_expand_term_join_large_context(spark, ctxdict):
    """5 000-term context: the CASE chain would exceed codegen limits, the
    join form must stay a pair of broadcast joins and match the kernel."""
    from json_ld_spark.kernel import Context, expand_iri, process_context

    big = {"@vocab": "http://ex.org/v#", "p": "http://ex.org/big/", "dead": None}
    for i in range(5000):
        big[f"term{i}"] = f"http://ex.org/big#t{i}"
    cd = ctxdict
    ctx = process_context(
        cd.processor, Context(base=cd.document_iri), big, cd.document_iri
    )
    inputs = [
        "term0", "term123", "term4999", "dead", "p:suffix", "p:",
        "@id", "@notakeyword", "_:b1", "zzz", "nope:x", "x://y",
        "http://a.b/c",
    ]
    want = {
        v: expand_iri(cd.processor, ctx, v, vocab=True, document_relative=False)
        for v in inputs
    }
    df = spark.createDataFrame([(v,) for v in inputs], "v string")
    out = expand_term_join(df, "v", ctx, "out")
    got = {r["v"]: r["out"] for r in out.select("v", "out").collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, plan


@pytest.mark.parametrize("ctx_iri", CTX_IRIS)
def test_compact_iri_col_matches_kernel(spark, ctxdict, ctx_iri):
    ctx = _compile(ctxdict, ctx_iri)
    want = {v: compact_iri(ctx, v, vocab=True) for v in COMPACT_INPUTS}
    df = spark.createDataFrame([(v,) for v in COMPACT_INPUTS], "v string")
    got = {
        r["v"]: r["out"]
        for r in df.select("v", compact_iri_col(F.col("v"), ctx).alias("out")).collect()
    }
    assert got == want


def test_expand_compact_roundtrip_on_extracted_triples(spark, ctxdict, sf_dir):
    """Every predicate IRI the pipeline emits compacts and re-expands to
    itself under the prefix context — the §6 round-trip property."""
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    ctx = _compile(ctxdict, "https://example.org/ctx/prefix")
    preds = (
        extract_triples(synth_transcripts(spark, sf_dir))
        .where(F.col("error_code").isNull())
        .select("pred").distinct()
    )
    out = preds.select(
        "pred",
        expand_term_col(
            compact_iri_col(F.col("pred"), ctx), ctx
        ).alias("roundtrip"),
    )
    bad = out.where(
        F.col("roundtrip").isNull() | (F.col("roundtrip") != F.col("pred"))
    )
    assert bad.count() == 0, bad.collect()


def test_nquad_serialization(spark):
    """N-Quads grammar: term brackets, ECHAR escaping (backslash first),
    xsd:string elision, @lang, graph 4th term."""
    from json_ld_spark.functions.nquads import to_nquads

    rows = [
        ("c", 0, "http://s/1", "http://p/1", "iri", "http://o/1",
         None, None, None, None, None),
        ("c", 0, "_:b0", "http://p/1", "literal", 'say "hi"\n\\done\t',
         None, None, None, None, None),
        ("c", 1, "http://s/1", "http://p/2", "literal", "bonjour",
         None, "fr", None, None, None),
        ("c", 1, "http://s/1", "http://p/3", "literal", "2024-01-01",
         "http://www.w3.org/2001/XMLSchema#dateTime", None, None, None, None),
        ("c", 2, "http://s/1", "http://p/4", "literal", "plain",
         "http://www.w3.org/2001/XMLSchema#string", None, None, None, None),
        ("c", 2, "http://s/1", "http://p/5", "bnode", "_:b1",
         None, None, None, "http://g/1", None),
    ]
    schema = (
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj_kind string, obj_value string, obj_type string, "
        "obj_lang string, obj_direction string, graph string, "
        "error_code string"
    )
    out = {
        (r["turn_idx"], r["nquad"])
        for r in to_nquads(spark.createDataFrame(rows, schema)).collect()
    }
    assert (0, "<http://s/1> <http://p/1> <http://o/1> .") in out
    assert (
        0,
        '_:b0 <http://p/1> "say \\"hi\\"\\n\\\\done\\t" .',
    ) in out
    assert (1, '<http://s/1> <http://p/2> "bonjour"@fr .') in out
    assert (
        1,
        '<http://s/1> <http://p/3> "2024-01-01"'
        "^^<http://www.w3.org/2001/XMLSchema#dateTime> .",
    ) in out
    assert (2, '<http://s/1> <http://p/4> "plain" .') in out  # xsd:string elided
    assert (2, "<http://s/1> <http://p/5> _:b1 <http://g/1> .") in out


def test_prefix_suffix_split_matches_kernel(spark):
    inputs = ["a:b", "ab:cd:ef", ":x", "x:", "noco", "_:b0", "a:", ""]
    df = spark.createDataFrame([(v,) for v in inputs], "v string")
    p, s = prefix_suffix_split(F.col("v"))
    got = {
        r["v"]: (r["p"], r["s"])
        for r in df.select("v", p.alias("p"), s.alias("s")).collect()
    }
    for v in inputs:
        want = split_prefix(v)
        if want is None:
            assert got[v] == ("", ""), v
        else:
            assert got[v] == want, v


def test_classify_iri_col_categories(spark):
    cases = {
        "@id": "keyword",
        "_:b0": "blank_node",
        "http://a/b": "absolute",
        "schema:name": "compact",
        "plain": "relative",
        "": "relative",
    }
    df = spark.createDataFrame([(v,) for v in cases], "v string")
    got = {
        r["v"]: r["c"]
        for r in df.select("v", classify_iri_col(F.col("v")).alias("c")).collect()
    }
    assert got == cases


def test_compact_iri_col_equal_length_curie_tiebreak(spark):
    """Two prefix terms with equal-length candidates for the same IRI: the
    kernel tie-breaks lexicographically on the full candidate STRING
    ('a0:rest' < 'a:0rest' since '0' < ':'), not on the term name — the
    column must agree."""
    from json_ld_spark.kernel import Context, ProcessorOptions, process_context

    processor = ProcessorOptions(document_iri="https://example.org/doc")
    ctx = process_context(
        processor,
        Context(base="https://example.org/doc"),
        {
            "a": {"@id": "http://p/", "@prefix": True},
            "a0": {"@id": "http://p/0", "@prefix": True},
        },
        "https://example.org/doc",
    )
    iris = ["http://p/0rest", "http://p/zrest", "http://p/00"]
    want = {v: compact_iri(ctx, v, vocab=True) for v in iris}
    assert want["http://p/0rest"] == "a0:rest"  # the tie the bug inverted
    df = spark.createDataFrame([(v,) for v in iris], "v string")
    got = {
        r["v"]: r["out"]
        for r in df.select(
            "v", compact_iri_col(F.col("v"), ctx).alias("out")
        ).collect()
    }
    assert got == want
