"""JVM-side vectorized IRI compaction vs the Spark-free kernel oracle.

The kernel (reference-parity, tests/test_kernel_*) is ground truth; the
Catalyst expression in json_ld_spark/functions must agree on every value
class it claims to cover (SURVEY.md P2 / §6.3).
"""

import pytest
from pyspark.sql import functions as F

from json_ld_spark.contexts import ContextDict
from json_ld_spark.functions import compact_iri_col
from json_ld_spark.kernel import Context, expand_iri, process_context
from json_ld_spark.kernel.compact import compact_iri

CTX_IRIS = [
    "https://example.org/ctx/base",
    "https://example.org/ctx/prefix",
    "https://example.org/ctx/typed",
    "https://example.org/ctx/nullterm",
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
    rows = preds.select(
        "pred", compact_iri_col(F.col("pred"), ctx).alias("compact")
    ).collect()
    bad = [
        (r["pred"], r["compact"]) for r in rows
        if r["compact"] is None
        or expand_iri(
            ctxdict.processor, ctx, r["compact"], vocab=True,
            document_relative=False,
        ) != r["pred"]
    ]
    assert not bad, bad


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
