"""Property tests (SURVEY §5.2-4, hypothesis): kernel invariants that hold
for *every* input, not just the table-driven fixtures. Spark-free and fast.

- expansion idempotence for absolute IRIs (expand∘expand == expand)
- keyword-form strings that are not keywords always expand to null
  (src/expand/iri.rs:244-247, syntax.rs:8-10)
- compact→expand round-trip under a prefix-closed context (§6.3 inverse)
- prefix/suffix split is a partition of the input (src/iri.rs:43-54: the
  first char is never a separator; prefix + ':' + suffix reassembles)
- RFC 3986 base resolution: resolving an absolute reference is identity
"""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from json_ld_spark.contexts import ContextDict
from json_ld_spark.kernel import Context, expand_iri, process_context
from json_ld_spark.kernel.compact import compact_iri
from json_ld_spark.kernel.iri import resolve_iri, split_prefix
from json_ld_spark.kernel.model import KEYWORDS

_HOST = st.text(string.ascii_lowercase + string.digits, min_size=1, max_size=8)
_PATH = st.text(string.ascii_lowercase + string.digits + "-_", min_size=0, max_size=12)
_LOCAL = st.text(string.ascii_lowercase + string.digits + "-_.", min_size=0, max_size=12)


def _compile(cd, ctx_iri):
    """The active context ``ctx_iri`` yields over the document base."""
    return process_context(
        cd.processor, Context(base=cd.document_iri), ctx_iri, cd.document_iri
    )


@settings(max_examples=200, deadline=None)
@given(host=_HOST, path=_PATH)
def test_expand_idempotent_on_absolute_iris(host, path):
    cd = ContextDict()
    ctx = _compile(cd, "https://example.org/ctx/prefix")
    iri = f"http://{host}/{path}"
    once = expand_iri(cd.processor, ctx, iri, vocab=True, document_relative=False)
    twice = expand_iri(cd.processor, ctx, once, vocab=True, document_relative=False)
    assert once == iri
    assert twice == once


@settings(max_examples=200, deadline=None)
@given(word=st.text(string.ascii_letters, min_size=1, max_size=10))
def test_keyword_form_always_null(word):
    cd = ContextDict()
    ctx = _compile(cd, "https://example.org/ctx/prefix")
    value = "@" + word
    got = expand_iri(cd.processor, ctx, value, vocab=True, document_relative=False)
    if value in KEYWORDS:
        assert got == value  # true keywords pass through
    else:
        assert got is None  # keyword-form → null (iri.rs:244-247)


@settings(max_examples=200, deadline=None)
@given(
    ns=st.sampled_from(["http://schema.org/", "http://ex.org/", "http://ex.org/v#"]),
    local=_LOCAL,
)
def test_compact_expand_roundtrip(ns, local):
    cd = ContextDict()
    ctx = process_context(
        cd.processor,
        Context(base=cd.document_iri),
        {"schema": "http://schema.org/", "ex": "http://ex.org/",
         "v": "http://ex.org/v#"},
        cd.document_iri,
    )
    iri = ns + local
    compacted = compact_iri(ctx, iri, vocab=True)
    back = expand_iri(
        cd.processor, ctx, compacted, vocab=True, document_relative=False
    )
    assert back == iri, (iri, compacted, back)


@settings(max_examples=300, deadline=None)
@given(s=st.text(string.ascii_lowercase + ":/_", min_size=0, max_size=16))
def test_split_prefix_partitions_input(s):
    got = split_prefix(s)
    if got is None:
        # no colon past position 0 (the first char is never a separator)
        assert ":" not in s[1:]
    else:
        p, suf = got
        assert p + ":" + suf == s
        assert len(p) >= 1
        assert ":" not in p[1:]


@settings(max_examples=200, deadline=None)
@given(host=_HOST, path=_PATH, base_path=_PATH)
def test_resolve_absolute_reference_is_identity(host, path, base_path):
    ref = f"http://{host}/{path}"
    base = f"http://base.example/{base_path}"
    assert resolve_iri(ref, base) == ref
