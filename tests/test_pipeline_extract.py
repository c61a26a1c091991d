"""End-to-end extraction tests on local Spark (SURVEY.md §5.2 item 3).

The golden oracle is the Spark-free, cache-free kernel loop of
``tools/make_golden.extract_rows``: the same turns are expanded
driver-side and compared exactly (P/R == 1.0 ⊃ the ≥0.95 gate).
"""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from json_ld_spark.contexts import ContextDict
from json_ld_spark.pipeline.extract import TurnExpander, extract_triples
from json_ld_spark.pipeline.transcripts import synth_transcripts
from tools.make_golden import extract_rows


@pytest.fixture(scope="module")
def transcripts(spark, sf_dir):
    return synth_transcripts(spark, sf_dir).cache()


def test_transcript_shape_and_determinism(spark, transcripts):
    assert transcripts.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    dtypes = dict(transcripts.dtypes)
    assert dtypes["turn_idx"] == "int"
    assert dtypes["ts"] == "timestamp"
    # (conv_id, turn_idx) is a key
    n = transcripts.count()
    assert n > 0
    assert transcripts.select("conv_id", "turn_idx").distinct().count() == n
    # deterministic regeneration
    again = synth_transcripts(spark, "/root/testdata/sf0.001")
    assert again.exceptAll(transcripts).count() == 0
    assert transcripts.exceptAll(again).count() == 0


def test_extract_matches_kernel_oracle(spark, transcripts):
    triples = extract_triples(transcripts)
    got = {
        tuple(r) for r in triples.where(F.col("error_code").isNull()).collect()
    }
    # driver-side oracle over the same turns
    turns = transcripts.select("conv_id", "turn_idx", "text", "tool").toPandas()
    expected = {t for t in extract_rows(turns) if t[-1] is None}
    assert got == expected
    assert len(got) > 0


def test_no_quarantine_rows_in_clean_corpus(spark, transcripts):
    triples = extract_triples(transcripts)
    assert triples.where(F.col("error_code").isNotNull()).count() == 0


def test_quarantine_on_malformed_doc(spark):
    rows = [
        ("c1", 0, "bad <jsonld>{not json}</jsonld>", None),
        ("c1", 1, "ok", '{"@context": {"@vocab": 42}, "a": "b"}'),
        ("c1", 2, "ok", '{"@context": "https://example.org/ctx/missing", "a": "b"}'),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, tool string")
    out = extract_triples(df).collect()
    codes = sorted(r.error_code for r in out)
    assert codes == [
        "invalid vocab mapping",
        "loading document failed",
        "loading remote context failed",
    ]


def test_failing_documents_skip_but_keep_their_index(spark):
    """Every per-turn operator shares one document step: a document that
    is not JSON or fails expansion is skipped by the shape operators
    (keeping the doc_idx of the ones after it) and quarantined by
    extract_triples, one row per failing document. NaN/Infinity literals
    (which Python's json accepts) and an array nested too deep to parse
    are not JSON; nodes nested more than 100 levels deep fail to load.
    None aborts the task, and the Spark-free mirror agrees."""
    from json_ld_spark.kernel import JsonLdError
    from json_ld_spark.pipeline.extract import (
        TaskMetricsParam,
        compact_turn_docs,
        flatten_turn_stats,
        frame_compact_turn_entities,
        frame_turn_entities,
    )

    bad_vocab = '{"@context": {"@vocab": 42}, "a": "b"}'
    good = json.dumps({
        "@context": {"name": "http://schema.org/name"},
        "@id": "http://ex.org/alice", "name": "Alice",
    })
    non_finite = [
        '{"@id": "http://ex.org/n", "http://ex.org/v": %s}' % c
        for c in ("NaN", "Infinity", "-Infinity")
    ]
    rows = [
        ("c1", 0, "bad <jsonld>{not json}</jsonld>", None),
        ("c1", 1, "ok", bad_vocab),
        ("c1", 2, "ok", '{"@context": "https://example.org/ctx/missing", "a": "b"}'),
        # [malformed, JsonLdError doc, good doc]: tool first, then inline
        ("c1", 3, f"<jsonld>{bad_vocab}</jsonld> <jsonld>{good}</jsonld>",
         "{not json}"),
        ("c1", 4, "no documents here", None),
        # [deep array, NaN, Infinity, -Infinity, good doc]
        ("c1", 5, "".join(f"<jsonld>{d}</jsonld>" for d in non_finite)
         + f"<jsonld>{good}</jsonld>", "[" * 100_000 + "]" * 100_000),
        # [600 nested nodes, good doc]
        ("c1", 6, f"<jsonld>{good}</jsonld>",
         '{"http://ex.org/p": ' * 600 + '{"@id": "http://ex.org/leaf"}'
         + "}" * 600),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string"
    )

    for op in (frame_turn_entities, frame_compact_turn_entities):
        got = [(r.turn_idx, r.doc_idx, r.root_id) for r in op(df).collect()]
        assert got == [
            (3, 2, "http://ex.org/alice"),
            (5, 4, "http://ex.org/alice"),
            (6, 1, "http://ex.org/alice"),
        ], op.__name__
    got = [(r.turn_idx, r.doc_idx, r.roundtrip_ok)
           for r in compact_turn_docs(df).collect()]
    assert got == [(3, 2, 1), (5, 4, 1), (6, 1, 1)]

    stats = {r.turn_idx: tuple(r)[2:] for r in flatten_turn_stats(df).collect()}
    assert set(stats) == {0, 1, 2, 3, 5, 6}  # one row per candidate turn
    assert stats[0] == stats[1] == stats[2] == (0, 0, 0, 0)
    assert stats[3][0] == 1 and stats[3][1] >= 1
    assert stats[5] == stats[6] == stats[3]  # the good doc alone

    acc = spark.sparkContext.accumulator([], TaskMetricsParam())
    out = extract_triples(df, task_metrics_acc=acc).collect()
    codes = sorted((r.turn_idx, r.error_code or "") for r in out)
    assert codes == [
        (0, "loading document failed"),
        (1, "invalid vocab mapping"),
        (2, "loading remote context failed"),
        (3, ""),
        (3, "invalid vocab mapping"),
        (3, "loading document failed"),
        (5, ""),
        *[(5, "loading document failed")] * 4,  # one row per document
        (6, ""),
        (6, "loading document failed"),
    ]
    samples = acc.value
    assert sum(s[0] for s in samples) == 6  # candidate turns
    assert sum(s[4] + s[5] for s in samples) == 13  # documents
    assert Counter(map(tuple, out)) == Counter(extract_rows(df.toPandas()))

    # the compacting frame compiles on the driver: an invalid frame
    # context fails when the operator is called, not inside a task
    with pytest.raises(JsonLdError):
        frame_compact_turn_entities(
            df, frame={"@context": {"@vocab": 42}, "name": {}}
        )


def _node_chain(levels: int) -> str:
    """A named root node over a chain of nested nodes: ``levels`` levels
    of JSON objects."""
    doc = {"@id": "http://ex.org/leaf"}
    for _ in range(levels - 2):
        doc = {"http://ex.org/p": doc}
    return json.dumps({
        "@id": "http://ex.org/root", "http://schema.org/name": "Root",
        "http://ex.org/p": doc,
    })


def test_nesting_depth_rule(spark):
    """100 levels of objects run in all five operators in Spark's
    workers; 101 levels fail to load, in extract_triples and in the
    Spark-free mirror run in this driver process (whose recursion limit
    differs from the workers') alike."""
    from json_ld_spark.pipeline.extract import (
        compact_turn_docs,
        flatten_turn_stats,
        frame_compact_turn_entities,
        frame_turn_entities,
    )

    df = spark.createDataFrame(
        [("d", n, "ok", _node_chain(n)) for n in (100, 101)],
        "conv_id string, turn_idx int, text string, tool string",
    )
    out = extract_triples(df).collect()
    assert Counter((r.turn_idx, r.error_code) for r in out) == Counter(
        {(100, None): 100, (101, "loading document failed"): 1}
    )
    assert Counter(map(tuple, out)) == Counter(extract_rows(df.toPandas()))

    for op in (frame_turn_entities, frame_compact_turn_entities):
        got = [(r.turn_idx, r.doc_idx, r.root_id) for r in op(df).collect()]
        assert got == [(100, 0, "http://ex.org/root")], op.__name__
    got = [(r.turn_idx, r.doc_idx, r.roundtrip_ok)
           for r in compact_turn_docs(df).collect()]
    assert got == [(100, 0, 1)]
    stats = {r.turn_idx: r for r in flatten_turn_stats(df).collect()}
    # flattening drops the leaf: a node with only an @id
    assert (stats[100].n_docs, stats[100].n_nodes) == (1, 99)
    assert stats[101].n_docs == 0


def test_per_turn_text_equality_invariant(spark, transcripts):
    """North-rule invariant: joining triples back to the input preserves
    per-turn text equality under stable (conv_id, turn_idx) ordering."""
    triples = extract_triples(transcripts)
    joined = (
        triples.select("conv_id", "turn_idx").distinct()
        .join(transcripts, ["conv_id", "turn_idx"], "inner")
        .join(
            transcripts.select(
                "conv_id", "turn_idx", F.col("text").alias("text2")
            ),
            ["conv_id", "turn_idx"],
        )
    )
    mismatches = joined.where(F.col("text") != F.col("text2")).count()
    assert mismatches == 0
    # every JSON-bearing turn produced at least one triple
    bearing = transcripts.where(
        F.col("tool").isNotNull() | F.col("text").contains("<jsonld>")
    ).count()
    covered = triples.select("conv_id", "turn_idx").distinct().count()
    assert covered == bearing


def test_extraction_fanout_shapes(spark, transcripts):
    triples = extract_triples(transcripts).where(F.col("error_code").isNull())
    kinds = {r.obj_kind for r in triples.select("obj_kind").distinct().collect()}
    assert kinds <= {"iri", "bnode", "literal"}
    preds = {
        r.pred for r in triples.select("pred").distinct().collect()
    }
    # templates cover prefix expansion, vocab concat, typed terms, reverse
    assert "http://schema.org/name" in preds  # ctx/prefix name
    assert "http://schema.org/knows" in preds  # forward + reverse templates
    assert "http://ex.org/v#affil" in preds  # ctx/base vocab concat
    assert "http://ex.org/label" in preds  # ctx/typed


def test_dedup_turns_deterministic_survivor(spark):
    """A replayed (conv_id, turn_idx) whose retry carried a DIFFERENT
    payload must resolve to one deterministic survivor (max payload hash),
    not whichever row a partitioning delivers first — otherwise triples
    drift across runs and the byte-identical resume/checksum guarantee
    breaks."""
    doc_a = json.dumps({"@id": "http://ex.org/a", "http://ex.org/p": "va"})
    doc_b = json.dumps({"@id": "http://ex.org/b", "http://ex.org/p": "vb"})
    rows = [("c1", 0, None, doc_a), ("c1", 0, None, doc_b)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string"
    )
    outs = set()
    for n_parts in (1, 2, 7):
        got = sorted(
            tuple(r)
            for r in extract_triples(
                df.repartition(n_parts), dedup_turns=True
            ).collect()
        )
        outs.add(tuple(got))
        assert len(got) == 1  # one doc survives, one triple
    assert len(outs) == 1, "survivor must not depend on partitioning"
    # byte-identical replays keep working (the common retry case)
    dup = spark.createDataFrame(
        [("c1", 0, None, doc_a), ("c1", 0, None, doc_a)],
        "conv_id string, turn_idx int, text string, tool string",
    )
    got = extract_triples(dup, dedup_turns=True).collect()
    assert len(got) == 1 and got[0]["subj"] == "http://ex.org/a"


def test_compact_turn_docs_fixpoint_and_kernel_parity(spark, transcripts):
    """compact_turn_docs: every fixture doc must satisfy the
    expand→compact→expand fixpoint in-operator, and the whole stats row
    set must equal a driver-side kernel recompute (no Spark in the
    oracle path)."""
    import hashlib

    from json_ld_spark.kernel import (
        Context,
        JsonLdError,
        compact_document,
        expand_document,
        normalize_expanded,
    )
    from json_ld_spark.pipeline.extract import (
        _compacted_doc_stats,
        compact_turn_docs,
        iter_turn_documents,
    )

    got = {tuple(r) for r in compact_turn_docs(transcripts).collect()}
    assert got, "no compacted docs emitted"
    assert all(r[6] == 1 for r in got), "a fixture doc failed the fixpoint"

    ctx = ContextDict()
    expander = TurnExpander(ctx)
    expected = set()
    for row in transcripts.select("conv_id", "turn_idx", "text", "tool").collect():
        for doc_idx, raw in enumerate(iter_turn_documents(row.text, row.tool)):
            try:
                doc = json.loads(raw)
            except ValueError:
                continue
            try:
                ctx_value = doc.get("@context") if isinstance(doc, dict) else None
                if ctx_value is not None:
                    active = expander._active_context(ctx_value)
                    body = {k: v for k, v in doc.items() if k != "@context"}
                else:
                    active = Context(base=ctx.document_iri)
                    body = doc
                expanded = expand_document(expander.processor, active, body)
                # mirror the pipeline's publishing choice (absolute IRIs)
                compacted = compact_document(
                    active, expanded, compact_to_relative=False
                )
                rt = 1 if normalize_expanded(expand_document(
                    expander.processor, active, compacted
                )) == normalize_expanded(expanded) else 0
            except JsonLdError:
                continue
            n_keys, n_terms, n_iris = _compacted_doc_stats(compacted)
            fp = hashlib.md5(
                json.dumps(compacted, sort_keys=True, separators=(",", ":")).encode()
            ).hexdigest()
            expected.add(
                (row.conv_id, row.turn_idx, doc_idx, n_keys, n_terms, n_iris, rt, fp)
            )
    assert got == expected


def test_turn_expander_memoizes_contexts_and_documents():
    """VERDICT r5 pin: TurnExpander compiles an inline @context ONCE per
    distinct JSON (the reference's per-run cache contract,
    /root/reference/src/remote.rs:29-38) and expands an identical raw
    document once — everything after is a dict lookup. Spark-free
    microbench surface: the counters are what the extraction metrics
    accumulator ships per task."""
    from json_ld_spark.pipeline.extract import _triple_parts

    ex = TurnExpander(ContextDict())
    ctx = {"name": "http://schema.org/name"}
    doc_a = json.dumps({"@context": ctx, "@id": "http://e/a", "name": "A"})
    doc_b = json.dumps({"@context": ctx, "@id": "http://e/b", "name": "B"})

    [(idx, parts_a, code)] = ex.docs(None, doc_a, _triple_parts)
    assert (idx, code) == (0, None) and parts_a
    assert ex.cache_stats["ctx_misses"] == 1
    # different doc, byte-identical inline context: compile cache hit
    list(ex.docs(None, doc_b, _triple_parts))
    assert ex.cache_stats == {
        "ctx_hits": 1, "ctx_misses": 1, "doc_hits": 0, "doc_misses": 2,
    }
    # identical raw doc (retried tool call, here inline and second in its
    # turn): whole-document memo hit, no new context work, same parts
    again = list(ex.docs(f"<jsonld>{doc_a}</jsonld>", doc_b, _triple_parts))
    assert ex.cache_stats["doc_hits"] == 2
    assert ex.cache_stats["ctx_hits"] == 1  # not even a ctx lookup
    assert again[1] == (1, parts_a, None)
    # a failing document is memoized with its error code
    for _ in range(2):
        assert list(ex.docs(None, "{not json", _triple_parts)) == [
            (0, None, "loading document failed")
        ]
    assert ex.cache_stats["doc_misses"] == 3
    assert ex.cache_stats["doc_hits"] == 3
