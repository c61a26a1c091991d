"""Entity layer + connected components tests (SURVEY.md §7 M3)."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from json_ld_spark.pipeline.cc import (
    _distributed_components,
    _driver_components,
    connected_components,
)
from json_ld_spark.pipeline.entity import (
    block_canon,
    canonicalize,
    derive_nodes,
    detect_mentions,
    entity_dictionary,
    entity_local_name,
    link_mentions,
    same_as_edges,
)
from json_ld_spark.pipeline.extract import extract_triples
from json_ld_spark.pipeline.transcripts import synth_transcripts


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("x", "y")],
        "src string, dst string",
    )
    out = {r.id: r.component for r in connected_components(edges).collect()}
    assert out == {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d", "f": "d",
        "x": "x", "y": "x",
    }


def test_connected_components_chain_and_star(spark):
    # a long path exercises multiple star rounds
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(20)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    out = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(out.values()) == {"n00"}
    assert len(out) == 21


_CHAIN = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(20)]


def _branch_rows(spark, pairs):
    """(driver rows, distributed rows) of CC over ``pairs``, each branch
    called directly, as multisets of (id, component)."""
    edges = spark.createDataFrame(pairs, "src string, dst string")
    driver = _driver_components(spark, edges.collect())
    dist = _distributed_components(edges, max_iterations=25)
    return (
        Counter(tuple(r) for r in driver.collect()),
        Counter(tuple(r) for r in dist.collect()),
    )


@pytest.mark.parametrize(
    "pairs",
    [
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("x", "y")],
        _CHAIN + [("hub", f"s{i}") for i in range(6)],
        [("a", "b"), ("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")],
        [("s", "s"), ("a", "b"), ("b", "b")],
        [],
        [("a", None), (None, "b"), ("b", "c"), (None, None)],
        # U+FB01 < U+1F600 in code points and UTF-8 bytes, but not in UTF-16
        [("\U0001f600y", "\ufb01x"), ("\U0001f601", "\U0001f600y"),
         ("é", "日本")],
    ],
    ids=["basic", "chain_star", "duplicates", "self_loop", "empty",
         "null_endpoint", "non_ascii"],
)
def test_cc_branches_agree(spark, pairs):
    driver, dist = _branch_rows(spark, pairs)
    assert driver == dist
    ids = {v for p in pairs for v in p}
    assert set(i for i, _ in driver) == ids  # one row per distinct id
    assert max(driver.values(), default=1) == 1


def test_cc_driver_labels(spark):
    """Spot labels the branch-equality test cannot pin by itself."""
    edges = spark.createDataFrame(
        [("s", "s"), ("a", None), ("\U0001f600y", "\ufb01x"),
         ("\U0001f601", "\U0001f600y")],
        "src string, dst string",
    )
    out = {r.id: r.component for r in connected_components(edges).collect()}
    assert out["s"] == "s"  # self-loop-only node labels itself
    assert out["a"] == "a" and out[None] is None
    members = ("\U0001f600y", "\ufb01x", "\U0001f601")
    assert {out[k] for k in members} == {"\ufb01x"}


_NODE = st.sampled_from(["a", "b", "c", "d", "e", "é", "日", "\U0001f600", None])


@settings(max_examples=8, deadline=None)
@given(pairs=st.lists(st.tuples(_NODE, _NODE), max_size=12))
def test_cc_branches_agree_random(spark, pairs):
    driver, dist = _branch_rows(spark, pairs)
    assert driver == dist


def test_cc_distributed_raises_without_convergence(spark):
    edges = spark.createDataFrame(_CHAIN, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        _distributed_components(edges, max_iterations=1)


@pytest.fixture(scope="module")
def triples(spark, sf_dir):
    return extract_triples(synth_transcripts(spark, sf_dir)).cache()


def test_entity_dictionary_blocking(spark, triples):
    ents = entity_dictionary(triples)
    rows = ents.collect()
    assert all(r.block_key for r in rows)
    # the two namespaces of person-0 share a block key
    keys = {r.entity_iri: r.block_key for r in rows}
    ex = [i for i in keys if i.endswith("/person-0")]
    assert len({keys[i] for i in ex}) == 1
    # http://ex.org/person-0 + the document-relative namespace (quirk R6)
    assert len(ex) >= 2


def test_same_as_and_canonicalize(spark, triples):
    canon, nodes, edges = canonicalize(triples)
    cm = {r.iri: r.canon_id for r in canon.collect()}
    # alias namespaces collapse to one canonical id (lexicographic min).
    # ctx/base documents use relative @id; since @base inside a *remote*
    # context is ignored (quirk R6, ctx_def.rs:211) they resolve against the
    # document IRI → a second namespace for the same entity.
    alias = "https://example.org/transcripts/person-0"
    assert cm.get("http://ex.org/person-0") == cm.get(alias)
    assert cm["http://ex.org/person-0"] == "http://ex.org/person-0"
    nrows = nodes.collect()
    assert {r.canon_id for r in nrows} == set(cm.values())
    merged = [r for r in nrows if r.n_aliases > 1]
    assert merged, "expected at least one merged entity"
    # kind classification
    kinds = {r.kind for r in nrows}
    assert "person" in kinds
    # edges reference canonical ids only and carry provenance counts
    erows = edges.collect()
    canon_ids = set(cm.values())
    for r in erows:
        assert r.src_canon in canon_ids
        assert r.dst_canon in canon_ids
        assert r.provenance >= 1
    assert any(r.pred == "http://schema.org/knows" for r in erows)


def _block_canon_and_reference(entities):
    """(block_canon labels, reference labels) as multisets of
    (entity_iri, canon_id). The reference is the connected-components
    path: CC over ``same_as_edges``, entities outside every edge labelled
    by themselves."""
    got = block_canon(entities).select("entity_iri", "canon_id")
    comp = connected_components(same_as_edges(entities))
    ref = entities.join(comp, entities.entity_iri == comp.id, "left").select(
        "entity_iri", F.coalesce("component", "entity_iri").alias("canon_id")
    )
    return (
        Counter(tuple(r) for r in got.collect()),
        Counter(tuple(r) for r in ref.collect()),
    )


def _entities(spark, iris):
    return spark.createDataFrame(
        [(i,) for i in iris], "entity_iri string"
    ).withColumn("block_key", entity_local_name(F.col("entity_iri")))


def test_block_canon_matches_cc_on_fixture(spark, triples):
    got, ref = _block_canon_and_reference(entity_dictionary(triples))
    assert got == ref
    assert any(iri != canon for iri, canon in got)  # some block merged


def test_block_canon_block_cap(spark):
    at_cap = [f"http://ex.org/{i:02d}/item-64" for i in range(64)]
    past_cap = [f"http://ex.org/{i:02d}/item-65" for i in range(65)]
    got, ref = _block_canon_and_reference(_entities(spark, at_cap + past_cap))
    assert got == ref
    labels = dict(got.keys())
    assert {labels[i] for i in at_cap} == {at_cap[0]}  # one star
    assert all(labels[i] == i for i in past_cap)  # dissolved


@pytest.mark.parametrize(
    "iris",
    [
        # singleton blocks
        ["http://ex.org/person-1", "http://ex.org/event-2", "urn:x:solo"],
        # IRIs ending in '/' share the empty block key
        ["http://ex.org/a/", "http://ex.org/b/", "http://other.org/",
         "http://ex.org/person-1"],
        # U+FB01 < U+1F600 in code points and UTF-8 bytes, but not in UTF-16
        ["http://ex.org/\U0001f600/k-1", "http://ex.org/\ufb01/k-1",
         "http://ex.org/\u00e9/k-1", "http://ex.org/\u65e5\u672c/k-2",
         "http://ex.org/z/k-2"],
    ],
    ids=["singletons", "empty_block_key", "non_ascii"],
)
def test_block_canon_matches_cc(spark, iris):
    got, ref = _block_canon_and_reference(_entities(spark, iris))
    assert got == ref
    assert len(got) == len(iris)


def test_block_canon_spot_labels(spark):
    """Labels the equality with the reference cannot pin by itself."""
    labels = dict(block_canon(_entities(spark, [
        "http://ex.org/a/", "http://ex.org/b/",
        "http://ex.org/\U0001f600/k-1", "http://ex.org/\ufb01/k-1",
    ])).select("entity_iri", "canon_id").collect())
    assert labels["http://ex.org/b/"] == "http://ex.org/a/"
    assert labels["http://ex.org/\U0001f600/k-1"] == "http://ex.org/\ufb01/k-1"
    # a null block key never links, whatever the block size
    nulls = spark.createDataFrame(
        [("http://ex.org/x", None), ("http://ex.org/y", None), (None, None)],
        "entity_iri string, block_key string",
    )
    got, ref = _block_canon_and_reference(nulls)
    assert got == ref == Counter(
        {("http://ex.org/x", "http://ex.org/x"): 1,
         ("http://ex.org/y", "http://ex.org/y"): 1, (None, None): 1}
    )


def test_derive_nodes_kind_from_local_name(spark):
    """``kind`` is the ``<kind>-<n>`` prefix of the local name, never a
    substring elsewhere in the IRI (the domain, a path segment)."""
    iris = [
        "http://ex.org/x",
        "http://example.com/organization/7",
        "http://ex.org/d/org-3",
        "http://ex.org/v#person-4",
    ]
    canon = spark.createDataFrame(
        [(i, i) for i in iris], "iri string, canon_id string"
    )
    kinds = dict(derive_nodes(canon).select("canon_id", "kind").collect())
    assert kinds == {
        "http://ex.org/x": "other",
        "http://example.com/organization/7": "other",
        "http://ex.org/d/org-3": "org",
        "http://ex.org/v#person-4": "person",
    }


_IRI = st.builds(
    lambda ns, local: f"http://{ns}/{local}",
    st.sampled_from(["ex.org", "ex.org/d", "a.b/\u00e9", "x/\U0001f600"]),
    st.sampled_from(["person-1", "person-2", "event-1", "", "\ufb01"]),
)


@settings(max_examples=8, deadline=None)
@given(iris=st.sets(_IRI, max_size=14), big=st.integers(63, 66))
def test_block_canon_matches_cc_random(spark, iris, big):
    """Random small blocks plus one block of 63..66 members, around the
    64-member cap ``same_as_edges`` applies by default."""
    around_cap = [f"http://ex.org/{i:02d}/big-1" for i in range(big)]
    got, ref = _block_canon_and_reference(
        _entities(spark, sorted(iris) + around_cap)
    )
    assert got == ref


def test_link_mentions_no_forced_broadcast(spark, sf_dir, triples):
    """Scale guard: the entity dictionary is unbounded, so link_mentions
    must NOT force a broadcast. With the auto-broadcast threshold off (the
    past-threshold case), the physical plan must fall back to a shuffled
    join (SortMergeJoin / ShuffledHashJoin), proving no broadcast hint is
    baked into the operator."""
    mentions = detect_mentions(synth_transcripts(spark, sf_dir))
    ents = entity_dictionary(triples)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            link_mentions(mentions, ents)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_mention_detection_and_linking(spark, sf_dir, triples):
    transcripts = synth_transcripts(spark, sf_dir)
    mentions = detect_mentions(transcripts)
    mrows = mentions.limit(50).collect()
    assert mrows
    assert all(r.block_key.split("-")[0] in ("person", "event") for r in mrows)
    ents = entity_dictionary(triples)
    linked = link_mentions(mentions, ents)
    hit = linked.where(F.col("cand_entity").isNotNull())
    assert hit.count() > 0
    sample = hit.limit(20).collect()
    for r in sample:
        assert r.block_key in r.cand_entity


def test_incremental_canonicalize_matches_full(spark, sf_dir):
    """Snapshot-append increment: only affected blocks re-run CC, only
    changed-canon triples re-aggregate — and the result must equal the
    full recompute bit-for-bit. The delta exercises all three cases:
    (a) a brand-new block, (b) a new alias that becomes the new minimum of
    an EXISTING block (old members' canon changes, stale edge groups must
    be dropped and re-derived), (c) untouched blocks."""
    from json_ld_spark.pipeline.entity import (
        canonicalize,
        entity_dictionary,
        incremental_canonicalize,
    )
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    old_triples = extract_triples(
        synth_transcripts(spark, sf_dir)
    ).localCheckpoint()
    prev_canon, _nodes, edges_prev = canonicalize(old_triples)
    prev_entities = entity_dictionary(
        old_triples.where(F.col("error_code").isNull())
    ).localCheckpoint()
    edges_prev = edges_prev.localCheckpoint()

    delta_docs = [
        # (b) new min of an existing block: 'a/person-3' < 'd/person-3'
        '{"@id":"http://ex.org/a/person-3","http://schema.org/name":"alias",'
        '"http://schema.org/knows":{"@id":"http://ex.org/person-4"}}',
        # (a) brand-new block + edge into an untouched entity
        '{"@id":"http://ex.org/person-99999",'
        '"http://schema.org/name":"new one",'
        '"http://schema.org/knows":{"@id":"http://ex.org/person-7"}}',
    ]
    t2 = spark.createDataFrame(
        [
            ("conv-new", i, "tool", "tool call", doc)
            for i, doc in enumerate(delta_docs)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    new_triples = extract_triples(t2).localCheckpoint()
    assert new_triples.where(F.col("error_code").isNotNull()).count() == 0

    canon_full, nodes, edges = incremental_canonicalize(
        old_triples, new_triples, prev_entities, prev_canon, edges_prev
    )
    full_canon, full_nodes, full_edges = canonicalize(
        old_triples.unionByName(new_triples)
    )

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(canon_full, ["iri", "canon_id"]) == rows(
        full_canon, ["iri", "canon_id"]
    )
    assert rows(nodes, ["canon_id", "iri", "kind", "n_aliases"]) == rows(
        full_nodes, ["canon_id", "iri", "kind", "n_aliases"]
    )
    assert rows(edges, ["src_canon", "pred", "dst_canon", "provenance"]) == rows(
        full_edges, ["src_canon", "pred", "dst_canon", "provenance"]
    )
    # the increment really did change an existing block's canon
    moved = prev_canon.join(
        canon_full.withColumnRenamed("canon_id", "new_canon"), "iri"
    ).where(F.col("canon_id") != F.col("new_canon"))
    assert moved.count() > 0


def test_incremental_noop_delta_is_identity(spark, sf_dir):
    """An append introducing NO new entities must keep canon/nodes/edges
    verbatim (zero affected blocks, zero recomputed edge groups beyond the
    new triples' own contributions)."""
    from json_ld_spark.pipeline.entity import (
        canonicalize,
        entity_dictionary,
        incremental_canonicalize,
    )
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    old_triples = extract_triples(
        synth_transcripts(spark, sf_dir)
    ).localCheckpoint()
    prev_canon, nodes_prev, edges_prev = canonicalize(old_triples)
    prev_entities = entity_dictionary(
        old_triples.where(F.col("error_code").isNull())
    ).localCheckpoint()

    empty = spark.createDataFrame(
        [], old_triples.schema
    )
    canon_full, nodes, edges = incremental_canonicalize(
        old_triples, empty, prev_entities, prev_canon,
        edges_prev.localCheckpoint(),
    )

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(canon_full, ["iri", "canon_id"]) == rows(
        prev_canon, ["iri", "canon_id"]
    )
    assert rows(edges, ["src_canon", "pred", "dst_canon", "provenance"]) == rows(
        edges_prev, ["src_canon", "pred", "dst_canon", "provenance"]
    )


def test_incremental_no_forced_broadcast(spark, sf_dir):
    """Scale guard (round-3 verdict #1): ``stale_canons`` / ``changed_iris``
    scale with the append (a backfill makes them O(new entities)), so the
    incremental path must NOT force-broadcast them. With the auto-broadcast
    threshold off — simulating a past-threshold changed set — the edges
    plan must contain no BroadcastHashJoin at all (the only remaining hints
    are on the bounded ``affected_keys`` set, which sits behind the
    canon_full localCheckpoint and never reaches this plan), while the
    result still equals the full recompute bit-for-bit."""
    from json_ld_spark.pipeline.entity import (
        canonicalize,
        entity_dictionary,
        incremental_canonicalize,
    )
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    old_triples = extract_triples(
        synth_transcripts(spark, sf_dir)
    ).localCheckpoint()
    prev_canon, _nodes, edges_prev = canonicalize(old_triples)
    prev_entities = entity_dictionary(
        old_triples.where(F.col("error_code").isNull())
    ).localCheckpoint()
    edges_prev = edges_prev.localCheckpoint()

    # backfill-shaped delta: a new lexicographic-min alias for MANY existing
    # blocks at once, so changed_iris covers every member of each block
    delta_docs = [
        (
        f'{{"@id":"http://ex.org/a/person-{n}",'
        f'"http://schema.org/name":"backfill alias {n}",'
        f'"http://schema.org/knows":{{"@id":"http://ex.org/person-{n+1}"}}}}'
        )
        for n in range(0, 40)
    ]
    t2 = spark.createDataFrame(
        [
            ("conv-backfill", i, "tool", "tool call", doc)
            for i, doc in enumerate(delta_docs)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    new_triples = extract_triples(t2).localCheckpoint()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        canon_full, nodes, edges = incremental_canonicalize(
            old_triples, new_triples, prev_entities, prev_canon, edges_prev
        )
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        edge_rows = sorted(tuple(r) for r in edges.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    _fc, _fn, full_edges = canonicalize(old_triples.unionByName(new_triples))
    assert edge_rows == sorted(tuple(r) for r in full_edges.collect())


def test_incremental_block_cap_dissolution(spark):
    """The self-review catch: an append pushing a block past
    same_as_edges' block cap DISSOLVES the component (no star edges → every
    member its own canon). The old representative keeps its canon id
    verbatim, yet all its edge groups are stale — without the closure over
    stale components its triples (and triples POINTING at it) would never
    re-aggregate and those edges would silently vanish vs the full
    recompute."""
    from json_ld_spark.pipeline.entity import (
        canonicalize,
        entity_dictionary,
        incremental_canonicalize,
    )
    from json_ld_spark.pipeline.extract import TRIPLE_SCHEMA

    def t(subj, obj):
        return ("c", 0, subj, "http://ex.org/p", "iri", obj,
                None, None, None, None, None)

    members = [f"http://ex.org/{i:02d}/item-1" for i in range(64)]
    stable = "http://ex.org/stable-9"
    old_rows = [t(m, stable) for m in members] + [t(stable, members[0])]
    old = spark.createDataFrame(old_rows, TRIPLE_SCHEMA).localCheckpoint()
    prev_canon, _nodes, edges_prev = canonicalize(old)
    prev_entities = entity_dictionary(old).localCheckpoint()
    # precondition: the 64-member block IS one component before the append
    assert (
        prev_canon.where(F.col("canon_id") == members[0]).count() == 64
    )

    new = spark.createDataFrame(
        [t("http://ex.org/zz/item-1", stable)], TRIPLE_SCHEMA
    ).localCheckpoint()
    canon_full, nodes, edges = incremental_canonicalize(
        old, new, prev_entities, prev_canon, edges_prev.localCheckpoint()
    )
    full_canon, full_nodes, full_edges = canonicalize(old.unionByName(new))

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(canon_full, ["iri", "canon_id"]) == rows(
        full_canon, ["iri", "canon_id"]
    )
    assert rows(edges, ["src_canon", "pred", "dst_canon", "provenance"]) == rows(
        full_edges, ["src_canon", "pred", "dst_canon", "provenance"]
    )
    # dissolution really happened: 65 members, 65 distinct canons
    assert (
        canon_full.where(F.col("iri").contains("item-1"))
        .select("canon_id").distinct().count() == 65
    )


def test_incremental_state_commit_crash_atomic(
    spark, sf_dir, tmp_path, crash_commit
):
    """Crash between state writes and the pointer swap must leave the OLD
    version authoritative: the re-run applies the delta exactly once (no
    duplicated triples / double-counted provenance)."""
    import json as _json
    import os

    from json_ld_spark.pipeline.job import run_incremental_snapshot_pipeline
    from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    store = ParquetSnapshotStore(spark, str(tmp_path / "atom_store"))
    t1 = synth_transcripts(spark, sf_dir).limit(200)
    store.append(t1.localCheckpoint())
    w = str(tmp_path / "atom_wh")
    boot = run_incremental_snapshot_pipeline(spark, store, w)
    n0 = boot.triples.count()

    delta = spark.createDataFrame(
        [("conv-x", 0, "tool", "x",
          '{"@id":"http://ex.org/x1","http://schema.org/name":"X"}')],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    store.append(delta)

    # real crash window inside the commit step: the run writes the ENTIRE
    # new state (v2 dirs + tmp pointer) but dies before the atomic pointer
    # rename — v1 stays authoritative (pruning only happens after the swap)
    meta_path = os.path.join(w, "entity_state", "state.json")
    with open(meta_path) as fh:
        before = _json.load(fh)
    import pytest as _pytest

    with crash_commit("state.json"), _pytest.raises(
        RuntimeError, match="crash committing state.json"
    ):
        run_incremental_snapshot_pipeline(spark, store, w)
    assert os.path.exists(meta_path + ".tmp")  # written, never renamed
    with open(meta_path) as fh:
        assert _json.load(fh) == before  # pointer untouched by the crash

    # the re-run must apply the delta against the OLD state exactly once
    redo = run_incremental_snapshot_pipeline(spark, store, w)
    assert redo.buckets_processed == 1
    assert redo.triples.count() == n0 + 1
    assert redo.triples.where(
        F.col("subj") == "http://ex.org/x1"
    ).count() == 1
