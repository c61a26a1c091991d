"""Entity layer: mention detection, blocking, linking, canonicalization.

SURVEY.md §2 operators U3 (mention detection), J1 (blocking join), J2/J3
(connected components + canonical rewrite), producing the final ``nodes`` /
``edges`` tables of the KG (SURVEY.md §1.3).

Design for 10^12 turns:
- Mention detection is an Arrow-batched pandas kernel (regex NER-lite) —
  never per-row Python at the Spark API level.
- Blocking keys (entity local names) make the candidate join an equi-join;
  the entity dictionary side is distinct-deduped first and is orders of
  magnitude smaller than mentions, so Spark broadcasts it (AQE also rescues
  misestimates). Hot blocks (hub entities) are bounded by a per-block
  candidate cap.
- J2 needs no connected-components run. ``same_as_edges`` links every
  member of a block of 2..``_MAX_BLOCK`` IRIs to the block's minimum IRI
  and adds no other edge, so every component is one block: a star around
  the block minimum, or (blocks of one, or past the cap) a singleton.
  ``block_canon`` computes exactly those labels in closed form with one
  window over ``block_key``; tests/test_pipeline_entity.py checks it
  against ``cc.connected_components(same_as_edges(...))``.
- J3 applies the canonical ids to triples with two equi-joins (subject
  side, object side). ``derive_nodes`` and ``rewrite_edges`` are the one
  derivation of nodes and edges, shared by the full build
  (``canonicalize``) and the snapshot append (``incremental_canonicalize``).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

# Largest block ``same_as_edges`` links, and the cap ``block_canon``
# applies: the closed form equals the CC labels only under one cap.
_MAX_BLOCK = 64

# The entity-layer tables, as the snapshot state stores them next to the
# triples (TRIPLE_SCHEMA). Every field is nullable: a parquet read with an
# explicit schema reports it that way.
ENTITY_SCHEMA = StructType([
    StructField("entity_iri", StringType()),
    StructField("block_key", StringType()),
])
CANON_SCHEMA = StructType([
    StructField("iri", StringType()),
    StructField("canon_id", StringType()),
])
EDGE_SCHEMA = StructType([
    StructField("src_canon", StringType()),
    StructField("pred", StringType()),
    StructField("dst_canon", StringType()),
    StructField("provenance", LongType()),
])

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

MENTION_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("surface", StringType()),
    StructField("block_key", StringType()),
])

# NER-lite: surface forms the fixture corpus emits ("Agent 17", "Event 3").
# Outer group 1 = the full surface form (extractall has no group-0 column),
# 2 = kind, 3 = number.
_MENTION_RE = re.compile(r"\b((Agent|Event)\s+(\d+))\b")

_KIND_MAP = {"Agent": "person", "Event": "event"}


def detect_mentions(transcripts: DataFrame) -> DataFrame:
    """U3 — mentions(conv_id, turn_idx, surface, block_key) from turn text.

    Fully vectorized inside the Arrow batch: ``Series.str.extractall`` runs
    the regex sweep in pandas' C loop and returns one row per match with
    the originating row index — no per-row Python ``finditer`` loop,
    which matters at 10^12 turns."""
    src = transcripts.select("conv_id", "turn_idx", "text")
    empty = pd.DataFrame(
        {
            "conv_id": pd.Series(dtype="object"),
            "turn_idx": pd.Series(dtype="int64"),
            "surface": pd.Series(dtype="object"),
            "block_key": pd.Series(dtype="object"),
        }
    )

    def find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hits = pdf["text"].str.extractall(_MENTION_RE)
            if not len(hits):
                yield empty
                continue
            ridx = hits.index.get_level_values(0).to_numpy()
            block_key = (
                hits[1].map(_KIND_MAP)
                + "-"
                + hits[2].astype("int64").astype(str)
            )
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[ridx],
                    "turn_idx": pdf["turn_idx"].to_numpy()[ridx],
                    "surface": hits[0].to_numpy(),
                    "block_key": block_key.to_numpy(),
                }
            )

    return src.mapInPandas(find, schema=MENTION_SCHEMA)


def entity_local_name(col: F.Column) -> F.Column:
    """Blocking key: trailing path/fragment segment of an entity IRI."""
    return F.regexp_extract(col, r"([^/#]+)$", 1)


def entity_dictionary(triples: DataFrame) -> DataFrame:
    """Distinct entity IRIs appearing as subjects or IRI-objects, with
    blocking keys. This is the (small) build side of the J1 linking join."""
    subs = triples.where(F.col("error_code").isNull()).select(
        F.col("subj").alias("entity_iri")
    )
    objs = (
        triples.where(
            (F.col("error_code").isNull()) & (F.col("obj_kind") == "iri")
        ).select(F.col("obj_value").alias("entity_iri"))
    )
    return (
        subs.union(objs)
        .where(~F.col("entity_iri").startswith("_:"))
        .where(~F.col("entity_iri").startswith("http://www.w3.org/"))
        .distinct()
        .withColumn("block_key", entity_local_name(F.col("entity_iri")))
    )


def link_mentions(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """J1 — mentions × entity dictionary on block_key.

    No forced broadcast: the dictionary is *unbounded* (distinct entities
    grow with the corpus — at 10^12 turns plausibly 10^8-10^9 rows, far past
    any safe broadcast threshold). AQE picks broadcast-hash when the built
    side is actually small and falls back to a shuffled join when it isn't;
    skewed block keys are additionally covered by AQE skew-join splitting
    (session.py enables both). tests/test_pipeline_entity.py pins that a
    past-threshold dictionary still produces a non-broadcast plan."""
    return mentions.join(
        entities.select("block_key", F.col("entity_iri").alias("cand_entity")),
        "block_key",
        "left",
    ).select(
        F.sha2(F.concat_ws("|", "conv_id", "turn_idx", "surface"), 256)
        .substr(1, 16).alias("mention_id"),
        "conv_id", "turn_idx", "surface", "block_key", "cand_entity",
    )


def same_as_edges(entities: DataFrame) -> DataFrame:
    """Same-entity edges: IRIs sharing a blocking key are duplicates of one
    canonical entity (fixture semantics: ctx/base emits
    ``http://ex.org/d/person-N`` for the same entity as
    ``http://ex.org/person-N``).

    Instead of an O(k²) pairwise self-join per block, each block links all
    members to the block's lexicographic minimum — a star, computed with
    one groupBy + one join. ``_MAX_BLOCK`` guards against degenerate giant
    blocks (a block bigger than the cap is almost certainly a bad key, not
    one entity).

    This is the edge-list form of the same-as rule; the build uses its
    closed-form components, ``block_canon``.
    """
    sized = entities.groupBy("block_key").agg(
        F.min("entity_iri").alias("canon_candidate"),
        F.count("*").alias("k"),
    ).where((F.col("k") > 1) & (F.col("k") <= _MAX_BLOCK))
    return (
        entities.join(sized, "block_key")
        .where(F.col("entity_iri") != F.col("canon_candidate"))
        .select(
            F.col("entity_iri").alias("src"),
            F.col("canon_candidate").alias("dst"),
        )
    )


def block_canon(entities: DataFrame) -> DataFrame:
    """J2 in closed form: ``entities`` plus ``canon_id``, the component
    label ``cc.connected_components(same_as_edges(entities))`` gives each
    entity, with entities outside every edge labelled by themselves.

    ``same_as_edges`` joins a block to itself only when it has
    ``1 < k <= _MAX_BLOCK`` members, and then links each member to the
    block minimum and nothing else, so the components are the blocks:
    ``canon_id`` is the block's minimum IRI for such a block and the IRI
    itself otherwise — including a null ``block_key``, which the
    equi-join never matches. One window over ``block_key``; Spark's string
    ``min`` is the UTF-8 byte order the CC labels use.
    """
    block = Window.partitionBy("block_key")
    k = F.count(F.lit(1)).over(block)
    return entities.withColumn(
        "canon_id",
        F.when(
            F.col("block_key").isNotNull() & (k > 1) & (k <= _MAX_BLOCK),
            F.min("entity_iri").over(block),
        ).otherwise(F.col("entity_iri")),
    )


def derive_nodes(canon: DataFrame) -> DataFrame:
    """nodes(canon_id, iri, kind, n_aliases) from canon(iri, canon_id): one
    row per canonical entity with its alias count and smallest alias.

    ``kind`` is a substring test on ``canon_id``. It has a known defect —
    ``"org"`` also matches the ``http://ex.org/`` domain — which
    tools/make_golden.py mirrors, so it stays as it is until ``kind`` gets
    an independent derivation."""
    return (
        canon.groupBy("canon_id")
        .agg(F.count("*").alias("n_aliases"), F.min("iri").alias("iri"))
        .withColumn(
            "kind",
            F.when(F.col("canon_id").contains("person"), "person")
            .when(F.col("canon_id").contains("event"), "event")
            .when(F.col("canon_id").contains("org"), "org")
            .otherwise("other"),
        )
        .select("canon_id", "iri", "kind", "n_aliases")
    )


def rewrite_edges(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """J3 — edges(src_canon, pred, dst_canon, provenance): the clean
    IRI-object triples with subject and object rewritten to canonical ids
    by two equi-joins against canon(iri, canon_id), ``rdf:`` predicates
    dropped, and ``provenance`` the number of triples per edge."""
    subj_map = canon.select(
        F.col("iri").alias("subj"), F.col("canon_id").alias("src_canon")
    )
    obj_map = canon.select(
        F.col("iri").alias("obj_value"), F.col("canon_id").alias("dst_canon")
    )
    return (
        triples.where(
            F.col("error_code").isNull() & (F.col("obj_kind") == "iri")
        )
        .join(subj_map, "subj", "inner")
        .join(obj_map, "obj_value", "inner")
        .where(~F.col("pred").startswith(_RDF_NS))
        .groupBy("src_canon", "pred", "dst_canon")
        .agg(F.count("*").alias("provenance"))
    )


def canonicalize(triples: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full entity layer: returns (canon, nodes, edges).

    canon:     (iri, canon_id)   — entity IRI → canonical id (CANON_SCHEMA)
    nodes:     (canon_id, iri, kind, n_aliases)
    edges:     (src_canon, pred, dst_canon, provenance)

    ``triples`` is read twice (entity dictionary + canonical rewrite), and
    both skip its quarantine rows. In the job path it is a parquet table
    (manifest.read_triples), so re-reading is cheap; a caller holding a
    live extraction plan passes ``triples.localCheckpoint()`` so the
    Python kernel runs once, not per consumer.
    """
    # read three times: the nodes aggregation and both rewrite joins
    canon = (
        block_canon(entity_dictionary(triples))
        .select(F.col("entity_iri").alias("iri"), "canon_id")
        .localCheckpoint()
    )
    return canon, derive_nodes(canon), rewrite_edges(triples, canon)


def incremental_canonicalize(
    old_triples: DataFrame,
    new_triples: DataFrame,
    prev_entities: DataFrame,
    prev_canon: DataFrame,
    prev_edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental entity layer for snapshot appends: canonicalize ONLY the
    blocks a genuinely-new entity touches and rewrite ONLY the triples an
    affected canon touches, instead of re-labelling every entity and
    re-running the two rewrite joins over the whole corpus
    (``canonicalize``).

    Why this is exact (not an approximation): ``block_key`` is a pure
    function of the entity IRI and the components are the blocks
    (``block_canon``), so the canons of untouched blocks are untouched,
    bit-for-bit. Edge groups whose endpoints' canon ids did not change
    keep their previous counts; every triple touching a recomputed entity,
    plus every new triple, re-aggregates. Equality with the full recompute
    is pinned by tests/test_pipeline_entity.py.

    One delta-bounded frame drives the rest. ``aff`` holds every entity of
    an affected block (the blocks of the genuinely-new entities) with its
    new canon, its previous canon (``prev_canon`` semi-joined to the
    broadcast ``affected_keys``; null for a new entity) and a per-block
    ``moved`` flag: some previous member's canon changed. A moved block
    recomputes the triples of ALL its previous members and marks ALL their
    previous canons stale — ``changed_iris`` and ``stale_canons`` are two
    filters of ``aff``. The rule is needed for the dissolution case: an
    append pushing a block past ``_MAX_BLOCK`` makes every member its own
    canon, the old representative keeps its canon id verbatim, yet all
    its edge groups are stale, so its triples (and triples pointing at
    it) must re-aggregate
    (tests/test_pipeline_entity.py::test_incremental_block_cap_dissolution).
    It equals the closure "every previous member of a component with a
    changed member", because a block's previous components are either one
    star (all share the block minimum's canon) or all singletons; and a
    block of singletons with more than one member is past the cap, stays
    past it, and never moves.

    At 10^12 turns this is the difference between an append costing
    O(delta + affected blocks) and re-labelling 10^9 entities: the only
    full-corpus touches left are two semi-join-filtered scans of the OLD
    triples (subj/obj membership in the changed-entity set) and the
    entity-scale canon table.

    Join-strategy note: ``affected_keys`` (distinct block keys of the
    delta) is bounded by the delta and safely broadcast-hinted. The
    ``stale_canons`` / ``changed_iris`` sets are NOT hinted — they scale
    with the append (a large backfill or a block-dissolution cascade makes
    them O(new entities)), so a forced broadcast would collect-and-replicate
    an unbounded set on the driver. Both are filters of the
    localCheckpointed ``aff``, so AQE sees their true materialized size and
    picks broadcast-hash when they are actually small, degrading to a
    shuffled semi-/anti-join when they are not
    (tests/test_pipeline_entity.py::test_incremental_no_forced_broadcast
    pins that a disabled broadcast threshold yields a broadcast-free plan
    with unchanged results).

    Returns ``(canon, nodes, edges)`` like ``canonicalize``, where
    ``canon`` is (iri, canon_id) for every known entity.
    """
    genuinely_new = (
        entity_dictionary(new_triples)
        .join(prev_entities.select("entity_iri"), "entity_iri", "left_anti")
        .localCheckpoint()
    )
    affected_keys = F.broadcast(genuinely_new.select("block_key").distinct())

    prev_aff = prev_canon.select(
        F.col("iri").alias("entity_iri"),
        entity_local_name(F.col("iri")).alias("block_key"),
        F.col("canon_id").alias("prev_canon_id"),
    ).join(affected_keys, "block_key", "left_semi")
    members = prev_aff.unionByName(
        genuinely_new.withColumn("prev_canon_id", F.lit(None).cast("string"))
    )
    moved = F.max(F.col("prev_canon_id") != F.col("canon_id")).over(
        Window.partitionBy("block_key")
    )
    aff = (
        block_canon(members)
        .select(
            F.col("entity_iri").alias("iri"), "canon_id", "prev_canon_id",
            F.coalesce(moved, F.lit(False)).alias("moved"),
        )
        .localCheckpoint()
    )

    # canon: recompute affected blocks, reuse the rest verbatim
    canon_keep = prev_canon.join(
        affected_keys,
        entity_local_name(F.col("iri")) == F.col("block_key"),
        "left_anti",
    )
    canon_full = canon_keep.unionByName(
        aff.select("iri", "canon_id")
    ).localCheckpoint()

    # edges: keep groups with no stale endpoint; re-aggregate every old
    # triple touching a moved block plus every new triple
    changed_iris = aff.where("moved").select("iri")
    stale_canons = (
        aff.where("moved")
        .select(F.col("prev_canon_id").alias("canon_id"))
        .where(F.col("canon_id").isNotNull())
        .distinct()
    )
    keep_edges = prev_edges.join(
        stale_canons.withColumnRenamed("canon_id", "src_canon"),
        "src_canon",
        "left_anti",
    ).join(
        stale_canons.withColumnRenamed("canon_id", "dst_canon"),
        "dst_canon",
        "left_anti",
    )
    clean_old = old_triples.where(
        (F.col("error_code").isNull()) & (F.col("obj_kind") == "iri")
    )
    touched_old = clean_old.join(
        changed_iris.withColumnRenamed("iri", "subj"),
        "subj",
        "left_semi",
    ).unionByName(
        clean_old.join(
            changed_iris.withColumnRenamed("iri", "obj_value"),
            "obj_value",
            "left_semi",
        ).join(
            changed_iris.withColumnRenamed("iri", "subj"),
            "subj",
            "left_anti",  # subj-touched rows already taken: no double count
        )
    )
    recompute = touched_old.unionByName(
        new_triples.select(*touched_old.columns)
    )
    edges = (
        keep_edges.unionByName(rewrite_edges(recompute, canon_full))
        .groupBy("src_canon", "pred", "dst_canon")
        .agg(F.sum("provenance").alias("provenance"))
    )
    return canon_full, derive_nodes(canon_full), edges
