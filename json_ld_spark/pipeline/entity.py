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
- same-as edges → connected components (cc.py: driver union-find for small
  graphs, large-star/small-star otherwise) → canonical ids applied to
  triples with two equi-joins (subject side, object side).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType,
)

from .cc import connected_components

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
    the originating row index — no per-row Python ``finditer`` loop (the
    round-2 shape), which matters at 10^12 turns."""
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


def same_as_edges(entities: DataFrame, max_block: int = 64) -> DataFrame:
    """Same-entity edges: IRIs sharing a blocking key are duplicates of one
    canonical entity (fixture semantics: ctx/base emits
    ``http://ex.org/d/person-N`` for the same entity as
    ``http://ex.org/person-N``).

    Instead of an O(k²) pairwise self-join per block, each block links all
    members to the block's lexicographic minimum — a star, which is exactly
    what connected components needs, computed with one groupBy + one join.
    ``max_block`` guards against degenerate giant blocks (a block bigger
    than the cap is almost certainly a bad key, not one entity).
    """
    sized = entities.groupBy("block_key").agg(
        F.min("entity_iri").alias("canon_candidate"),
        F.count("*").alias("k"),
    ).where((F.col("k") > 1) & (F.col("k") <= max_block))
    return (
        entities.join(sized, "block_key")
        .where(F.col("entity_iri") != F.col("canon_candidate"))
        .select(
            F.col("entity_iri").alias("src"),
            F.col("canon_candidate").alias("dst"),
        )
    )


def canonicalize(
    triples: DataFrame, materialize: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full entity layer: returns (canon_map, nodes, edges).

    canon_map: (id, component)   — entity IRI → canonical id
    nodes:     (canon_id, iri, kind, n_aliases)
    edges:     (src_canon, pred, dst_canon, provenance)

    ``triples`` is consumed twice (entity dictionary + canonical rewrite).
    In the job path the input is already a materialized parquet table
    (manifest.read_triples), so re-reading is cheap — keep the default.
    When the input is a live extraction plan (the driver's kg_nodes /
    kg_edges queries), pass ``materialize=True`` to localCheckpoint it
    once instead of running the Python kernel per consumer.
    """
    clean = triples.where(F.col("error_code").isNull())
    if materialize:
        clean = clean.localCheckpoint()
    entities = entity_dictionary(clean).localCheckpoint()
    edges0 = same_as_edges(entities)
    canon_map = connected_components(edges0)
    # entities without any same-as edge are their own canon
    canon_full = (
        entities.join(canon_map, entities.entity_iri == canon_map.id, "left")
        .select(
            F.col("entity_iri").alias("iri"),
            F.coalesce("component", "entity_iri").alias("canon_id"),
        )
    )
    nodes = (
        canon_full.groupBy("canon_id")
        .agg(
            F.count("*").alias("n_aliases"),
            F.min("iri").alias("iri"),
        )
        .withColumn(
            "kind",
            F.when(F.col("canon_id").contains("person"), "person")
            .when(F.col("canon_id").contains("event"), "event")
            .when(F.col("canon_id").contains("org"), "org")
            .otherwise("other"),
        )
        .select("canon_id", "iri", "kind", "n_aliases")
    )
    # J3 — two equi-joins rewrite subj and obj to canonical ids
    subj_map = canon_full.select(
        F.col("iri").alias("subj"), F.col("canon_id").alias("src_canon")
    )
    obj_map = canon_full.select(
        F.col("iri").alias("obj_value"), F.col("canon_id").alias("dst_canon")
    )
    rewritten = (
        clean.where(F.col("obj_kind") == "iri")
        .join(subj_map, "subj", "inner")
        .join(obj_map, "obj_value", "inner")
        .where(~F.col("pred").startswith("http://www.w3.org/1999/02/22-rdf-syntax-ns#"))
    )
    edges = (
        rewritten.groupBy("src_canon", "pred", "dst_canon")
        .agg(F.count("*").alias("provenance"))
    )
    return canon_full.select(
        F.col("iri").alias("id"), F.col("canon_id").alias("component")
    ), nodes, edges


def incremental_canonicalize(
    old_triples: DataFrame,
    new_triples: DataFrame,
    prev_entities: DataFrame,
    prev_canon: DataFrame,
    prev_edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Incremental entity layer for snapshot appends: canonicalize ONLY the
    blocks a genuinely-new entity touches and rewrite ONLY the triples an
    affected canon touches, instead of re-running CC + the two rewrite
    joins over the whole corpus (``canonicalize``).

    Why this is exact (not an approximation): ``block_key`` is a pure
    function of the entity IRI and ``same_as_edges`` only links entities
    within one block, so connected components NEVER span blocks —
    components of untouched blocks are untouched, bit-for-bit. Edge
    groups whose endpoints' canon ids did not change keep their previous
    counts; every triple with a changed-canon endpoint, plus every new
    triple, re-aggregates. Equality with the full recompute is pinned by
    tests/test_pipeline_entity.py.

    At 10^12 turns this is the difference between an append costing
    O(delta + affected blocks) and re-running the CC loop over 10^9
    entities: the only full-corpus touches left are two semi-join-filtered
    scans of the OLD triples (subj/obj membership in the changed-entity
    set).

    Join-strategy note: ``affected_keys`` (distinct block keys of the
    delta) is bounded by the delta and safely broadcast-hinted. The
    ``stale_canons`` / ``changed_iris`` sets are NOT hinted — they scale
    with the append (a large backfill or a block-dissolution cascade makes
    them O(new entities)), so a forced broadcast would collect-and-replicate
    an unbounded set on the driver. Both are localCheckpointed, so AQE sees
    their true materialized size and picks broadcast-hash when they are
    actually small, degrading to a shuffled semi-/anti-join when they are
    not (tests/test_pipeline_entity.py::test_incremental_no_forced_broadcast
    pins that a disabled broadcast threshold yields a broadcast-free plan
    with unchanged results).

    Returns ``(entities, canon_full, nodes, edges)`` where ``canon_full``
    is (iri, canon_id) for every known entity.
    """
    clean_new = new_triples.where(F.col("error_code").isNull())
    new_ents = entity_dictionary(clean_new)
    genuinely_new = new_ents.join(
        prev_entities.select("entity_iri"), "entity_iri", "left_anti"
    )
    entities = prev_entities.unionByName(genuinely_new).localCheckpoint()
    affected_keys = genuinely_new.select("block_key").distinct()

    # canon: recompute affected blocks, reuse the rest verbatim
    affected_entities = entities.join(
        F.broadcast(affected_keys), "block_key", "left_semi"
    )
    comp = connected_components(same_as_edges(affected_entities))
    canon_aff = (
        affected_entities.join(
            comp, affected_entities.entity_iri == comp.id, "left"
        )
        .select(
            F.col("entity_iri").alias("iri"),
            F.coalesce("component", "entity_iri").alias("canon_id"),
        )
    )
    canon_keep = prev_canon.join(
        F.broadcast(affected_keys),
        entity_local_name(F.col("iri")) == F.col("block_key"),
        "left_anti",
    )
    canon_full = canon_keep.unionByName(canon_aff).localCheckpoint()

    # nodes: re-aggregate over the (entity-scale, triples-free) canon table
    nodes = (
        canon_full.groupBy("canon_id")
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

    # edges: keep groups with both endpoints' canon unchanged; re-aggregate
    # every old triple touching a changed entity plus every new triple
    changed = canon_aff.join(
        prev_canon.withColumnRenamed("canon_id", "prev_canon_id"),
        "iri",
        "left",
    ).where(
        F.col("prev_canon_id").isNull()
        | (F.col("prev_canon_id") != F.col("canon_id"))
    )
    stale_canons = (
        prev_canon.join(changed.select("iri"), "iri", "left_semi")
        .select("canon_id")
        .distinct()
        .localCheckpoint()
    )
    # CLOSURE over stale components: if any member of a previous component
    # changed canon, EVERY previous member's triples must re-aggregate —
    # including members whose own canon did not move. The dissolution case
    # makes this load-bearing: an append pushing a block past
    # same_as_edges(max_block) dissolves the component (no star edges →
    # every member becomes its own canon), the old representative keeps its
    # canon id verbatim, yet all its edge groups are dropped as stale
    # (stale_canons contains the old representative's id) — without the
    # closure its triples would never be re-aggregated and those edges
    # would silently vanish vs the full recompute
    # (tests/test_pipeline_entity.py::test_incremental_block_cap_dissolution).
    changed_iris = (
        changed.select("iri")
        .unionByName(
            prev_canon.join(stale_canons, "canon_id", "left_semi")
            .select("iri")
        )
        .distinct()
        .localCheckpoint()
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
        clean_new.where(F.col("obj_kind") == "iri").select(*touched_old.columns)
    )
    subj_map = canon_full.select(
        F.col("iri").alias("subj"), F.col("canon_id").alias("src_canon")
    )
    obj_map = canon_full.select(
        F.col("iri").alias("obj_value"), F.col("canon_id").alias("dst_canon")
    )
    redone = (
        recompute.join(subj_map, "subj", "inner")
        .join(obj_map, "obj_value", "inner")
        .where(
            ~F.col("pred").startswith(
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
            )
        )
        .groupBy("src_canon", "pred", "dst_canon")
        .agg(F.count("*").alias("provenance"))
    )
    edges = (
        keep_edges.unionByName(redone)
        .groupBy("src_canon", "pred", "dst_canon")
        .agg(F.sum("provenance").alias("provenance"))
    )
    return entities, canon_full, nodes, edges
