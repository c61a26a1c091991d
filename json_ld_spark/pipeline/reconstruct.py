"""RDF → JSON-LD reconstruction at scale (§8.6 fromRdf, distributed).

The inverse leg of the pipeline: the extracted triple table, grouped into
per-turn RDF datasets, is serialized back to flattened expanded JSON-LD by
the ``kernel/from_rdf.py`` algorithm — literals to value objects,
``rdf:first/rest`` chains to ``@list``, named graphs under ``@graph`` —
and every turn re-emits its triples (toRdf) to verify the
``triples → fromRdf → toRdf ≅ triples`` roundtrip *inside the operator*
(blank labels compared canonically, ``kernel/from_rdf.canonical_triples``).

Scope note: the reconstruction unit is the TURN — a turn's rows form one
RDF dataset, so equal blank labels emitted by different documents of the
same turn denote the same node, matching the extraction's own turn-level
exact-row dedup semantics (pipeline/extract.py).

Scale design: one shuffle, keyed by (conv_id, turn_idx) — the same key the
extraction's in-kernel dedup already uses, with per-group input bounded by
the triples of a single turn (O(10^1-10^2) rows regardless of corpus
size), so the ``applyInPandas`` stage has no skew exposure at 10^12 turns.
Rows are sorted canonically inside the kernel, making every emitted value
a pure function of the group's row *set* (Spark's group-internal order is
not deterministic).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

RECONSTRUCT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("n_nodes", IntegerType()),
        StructField("n_graphs", IntegerType()),
        StructField("n_lists", IntegerType()),
        StructField("n_triples", IntegerType()),
        StructField("roundtrip_ok", IntegerType()),
        StructField("fromrdf_fp", StringType()),
    ]
)

_TRIPLE_FIELDS = [
    "subj", "pred", "obj_kind", "obj_value", "obj_type", "obj_lang",
    "obj_direction", "graph",
]

def _relabel_rows(rows: list[dict], mapping: dict[str, str]) -> list[dict]:
    """Apply a blank-label mapping at blank-node POSITIONS only: subj and
    graph are never literals, but obj_value is relabeled solely for
    obj_kind == "bnode" — a string literal whose text starts with "_:"
    must pass through untouched."""
    out = []
    for t in rows:
        t = dict(t)
        t["subj"] = mapping.get(t["subj"], t["subj"])
        if t["obj_kind"] == "bnode":
            t["obj_value"] = mapping.get(t["obj_value"], t["obj_value"])
        if t.get("graph") is not None:
            t["graph"] = mapping.get(t["graph"], t["graph"])
        out.append(t)
    return out


def _count_lists(element: Any) -> int:
    n = 0
    stack = [element]
    while stack:
        node = stack.pop()
        if isinstance(node, list):
            stack.extend(node)
        elif isinstance(node, dict):
            for k, v in node.items():
                if k == "@list":
                    n += 1
                stack.append(v)
    return n


def reconstruct_turn_stats(rows: list[dict]) -> tuple:
    """Kernel core, shared verbatim by the Spark operator, the golden
    writer, and tests: one turn's triple rows (dicts with the
    ``_TRIPLE_FIELDS`` keys) → the stats tuple.

    Rows are relabeled to their canonical blank labels BEFORE
    reconstruction, so the rebuilt document — node sort order, list
    items, and the md5 fingerprint of its canonical JSON — is a pure
    function of graph structure (exact under
    canonical_triples_with_assignment's ``_MAX_PERMS``; past that cap the
    assignment is deterministic but label-dependent, so a poison graph
    can only report a false "changed" in a cross-snapshot diff, never a
    false "unchanged").
    Renaming structurally (not textually) means a string literal whose
    text starts with "_:" is never touched and cannot collide another
    document's fingerprint."""
    from ..kernel.expand_doc import expanded_to_triples
    from ..kernel.from_rdf import (
        canonical_triples,
        canonical_triples_with_assignment,
        triples_to_expanded,
    )

    # ONE core pass yields both the canonical form (for the roundtrip
    # compare below — relabeled rows are isomorphic to the originals, so
    # their canonical form is this same value) and the label mapping.
    canonical_form, mapping = canonical_triples_with_assignment(rows)
    # sort AFTER relabeling: multi-valued properties append objects in row
    # order, so sorting by the original labels would leak them into the
    # rebuilt document's structure (two isomorphic turns hashing apart)
    rows = sorted(
        _relabel_rows(rows, mapping),
        key=lambda t: tuple(repr(t[k]) for k in _TRIPLE_FIELDS),
    )
    rebuilt = triples_to_expanded([dict(t) for t in rows])
    again = expanded_to_triples(rebuilt)
    ok = 1 if canonical_triples(again) == canonical_form else 0
    n_graphs = sum(1 for n in rebuilt if "@graph" in n)
    fp = hashlib.md5(
        json.dumps(rebuilt, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()
    return (
        len(rebuilt),
        n_graphs,
        _count_lists(rebuilt),
        len(rows),
        ok,
        fp,
    )


def _clean_cell(v):
    """Parquet-null normalization shared by the Spark operator and the
    golden writer (tools/make_golden.write_fromrdf_stats): pandas surfaces
    parquet nulls as NaN in object columns — the kernel expects None."""
    if v is not None and not isinstance(v, str) and pd.isna(v):
        return None
    return v


def _clean_rows(pdf: pd.DataFrame) -> list[dict]:
    rows = pdf[_TRIPLE_FIELDS].to_dict("records")
    for r in rows:
        for k in _TRIPLE_FIELDS:
            r[k] = _clean_cell(r[k])
    return rows


def map_turn_groups(triples: DataFrame, finish_group, schema) -> DataFrame:
    """The shared single-shuffle streaming-group plan behind every
    per-turn kernel operator (``reconstruct_turn_docs``,
    ``pipeline/canonical.canonical_nquads`` / ``skolemize_triples``).

    Quarantine rows are excluded (they carry no triple), then: one hash
    repartition on (conv_id, turn_idx) + sort-within-partitions + a
    streaming ``mapInPandas`` that walks sorted Arrow batches and
    stitches the one group that can straddle a batch boundary.
    ``finish_group(conv_id, turn_idx, rows) -> list[tuple]`` emits a
    group's output tuples matching ``schema``.

    Plan rationale: NOT ``groupBy().applyInPandas`` — that invokes Python
    once per group, and with 10^12 tiny turn groups the per-invocation
    overhead dominates (measured 71s vs 4s at sf0.1 on fromRdf). Same
    single shuffle, per-group cost collapses to a dict-records slice.
    Per-group input is bounded by one turn's triples, so the stage has no
    skew exposure at any corpus size.
    """
    spark = triples.sparkSession
    # explicit partition count: AQE's byte-sized coalescing would fold this
    # small-bytes/high-CPU shuffle into one task (the cost here is per-ROW
    # Python kernel work, not bytes) — a user-specified numPartitions is
    # exempt from coalescing and keeps the stage wide
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    clean = (
        triples.where(F.col("error_code").isNull())
        .select("conv_id", "turn_idx", *_TRIPLE_FIELDS)
        .repartition(n_parts, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    out_cols = [f.name for f in schema.fields]

    def per_partition(batches):
        pending_key: tuple | None = None
        pending_rows: list[dict] = []

        def finish(key: tuple) -> list[tuple]:
            return finish_group(key[0], int(key[1]), pending_rows)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # linear walk over the sorted batch: one numpy column pull per
            # batch, row dicts built directly — no per-group pandas slices
            conv = pdf["conv_id"].to_numpy()
            turn = pdf["turn_idx"].to_numpy()
            cols = [pdf[k].to_numpy() for k in _TRIPLE_FIELDS]
            out: list[tuple] = []
            for i in range(len(pdf)):
                key = (conv[i], turn[i])
                row = {}
                for k, c in zip(_TRIPLE_FIELDS, cols):
                    row[k] = _clean_cell(c[i])
                if key == pending_key:
                    pending_rows.append(row)
                else:
                    if pending_key is not None:
                        out.extend(finish(pending_key))
                    pending_key, pending_rows = key, [row]
            if out:
                yield pd.DataFrame(out, columns=out_cols)
        if pending_key is not None:
            yield pd.DataFrame(finish(pending_key), columns=out_cols)

    return clean.mapInPandas(per_partition, schema=schema)


def reconstruct_turn_docs(triples: DataFrame) -> DataFrame:
    """Per-turn fromRdf→toRdf roundtrip stats over the triple table
    (:func:`map_turn_groups` plan). One row per turn: reconstructed
    node/graph/list counts, the input triple count, the roundtrip flag,
    and the blank-label-invariant md5 of the reconstructed flattened
    document."""

    def finish(conv_id, turn_idx, rows):
        return [(conv_id, turn_idx) + reconstruct_turn_stats(rows)]

    return map_turn_groups(triples, finish, RECONSTRUCT_SCHEMA)
