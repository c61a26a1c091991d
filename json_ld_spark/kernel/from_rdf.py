"""Serialize RDF as JSON-LD (WD-json-ld11-api-20191112 §8.6 subset) —
the inverse of ``expanded_to_triples``.

Rebuilds flattened expanded JSON-LD from the pipeline's triple rows:
literals back to value objects (``useNativeTypes=false`` semantics: the
lexical form stays a string, the datatype stays explicit, ``@json``
literals parse back to native JSON), ``rdf:first``/``rdf:rest`` chains
back to ``@list`` objects (well-formed, singly-referenced chains only —
the spec's condition), named graphs back under their graph node's
``@graph``.

With toRdf (``expanded_to_triples`` + ``functions/nquads.py``) this
closes the serialization loop; the roundtrip invariant
``triples → from_rdf → expanded_to_triples ≅ triples`` (blank labels
canonicalized) is pinned by tests/test_kernel_from_rdf.py.
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Any, Optional

from .expand_doc import RDF_FIRST, RDF_JSON, RDF_NIL, RDF_REST, RDF_TYPE, XSD_STRING

_MAX_PERMS = 5040


def _object_repr(t: dict) -> dict:
    if t["obj_kind"] in ("iri", "bnode"):
        return {"@id": t["obj_value"]}
    ty = t["obj_type"]
    if t["obj_lang"] is not None:
        obj: dict[str, Any] = {
            "@value": t["obj_value"], "@language": t["obj_lang"],
        }
        if t["obj_direction"] is not None:
            obj["@direction"] = t["obj_direction"]
        return obj
    if ty == RDF_JSON:
        return {"@value": json.loads(t["obj_value"]), "@type": "@json"}
    if ty is None or ty == XSD_STRING:
        obj = {"@value": t["obj_value"]}
        if t["obj_direction"] is not None:
            obj["@direction"] = t["obj_direction"]
        return obj
    return {"@value": t["obj_value"], "@type": ty}


def triples_to_expanded(triples: list[dict]) -> list[dict[str, Any]]:
    """Triple rows → flattened expanded JSON-LD (§8.6, useNativeTypes
    off). Quarantine rows (``error_code`` set) must be filtered upstream.
    """
    # ---- per-graph node maps -------------------------------------------
    graphs: dict[Optional[str], dict[str, dict]] = defaultdict(dict)
    ref_count: dict[tuple, int] = defaultdict(int)  # (graph, bnode) usages
    for t in triples:
        g = t["graph"]
        node = graphs[g].setdefault(t["subj"], {"@id": t["subj"]})
        if t["pred"] == RDF_TYPE and t["obj_kind"] in ("iri", "bnode"):
            types = node.setdefault("@type", [])
            if t["obj_value"] not in types:
                types.append(t["obj_value"])
            continue
        obj = _object_repr(t)
        node.setdefault(t["pred"], []).append(obj)
        if t["obj_kind"] == "bnode":
            ref_count[(g, t["obj_value"])] += 1

    # ---- list reconstruction (spec: well-formed chains referenced once) --
    for g, nodes in graphs.items():
        def is_chain_node(label: str) -> bool:
            n = nodes.get(label)
            if n is None:
                return False
            keys = set(n) - {"@id"}
            if keys != {RDF_FIRST, RDF_REST}:
                return False
            return (
                len(n[RDF_FIRST]) == 1
                and len(n[RDF_REST]) == 1
                and ref_count[(g, label)] == 1
            )

        def chain_items(label: str):
            """Items of the chain starting at label, or None if malformed."""
            items, seen = [], set()
            while label != RDF_NIL:
                if label in seen or not is_chain_node(label):
                    return None
                seen.add(label)
                n = nodes[label]
                items.append(n[RDF_FIRST][0])
                rest = n[RDF_REST][0]
                if "@id" not in rest:
                    return None
                label = rest["@id"]
            return items

        consumed: set[str] = set()
        for node in list(nodes.values()):
            for prop, values in node.items():
                if prop in ("@id", "@type") or prop in (RDF_FIRST, RDF_REST):
                    continue
                for i, v in enumerate(values):
                    head = v.get("@id") if isinstance(v, dict) else None
                    if head is None or not head.startswith("_:"):
                        if head == RDF_NIL:
                            values[i] = {"@list": []}
                        continue
                    items = chain_items(head)
                    if items is None:
                        continue
                    values[i] = {"@list": items}
                    label = head
                    while label != RDF_NIL:
                        consumed.add(label)
                        label = nodes[label][RDF_REST][0]["@id"]
        for label in consumed:
            nodes.pop(label, None)

    # ---- assemble flattened output -------------------------------------
    default = graphs.get(None, {})
    for g in sorted(k for k in graphs if k is not None):
        entry = default.setdefault(g, {"@id": g})
        entry["@graph"] = [n for _, n in sorted(graphs[g].items())]
    return [n for _, n in sorted(default.items())]


def canonical_triples(triples):
    """Canonical form of a triple set under blank-node relabeling;
    returns a sorted list of key/value tuple rows.

    Algorithm: signature refinement (each blank label's class is the
    multiset of its incident triples with blanks masked by current
    class) iterated to a fixpoint, then the lexicographically-minimal
    serialization over all within-class relabelings. Refinement classes
    are isomorphism-invariant, so two triple sets are equal as RDF
    graphs iff their canonical forms are equal — EXACT whenever the
    number of within-class relabelings is ≤ ``_MAX_PERMS`` (ties after
    refinement need automorphism-group search; real reconstruction
    outputs resolve almost all labels by refinement alone). Beyond the
    cap the intra-class order falls back to sorted labels — a
    deterministic comparator that may report false inequality for
    adversarial highly-symmetric graphs, never false equality.
    """
    return _canonical_core(triples)[0]


def canonical_triples_with_assignment(triples):
    """Both outputs of the shared core in ONE pass: the canonical form and
    the winning ``old label → _:c<i>`` mapping (past the ``_MAX_PERMS`` cap
    the intra-class assignment falls back to sorted original labels:
    deterministic, label-dependent). Callers needing both (reconstruct's
    roundtrip check relabels with the mapping and compares against the
    form) must not pay the permutation search twice — it is the dominant
    per-turn cost on the 10^12-turn hot path."""
    return _canonical_core(triples)


def _canonical_core(triples):
    from itertools import permutations, product as iproduct
    from math import factorial

    _BN_KEYS = ("subj", "obj_value", "graph")

    def is_bn(v):
        return isinstance(v, str) and v.startswith("_:")

    def bn_pos(t, k, v):
        # obj_value is a blank-node POSITION only for non-literal rows: a
        # string literal whose text happens to start with "_:" must never
        # be relabeled or matched against blank labels
        return is_bn(v) and (
            k != "obj_value" or t.get("obj_kind") != "literal"
        )

    rows = [dict(t) for t in triples]
    labels = sorted({
        v
        for t in rows
        for k in _BN_KEYS
        if bn_pos(t, k, v := t.get(k))
    })

    def serialize(mapping):
        out = [
            tuple(
                (k, mapping.get(v, v) if bn_pos(t, k, v) else v)
                for k, v in sorted(t.items())
            )
            for t in rows
        ]
        return sorted(out, key=repr)

    if not labels:
        return serialize({}), {}

    # --- signature refinement to a fixpoint -------------------------------
    cls = {l: 0 for l in labels}
    for _ in range(len(labels) + 1):
        sigs = {}
        for l in labels:
            incident = []
            for t in rows:
                if not any(
                    t.get(k) == l and bn_pos(t, k, l) for k in _BN_KEYS
                ):
                    continue
                incident.append(tuple(
                    (k, "@self" if v == l
                     else (f"@c{cls[v]}" if is_bn(v) else v))
                    if bn_pos(t, k, v) else (k, v)
                    for k, v in sorted(t.items())
                ))
            sigs[l] = (cls[l], tuple(sorted(incident, key=repr)))
        order = sorted(labels, key=lambda l: repr(sigs[l]))
        new_cls, prev, cid = {}, None, -1
        for l in order:
            r = repr(sigs[l])
            if r != prev:
                cid += 1
                prev = r
            new_cls[l] = cid
        if new_cls == cls:
            break
        cls = new_cls

    groups: dict[int, list] = defaultdict(list)
    for l in labels:
        groups[cls[l]].append(l)
    class_ids = sorted(groups)
    offsets, off = {}, 0
    for c in class_ids:
        offsets[c] = off
        off += len(groups[c])

    n_perms = 1
    for c in class_ids:
        n_perms *= factorial(len(groups[c]))
        if n_perms > _MAX_PERMS:
            break

    if n_perms <= _MAX_PERMS:
        best = best_mapping = None
        for combo in iproduct(
            *[permutations(sorted(groups[c])) for c in class_ids]
        ):
            mapping = {}
            for c, perm in zip(class_ids, combo):
                for i, l in enumerate(perm):
                    mapping[l] = f"_:c{offsets[c] + i}"
            s = serialize(mapping)
            if best is None or repr(s) < repr(best):
                best, best_mapping = s, mapping
        return best, best_mapping

    mapping = {}
    for c in class_ids:
        for i, l in enumerate(sorted(groups[c])):
            mapping[l] = f"_:c{offsets[c] + i}"
    return serialize(mapping), mapping
