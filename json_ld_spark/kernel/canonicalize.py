"""RDF Dataset Canonicalization (W3C RDFC-1.0, a.k.a. URDNA2015) —
deterministic blank-node labels + canonical N-Quads for a quad set.

Completes the serialization loop the reference's surface implies
(`/root/reference/src/remote/profile.rs` names document profiles;
toRdf lives in ``functions/nquads.py``, fromRdf in ``kernel/from_rdf.py``):
two RDF datasets are isomorphic iff their canonical N-Quads are
byte-identical, which is what a KG pipeline needs for cross-snapshot
diffing, content-addressed triple storage, and signature-style dedup of
extracted subgraphs.

Implemented from the public W3C specification (RDF Dataset
Canonicalization, CR 2023; the algorithm is the same URDNA2015 published
with JSON-LD 1.1): Hash First Degree Quads, Hash Related Blank Node,
Hash N-Degree Quads with permutation search, and the c14n issuer pass.
SHA-256 throughout (the spec's default hash).

Serialization here is *canonical* N-Quads (N-Triples §canonical): ECHAR
escapes only for backslash, quote, LF, CR — note this differs from
``functions/nquads.py`` (the export path), which also escapes TAB the
way common processors emit; hashing only ever compares this module's
own output with itself, so the two conventions never mix. JSON-LD base
direction IS serialized (unlike the lossy export path): a literal with
``obj_direction`` becomes a compound-datatype literal
``"v"^^<https://www.w3.org/ns/i18n#lang_dir>`` per JSON-LD 1.1 toRdf's
``rdfDirection: "i18n-datatype"`` option, so two turns differing only
in ``@direction`` canonicalize to different bytes — required for the
"isomorphic iff byte-identical" contract graph_dedup/graph_diff rely on.

Poison-graph protection (spec Security Considerations): highly
automorphic graphs drive Hash N-Degree Quads through factorial
permutation work. ``_MAX_WORK`` bounds total HNDQ invocations; exceeding
it raises :class:`CanonicalizationTooComplex`, which the distributed
operator maps to a quarantine row instead of a job failure — mirroring
the extraction pipeline's per-row error philosophy.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from itertools import permutations
from typing import Callable, Iterable, Mapping, Optional

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
I18N_NS = "https://www.w3.org/ns/i18n#"
_MAX_WORK = 400


class CanonicalizationTooComplex(Exception):
    """Raised when the HNDQ work budget is exhausted (poison graph)."""


class IdentifierIssuer:
    """Spec §4.5 — issues labels ``<prefix><counter>`` in first-seen order."""

    __slots__ = ("prefix", "counter", "issued")

    def __init__(self, prefix: str = "c14n") -> None:
        self.prefix = prefix
        self.counter = 0
        self.issued: dict[str, str] = {}  # insertion-ordered

    def issue(self, old: str) -> str:
        label = self.issued.get(old)
        if label is None:
            label = f"{self.prefix}{self.counter}"
            self.counter += 1
            self.issued[old] = label
        return label

    def copy(self) -> "IdentifierIssuer":
        c = IdentifierIssuer(self.prefix)
        c.counter = self.counter
        c.issued = dict(self.issued)
        return c


def _is_bnode(v: object) -> bool:
    return isinstance(v, str) and v.startswith("_:")


def _escape(s: str) -> str:
    # canonical N-Quads ECHAR set: backslash first, then quote, LF, CR
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _quad_bnodes(q: Mapping) -> list[str]:
    """Distinct blank-node labels used by the quad (subject / object /
    graph positions; predicates are never blank in RDF 1.1)."""
    out = []
    if _is_bnode(q["subj"]):
        out.append(q["subj"])
    if q.get("obj_kind") != "literal" and _is_bnode(q["obj_value"]):
        out.append(q["obj_value"])
    g = q.get("graph")
    if _is_bnode(g):
        out.append(g)
    # preserve order, drop duplicates (a quad lists each bnode once)
    seen: set[str] = set()
    return [b for b in out if not (b in seen or seen.add(b))]


def serialize_quad(
    q: Mapping, relabel: Optional[Callable[[str], str]] = None
) -> str:
    """One canonical-N-Quads line (with trailing newline, as hashed by
    the spec). ``relabel`` maps a blank-node label (``_:x``) to its
    replacement (also ``_:``-prefixed)."""

    def bn(v: str) -> str:
        return relabel(v) if (relabel is not None and _is_bnode(v)) else v

    def term(v: str) -> str:
        return v if _is_bnode(v) else f"<{v}>"

    s = term(bn(q["subj"]))
    p = f"<{q['pred']}>"
    if q.get("obj_kind") == "literal":
        o = f'"{_escape(q["obj_value"])}"'
        lang = q.get("obj_lang")
        dtype = q.get("obj_type")
        direction = q.get("obj_direction")
        if direction:
            # Base direction has no RDF 1.1 term; serialize it the way
            # JSON-LD 1.1 toRdf's ``rdfDirection: "i18n-datatype"`` option
            # does — a compound datatype IRI ``i18n#<lang>_<dir>`` (lang
            # lowercased, empty when absent). Without this, literals
            # differing only in @direction would hash byte-identical and
            # graph_dedup/graph_diff would silently equate them.
            o += f"^^<{I18N_NS}{(lang or '').lower()}_{direction}>"
        elif lang:
            o += f"@{lang}"
        elif dtype and dtype != XSD_STRING:
            o += f"^^<{dtype}>"
    else:
        o = term(bn(q["obj_value"]))
    g = q.get("graph")
    if g:
        return f"{s} {p} {o} {term(bn(g))} .\n"
    return f"{s} {p} {o} .\n"


def _hash_first_degree(
    bn_to_quads: Mapping[str, list], ref: str
) -> str:
    """Spec §4.6 — hash of the sorted serialization of every quad that
    mentions ``ref``, with ``ref`` masked ``_:a`` and every other blank
    node masked ``_:z``."""
    lines = sorted(
        serialize_quad(q, lambda v: "_:a" if v == ref else "_:z")
        for q in bn_to_quads[ref]
    )
    return hashlib.sha256("".join(lines).encode("utf-8")).hexdigest()


class _State:
    __slots__ = ("bn_to_quads", "h1dq", "canonical", "work")

    def __init__(self, quads: list) -> None:
        self.bn_to_quads: dict[str, list] = defaultdict(list)
        for q in quads:
            for b in _quad_bnodes(q):
                self.bn_to_quads[b].append(q)
        self.h1dq = {
            b: _hash_first_degree(self.bn_to_quads, b)
            for b in self.bn_to_quads
        }
        self.canonical = IdentifierIssuer("c14n")
        self.work = 0


def _hash_related(
    state: _State,
    related: str,
    quad: Mapping,
    issuer: IdentifierIssuer,
    position: str,
) -> str:
    """Spec §4.7 — hash(position [+ <predicate>] + related identifier)."""
    if related in state.canonical.issued:
        ident = "_:" + state.canonical.issued[related]
    elif related in issuer.issued:
        ident = "_:" + issuer.issued[related]
    else:
        ident = state.h1dq[related]
    inp = position
    if position != "g":
        inp += f"<{quad['pred']}>"
    inp += ident
    return hashlib.sha256(inp.encode("utf-8")).hexdigest()


def _hash_ndegree(
    state: _State, identifier: str, issuer: IdentifierIssuer
) -> tuple[str, IdentifierIssuer]:
    """Spec §4.8 — disambiguate blank nodes sharing a first-degree hash
    by hashing their neighborhood, searching label permutations for the
    lexicographically-least path."""
    state.work += 1
    if state.work > _MAX_WORK:
        raise CanonicalizationTooComplex(
            f"hash-n-degree work budget exceeded ({_MAX_WORK}); "
            "dataset is too automorphic to canonicalize within bounds"
        )

    hn: dict[str, list[str]] = defaultdict(list)
    for quad in state.bn_to_quads[identifier]:
        for pos_key, pos_code in (
            ("subj", "s"), ("obj_value", "o"), ("graph", "g"),
        ):
            v = quad.get(pos_key)
            if pos_key == "obj_value" and quad.get("obj_kind") == "literal":
                continue
            if _is_bnode(v) and v != identifier:
                hn[_hash_related(state, v, quad, issuer, pos_code)].append(v)

    data_to_hash = ""
    for related_hash in sorted(hn):
        data_to_hash += related_hash
        chosen_path = ""
        chosen_issuer: Optional[IdentifierIssuer] = None
        for perm in permutations(hn[related_hash]):
            issuer_copy = issuer.copy()
            path = ""
            recursion_list: list[str] = []
            skip = False
            for related in perm:
                if related in state.canonical.issued:
                    path += "_:" + state.canonical.issued[related]
                else:
                    if related not in issuer_copy.issued:
                        recursion_list.append(related)
                    path += "_:" + issuer_copy.issue(related)
                if (
                    chosen_path
                    and len(path) >= len(chosen_path)
                    and path > chosen_path
                ):
                    skip = True
                    break
            if skip:
                continue
            for related in recursion_list:
                result_hash, result_issuer = _hash_ndegree(
                    state, related, issuer_copy
                )
                path += "_:" + issuer_copy.issue(related)
                path += f"<{result_hash}>"
                issuer_copy = result_issuer
                if (
                    chosen_path
                    and len(path) >= len(chosen_path)
                    and path > chosen_path
                ):
                    skip = True
                    break
            if skip:
                continue
            if not chosen_path or path < chosen_path:
                chosen_path = path
                chosen_issuer = issuer_copy
        data_to_hash += chosen_path
        assert chosen_issuer is not None  # ≥1 permutation always completes
        issuer = chosen_issuer

    return (
        hashlib.sha256(data_to_hash.encode("utf-8")).hexdigest(),
        issuer,
    )


def canonical_label_map(quads: Iterable[Mapping]) -> dict[str, str]:
    """Spec §4.4 main loop — returns {old blank label → canonical label
    (without the ``_:`` prefix)} for every blank node in ``quads``."""
    quads = list(quads)

    # fast path: with ≤1 blank node no hash can collide with anything —
    # the lone label is c14n0 by construction. This skips every SHA-256
    # for the dominant case (most real documents have few or no bnodes).
    seen: set[str] = set()
    for q in quads:
        seen.update(_quad_bnodes(q))
        if len(seen) > 1:
            break
    if not seen:
        return {}
    if len(seen) == 1:
        return {next(iter(seen)): "c14n0"}

    state = _State(quads)

    hash_to_bn: dict[str, list[str]] = defaultdict(list)
    for b, h in state.h1dq.items():
        hash_to_bn[h].append(b)

    # unique first-degree hashes get canonical labels in hash order
    for h in sorted(hash_to_bn):
        members = hash_to_bn[h]
        if len(members) == 1:
            state.canonical.issue(members[0])

    # shared hashes: resolve with Hash N-Degree Quads
    for h in sorted(hash_to_bn):
        members = hash_to_bn[h]
        if len(members) == 1:
            continue
        hash_path_list: list[tuple[str, IdentifierIssuer]] = []
        for b in members:
            if b in state.canonical.issued:
                continue
            temp = IdentifierIssuer("b")
            temp.issue(b)
            hash_path_list.append(_hash_ndegree(state, b, temp))
        for _, temp_issuer in sorted(hash_path_list, key=lambda r: r[0]):
            for old in temp_issuer.issued:
                state.canonical.issue(old)

    return dict(state.canonical.issued)


def canonicalize_quads(quads: Iterable[Mapping]) -> list[str]:
    """Canonical N-Quads of the dataset: blank nodes relabeled
    ``_:c14n<i>`` per RDFC-1.0, lines sorted in code-point order,
    trailing newlines stripped. Two datasets are isomorphic iff this
    returns identical lists."""
    quads = list(quads)
    mapping = canonical_label_map(quads)
    lines = [
        serialize_quad(q, lambda v: "_:" + mapping[v]).rstrip("\n")
        for q in quads
    ]
    # canonical form is a *set* of quads: duplicates collapse
    return sorted(set(lines))
