"""RDFC-1.0 (URDNA2015) kernel tests — spec behaviors, isomorphism
invariance, cross-algorithm agreement with the independent
signature-refinement canonicalizer, and the poison-graph budget."""

from __future__ import annotations

import random

import pytest

from json_ld_spark.kernel.canonicalize import (
    CanonicalizationTooComplex,
    IdentifierIssuer,
    canonical_label_map,
    canonicalize_quads,
    serialize_quad,
)
from json_ld_spark.kernel.from_rdf import canonical_triples

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def q(s, p, o, g=None, lit=False, lang=None, dtype=None, direction=None):
    return {
        "subj": s,
        "pred": p,
        "obj_kind": "literal" if lit else ("bnode" if o.startswith("_:") else "iri"),
        "obj_value": o,
        "obj_type": dtype,
        "obj_lang": lang,
        "obj_direction": direction,
        "graph": g,
    }


def relabeled(quads, mapping):
    """Apply a blank-node bijection to a quad list (bnode positions only)."""
    out = []
    for t in quads:
        t = dict(t)
        if t["subj"].startswith("_:"):
            t["subj"] = mapping[t["subj"]]
        if t["obj_kind"] != "literal" and t["obj_value"].startswith("_:"):
            t["obj_value"] = mapping[t["obj_value"]]
        if t["graph"] and t["graph"].startswith("_:"):
            t["graph"] = mapping[t["graph"]]
        out.append(t)
    return out


def bnode_labels(quads):
    labels = set()
    for t in quads:
        for v in (t["subj"], t["obj_value"] if t["obj_kind"] != "literal" else None, t["graph"]):
            if v and v.startswith("_:"):
                labels.add(v)
    return sorted(labels)


# ---------------------------------------------------------------- serializer


def test_serialize_literal_escapes_and_xsd_string_suppression():
    line = serialize_quad(q("http://e/s", "http://e/p", 'a"b\\c\nd\re', lit=True, dtype=XSD_STRING))
    assert line == '<http://e/s> <http://e/p> "a\\"b\\\\c\\nd\\re" .\n'
    # canonical N-Quads: TAB stays literal (unlike the export serializer)
    line = serialize_quad(q("http://e/s", "http://e/p", "a\tb", lit=True))
    assert line == '<http://e/s> <http://e/p> "a\tb" .\n'


def test_serialize_direction_i18n_datatype():
    """Base direction serializes as the i18n compound datatype (JSON-LD
    1.1 toRdf rdfDirection=i18n-datatype): direction-only-different
    literals must NOT produce byte-identical canonical lines (the loss
    ADVICE r4 flagged — graph_dedup would silently drop a real variant)."""
    with_dir = serialize_quad(
        q("http://e/s", "http://e/p", "hi", lit=True, lang="EN", direction="rtl")
    )
    assert with_dir == (
        '<http://e/s> <http://e/p> "hi"^^<https://www.w3.org/ns/i18n#en_rtl> .\n'
    )  # lang lowercased per the toRdf algorithm
    # direction without language: empty lang part
    assert serialize_quad(
        q("http://e/s", "http://e/p", "hi", lit=True, direction="ltr")
    ) == '<http://e/s> <http://e/p> "hi"^^<https://www.w3.org/ns/i18n#_ltr> .\n'
    # ltr vs rtl vs no-direction: three distinct serializations
    lines = {
        serialize_quad(q("http://e/s", "http://e/p", "hi", lit=True, lang="en", direction=d))
        for d in ("ltr", "rtl", None)
    }
    assert len(lines) == 3


def test_canonicalize_distinguishes_direction_only_difference():
    d1 = [q("_:b0", "http://e/p", "hi", lit=True, lang="en", direction="ltr")]
    d2 = [q("_:b0", "http://e/p", "hi", lit=True, lang="en", direction="rtl")]
    d3 = [q("_:b0", "http://e/p", "hi", lit=True, lang="en")]
    c1, c2, c3 = map(canonicalize_quads, (d1, d2, d3))
    assert c1 != c2 and c1 != c3 and c2 != c3
    # and the independent refinement canonicalizer agrees on every verdict
    assert canonical_triples(d1) != canonical_triples(d2)
    assert canonical_triples(d1) != canonical_triples(d3)


def test_serialize_lang_datatype_graph():
    assert (
        serialize_quad(q("_:b0", "http://e/p", "hi", lit=True, lang="en", g="http://e/g"))
        == '_:b0 <http://e/p> "hi"@en <http://e/g> .\n'
    )
    assert (
        serialize_quad(q("http://e/s", "http://e/p", "4", lit=True, dtype=XSD_INT, g="_:g0"))
        == '<http://e/s> <http://e/p> "4"^^<http://www.w3.org/2001/XMLSchema#integer> _:g0 .\n'
    )


def test_issuer_is_insertion_ordered_and_copy_isolated():
    iss = IdentifierIssuer("c14n")
    assert iss.issue("_:x") == "c14n0"
    assert iss.issue("_:y") == "c14n1"
    assert iss.issue("_:x") == "c14n0"
    cp = iss.copy()
    assert cp.issue("_:z") == "c14n2"
    assert "_:z" not in iss.issued


# ---------------------------------------------------------------- basic main


def test_no_bnodes_is_sorted_dedup_passthrough():
    quads = [
        q("http://e/b", "http://e/p", "http://e/c"),
        q("http://e/a", "http://e/p", "v", lit=True),
        q("http://e/a", "http://e/p", "v", lit=True),  # duplicate collapses
    ]
    lines = canonicalize_quads(quads)
    assert lines == sorted(set(lines)) and len(lines) == 2
    assert canonical_label_map(quads) == {}


def test_unique_hashes_issue_in_hash_order_deterministically():
    quads = [
        q("_:p1", "http://e/name", "alice", lit=True),
        q("_:p2", "http://e/name", "bob", lit=True),
        q("_:p1", "http://e/knows", "_:p2"),
    ]
    m1 = canonical_label_map(quads)
    assert sorted(m1.values()) == ["c14n0", "c14n1"]
    # any relabeling + reordering produces the identical canonical doc
    for seed in range(5):
        rng = random.Random(seed)
        labels = bnode_labels(quads)
        perm = labels[:]
        rng.shuffle(perm)
        d2 = relabeled(quads, dict(zip(labels, (f"_:z{rng.randrange(10**6)}_{i}" for i, _ in enumerate(perm)))))
        rng.shuffle(d2)
        assert canonicalize_quads(d2) == canonicalize_quads(quads)


def test_shared_first_degree_hashes_resolved_by_ndegree():
    # two 2-cycles: all four bnodes share the same first-degree hash;
    # HNDQ must still produce a deterministic, isomorphism-invariant doc
    quads = [
        q("_:a", "http://e/p", "_:b"),
        q("_:b", "http://e/p", "_:a"),
        q("_:c", "http://e/p", "_:d"),
        q("_:d", "http://e/p", "_:c"),
    ]
    base = canonicalize_quads(quads)
    assert len(base) == 4
    labels = bnode_labels(quads)
    for seed in range(8):
        rng = random.Random(100 + seed)
        perm = labels[:]
        rng.shuffle(perm)
        d2 = relabeled(quads, dict(zip(labels, perm)))
        rng.shuffle(d2)
        assert canonicalize_quads(d2) == base


def test_asymmetric_tail_breaks_symmetry():
    # same two cycles, but one carries a literal: canonical labels must
    # put the distinguished cycle at deterministic labels
    quads = [
        q("_:a", "http://e/p", "_:b"),
        q("_:b", "http://e/p", "_:a"),
        q("_:c", "http://e/p", "_:d"),
        q("_:d", "http://e/p", "_:c"),
        q("_:a", "http://e/tag", "x", lit=True),
    ]
    base = canonicalize_quads(quads)
    labels = bnode_labels(quads)
    for seed in range(8):
        rng = random.Random(200 + seed)
        perm = labels[:]
        rng.shuffle(perm)
        d2 = relabeled(quads, dict(zip(labels, perm)))
        rng.shuffle(d2)
        assert canonicalize_quads(d2) == base


def test_bnode_graph_names_participate():
    quads = [
        q("_:s", "http://e/p", "v1", lit=True, g="_:g1"),
        q("_:s", "http://e/p", "v2", lit=True, g="_:g2"),
    ]
    base = canonicalize_quads(quads)
    assert len(base) == 2 and all("_:c14n" in ln for ln in base)
    d2 = relabeled(quads, {"_:s": "_:q", "_:g1": "_:h2", "_:g2": "_:h1"})
    assert canonicalize_quads(d2) == base


def test_idempotence_fixpoint():
    quads = [
        q("_:a", "http://e/p", "_:b"),
        q("_:b", "http://e/p", "_:a"),
        q("_:c", "http://e/p", "_:d"),
        q("_:d", "http://e/p", "_:c"),
        q("_:a", "http://e/tag", "x", lit=True),
    ]
    mapping = canonical_label_map(quads)
    canon_quads = relabeled(quads, {k: "_:" + v for k, v in mapping.items()})
    assert canonicalize_quads(canon_quads) == canonicalize_quads(quads)


# ------------------------------------------------- cross-algorithm agreement


def _random_dataset(rng, n_bn=4, n_edges=7):
    bns = [f"_:b{i}" for i in range(n_bn)]
    iris = ["http://e/x", "http://e/y"]
    preds = ["http://e/p", "http://e/q"]
    quads = []
    for _ in range(n_edges):
        s = rng.choice(bns)
        p = rng.choice(preds)
        if rng.random() < 0.6:
            o = rng.choice(bns + iris)
            quads.append(q(s, p, o))
        else:
            quads.append(q(s, p, str(rng.randrange(3)), lit=True))
    return quads


def test_agrees_with_signature_refinement_on_iso_classes():
    """Independent cross-check: URDNA equality must coincide with the
    signature-refinement canonicalizer's equality on random graphs and
    their relabelings/mutations."""
    rng = random.Random(42)
    for trial in range(30):
        d1 = _random_dataset(rng)
        labels = bnode_labels(d1)
        perm = labels[:]
        rng.shuffle(perm)
        d2 = relabeled(d1, dict(zip(labels, perm)))
        rng.shuffle(d2)
        # isomorphic pair: both algorithms must call them equal
        assert canonicalize_quads(d1) == canonicalize_quads(d2)
        assert canonical_triples(d1) == canonical_triples(d2)
        # mutated pair: both algorithms must agree on the verdict
        d3 = [dict(t) for t in d2] + [q("_:b0", "http://e/extra", "1", lit=True)]
        urdna_eq = canonicalize_quads(d1) == canonicalize_quads(d3)
        refine_eq = canonical_triples(d1) == canonical_triples(d3)
        assert urdna_eq == refine_eq == False  # noqa: E712


# ------------------------------------------------------------- poison guard


def test_poison_graph_exhausts_budget():
    # complete directed graph over 7 bnodes with one predicate: fully
    # automorphic, HNDQ permutation search explodes
    bns = [f"_:b{i}" for i in range(7)]
    quads = [q(a, "http://e/p", b) for a in bns for b in bns if a != b]
    with pytest.raises(CanonicalizationTooComplex):
        canonicalize_quads(quads)


def test_budget_generous_enough_for_real_shapes():
    # a 40-bnode chain with distinct literals resolves without HNDQ at all
    quads = []
    for i in range(40):
        quads.append(q(f"_:b{i}", "http://e/next", f"_:b{(i + 1) % 40}"))
        quads.append(q(f"_:b{i}", "http://e/idx", str(i), lit=True))
    lines = canonicalize_quads(quads)
    assert len(lines) == 80


def test_disjoint_symmetric_cycles_within_budget():
    """The classic URDNA stress shape: two disjoint 2-cycles of blank
    nodes are fully symmetric after first-degree hashing (every node
    hashes identically), so labeling is decided entirely by the
    hash-N-degree path. It must resolve within the default budget,
    be relabel-invariant, and differ from a single 4-cycle (which is
    NOT isomorphic despite identical degree sequences)."""
    two_cycles = [
        q("_:a", "http://e/p", "_:b"), q("_:b", "http://e/p", "_:a"),
        q("_:c", "http://e/p", "_:d"), q("_:d", "http://e/p", "_:c"),
    ]
    four_cycle = [
        q("_:w", "http://e/p", "_:x"), q("_:x", "http://e/p", "_:y"),
        q("_:y", "http://e/p", "_:z"), q("_:z", "http://e/p", "_:w"),
    ]
    rng = random.Random(9)
    labels = bnode_labels(two_cycles)
    perm = labels[:]
    rng.shuffle(perm)
    relab = relabeled(two_cycles, dict(zip(labels, perm)))
    rng.shuffle(relab)
    assert canonicalize_quads(two_cycles) == canonicalize_quads(relab)
    assert canonicalize_quads(two_cycles) != canonicalize_quads(four_cycle)
    # the independent canonicalizer must agree on both verdicts
    assert canonical_triples(two_cycles) == canonical_triples(relab)
    assert canonical_triples(two_cycles) != canonical_triples(four_cycle)


# ------------------------------------- independent-oracle cross-validation


def test_independent_canonicalizer_agrees_on_random_datasets():
    """Property: tools/independent_canon (the from-spec golden-writer
    implementation that never imports this kernel) must produce
    byte-identical canonical lines and label maps wherever its
    unique-first-degree-hash path applies — including direction- and
    language-bearing literals and blank graph names — on random datasets
    and their relabelings."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from independent_canon import (
        independent_canonical_lines,
        independent_label_map,
    )

    rng = random.Random(20260818)
    checked = fallback = 0
    for trial in range(60):
        quads = _random_dataset(rng, n_bn=rng.randrange(1, 5), n_edges=8)
        # sprinkle direction/lang/graph variety over the literal rows
        for t in quads:
            if t["obj_kind"] == "literal" and rng.random() < 0.5:
                t["obj_lang"] = rng.choice(["en", "EN-us", None])
                t["obj_direction"] = rng.choice(["ltr", "rtl", None])
            if rng.random() < 0.3:
                t["graph"] = rng.choice(["http://e/g", "_:b0", None])
        ind = independent_canonical_lines(quads)
        if ind is None:  # shared first-degree hashes: N-degree territory
            fallback += 1
            continue
        assert ind == canonicalize_quads(quads)
        assert independent_label_map(quads) == canonical_label_map(quads)
        # agreement must survive a blank-node bijection + row shuffle
        labels = bnode_labels(quads)
        perm = labels[:]
        rng.shuffle(perm)
        relab = relabeled(quads, dict(zip(labels, perm)))
        rng.shuffle(relab)
        ind2 = independent_canonical_lines(relab)
        if ind2 is not None:
            assert ind2 == ind
        checked += 1
    assert checked >= 40, (checked, fallback)  # the path must dominate
