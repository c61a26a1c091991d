"""Distributed RDFC-1.0 canonicalization operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_ld_spark.pipeline.canonical import (
    TOO_COMPLEX,
    _GENID_PREFIX,
    canonical_nquads,
    canonical_turn_lines,
    graph_dedup,
    graph_diff,
    skolemize_triples,
    skolemize_turn_rows,
    turn_fingerprints,
)

_COLS = (
    "conv_id string, turn_idx int, subj string, pred string, "
    "obj_kind string, obj_value string, obj_type string, obj_lang string, "
    "obj_direction string, graph string, error_code string"
)


def _row(conv, turn, s, p, o, kind="iri", g=None, err=None):
    return (conv, turn, s, p, kind, o, None, None, None, g, err)


def _poison_rows(conv, turn, n=7):
    bns = [f"_:b{i}" for i in range(n)]
    return [
        _row(conv, turn, a, "http://e/p", b, kind="bnode")
        for a in bns
        for b in bns
        if a != b
    ]


def test_canonical_nquads_matches_kernel_and_quarantines(spark):
    rows = [
        # turn A: bnode chain + an IRI triple
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c1", 0, "_:y", "http://e/name", "http://e/alice"),
        # turn B: same structure under different labels -> must emit
        # byte-identical canonical lines (content-addressed subgraphs)
        _row("c2", 5, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c2", 5, "_:r", "http://e/name", "http://e/alice"),
        # turn C: poison (complete automorphic graph) -> quarantine row
        *_poison_rows("c3", 1),
        # quarantined extraction row: excluded entirely
        _row("c4", 2, None, None, None, err="loading document failed"),
    ]
    df = spark.createDataFrame(rows, _COLS)
    out = canonical_nquads(df).collect()

    by_turn: dict[tuple, list] = {}
    for r in out:
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r)

    assert set(by_turn) == {("c1", 0), ("c2", 5), ("c3", 1)}

    a = sorted(by_turn[("c1", 0)], key=lambda r: r.line_idx)
    b = sorted(by_turn[("c2", 5)], key=lambda r: r.line_idx)
    assert [r.nquad for r in a] == [r.nquad for r in b]
    assert all(r.error_code is None for r in a + b)
    assert "_:c14n" in a[0].nquad

    # matches the shared kernel run Spark-free on the same rows
    kernel_rows = [
        {
            "subj": "_:x", "pred": "http://e/knows", "obj_kind": "bnode",
            "obj_value": "_:y", "obj_type": None, "obj_lang": None,
            "obj_direction": None, "graph": None,
        },
        {
            "subj": "_:y", "pred": "http://e/name", "obj_kind": "iri",
            "obj_value": "http://e/alice", "obj_type": None,
            "obj_lang": None, "obj_direction": None, "graph": None,
        },
    ]
    assert [(r.line_idx, r.nquad, r.error_code) for r in a] == (
        canonical_turn_lines(kernel_rows)
    )

    c = by_turn[("c3", 1)]
    assert len(c) == 1 and c[0].nquad is None
    assert c[0].error_code == TOO_COMPLEX


def test_graph_dedup_collapses_isomorphic_turns(spark):
    rows = [
        # three pairwise-isomorphic turns under different blank labels
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c1", 0, "_:y", "http://e/name", "http://e/alice"),
        _row("c2", 5, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c2", 5, "_:r", "http://e/name", "http://e/alice"),
        _row("c1", 9, "_:m", "http://e/knows", "_:n", kind="bnode"),
        _row("c1", 9, "_:n", "http://e/name", "http://e/alice"),
        # one structurally-different turn
        _row("c3", 2, "_:a", "http://e/name", "http://e/bob"),
        # one poison turn: excluded (no isomorphism verdict)
        *_poison_rows("c4", 1),
    ]
    df = spark.createDataFrame(rows, _COLS)
    dedup = graph_dedup(df)
    # one canonicalization pass feeds both sides of the graph_fp join
    plan = dedup._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") <= 1, plan
    out = {(r.conv_id, r.turn_idx): r for r in dedup.collect()}
    assert set(out) == {("c1", 0), ("c2", 5), ("c1", 9), ("c3", 2)}
    iso = [out[("c1", 0)], out[("c1", 9)], out[("c2", 5)]]
    assert len({r.graph_fp for r in iso}) == 1
    assert all(r.group_size == 3 for r in iso)
    # least (conv_id, turn_idx) is the kept representative
    assert [r.keep for r in iso] == [True, False, False]
    assert out[("c3", 2)].keep and out[("c3", 2)].group_size == 1
    assert out[("c3", 2)].graph_fp != iso[0].graph_fp


def test_graph_diff_statuses(spark):
    old_rows = [
        # unchanged-under-relabel: isomorphic datasets, different labels
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c1", 0, "_:y", "http://e/name", "http://e/alice"),
        # changed: literal differs in new
        _row("c2", 1, "http://e/s", "http://e/p", "v1", kind="literal"),
        # removed: only in old
        _row("c3", 2, "http://e/s", "http://e/p", "gone", kind="literal"),
        # unknown: poison on the old side
        *_poison_rows("c5", 4),
    ]
    new_rows = [
        _row("c1", 0, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c1", 0, "_:r", "http://e/name", "http://e/alice"),
        _row("c2", 1, "http://e/s", "http://e/p", "v2", kind="literal"),
        # added: only in new
        _row("c4", 3, "http://e/s", "http://e/p", "fresh", kind="literal"),
        *_poison_rows("c5", 4),
    ]
    old = spark.createDataFrame(old_rows, _COLS)
    new = spark.createDataFrame(new_rows, _COLS)
    out = {
        (r.conv_id, r.turn_idx): r
        for r in graph_diff(
            turn_fingerprints(old), turn_fingerprints(new)
        ).collect()
    }
    assert out[("c1", 0)].status == "unchanged"
    assert out[("c1", 0)].old_fp == out[("c1", 0)].new_fp
    assert out[("c2", 1)].status == "changed"
    assert out[("c2", 1)].old_fp != out[("c2", 1)].new_fp
    assert out[("c3", 2)].status == "removed"
    assert out[("c3", 2)].new_fp is None
    assert out[("c4", 3)].status == "added"
    assert out[("c4", 3)].old_fp is None and out[("c4", 3)].old_n_quads is None
    assert out[("c5", 4)].status == "unknown"
    assert out[("c5", 4)].old_fp is None and out[("c5", 4)].new_fp is None
    assert len(out) == 5


def test_graph_diff_from_persisted_fingerprints(spark, tmp_path):
    """The incremental form: the previous run's turn_fingerprints output,
    written to parquet and read back, must yield the identical diff as
    freshly computed fingerprints."""
    old_rows = [
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c2", 1, "http://e/s", "http://e/p", "v1", kind="literal"),
    ]
    new_rows = [
        _row("c1", 0, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c2", 1, "http://e/s", "http://e/p", "v2", kind="literal"),
        _row("c4", 3, "http://e/s", "http://e/p", "fresh", kind="literal"),
    ]
    old = spark.createDataFrame(old_rows, _COLS)
    new = spark.createDataFrame(new_rows, _COLS)
    new_fps = turn_fingerprints(new)
    fresh = sorted(
        map(tuple, graph_diff(turn_fingerprints(old), new_fps).collect())
    )
    path = str(tmp_path / "fps")
    turn_fingerprints(old).write.parquet(path)
    persisted = sorted(
        map(tuple, graph_diff(spark.read.parquet(path), new_fps).collect())
    )
    assert fresh == persisted


def test_triple_diff_over_skolemized(spark):
    """Row-level diff works only over skolemized tables: relabeled (i.e.
    isomorphic) turns contribute zero rows, literal edits pair up as one
    removed + one added, whole-turn adds/removes appear in full, and
    quarantined turns are excluded."""
    from json_ld_spark.pipeline.canonical import (
        skolemize_triples,
        triple_diff,
    )

    old_rows = [
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c1", 0, "_:y", "http://e/name", "http://e/alice"),
        _row("c2", 1, "http://e/s", "http://e/p", "v1", kind="literal"),
        _row("c3", 2, "http://e/s", "http://e/p", "gone", kind="literal"),
        *_poison_rows("c6", 5),
    ]
    new_rows = [
        # same graph as c1/0 under different labels: must not appear
        _row("c1", 0, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c1", 0, "_:r", "http://e/name", "http://e/alice"),
        _row("c2", 1, "http://e/s", "http://e/p", "v2", kind="literal"),
        _row("c4", 3, "http://e/s", "http://e/p", "fresh", kind="literal"),
        *_poison_rows("c6", 5),
    ]
    old = skolemize_triples(spark.createDataFrame(old_rows, _COLS))
    new = skolemize_triples(spark.createDataFrame(new_rows, _COLS))
    out = triple_diff(old, new).collect()
    by_status: dict[str, list] = {}
    for r in out:
        by_status.setdefault(r.status, []).append(r)
    assert {(r.conv_id, r.obj_value) for r in by_status["added"]} == {
        ("c2", "v2"), ("c4", "fresh"),
    }
    assert {(r.conv_id, r.obj_value) for r in by_status["removed"]} == {
        ("c2", "v1"), ("c3", "gone"),
    }
    assert not any(r.conv_id in ("c1", "c6") for r in out)


def test_skolemize_stable_across_relabeling(spark):
    rows = [
        # turn A and its relabeled twin: skolem IRIs must be identical
        _row("c1", 0, "_:x", "http://e/knows", "_:y", kind="bnode"),
        _row("c1", 0, "_:y", "http://e/name", "http://e/alice"),
        _row("c1", 3, "_:q", "http://e/knows", "_:r", kind="bnode"),
        _row("c1", 3, "_:r", "http://e/name", "http://e/alice"),
        # poison turn: quarantined with labels untouched
        *_poison_rows("c2", 1),
        # quarantined extraction row: excluded
        _row("c3", 2, None, None, None, err="loading document failed"),
    ]
    df = spark.createDataFrame(rows, _COLS)
    out = skolemize_triples(df).collect()

    by_turn: dict[tuple, list] = {}
    for r in out:
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r)
    assert set(by_turn) == {("c1", 0), ("c1", 3), ("c2", 1)}

    def canon(rows_):
        # strip the turn-specific IRI segment so structural identity shows
        return sorted(
            (
                r.subj.replace(f"/{r.turn_idx}/", "/T/"),
                r.pred,
                r.obj_kind,
                r.obj_value.replace(f"/{r.turn_idx}/", "/T/"),
            )
            for r in rows_
        )

    a, b = by_turn[("c1", 0)], by_turn[("c1", 3)]
    assert canon(a) == canon(b)
    assert all(r.obj_kind != "bnode" for r in a + b)
    assert all(r.subj.startswith(_GENID_PREFIX) for r in a)
    assert all(r.error_code is None for r in a + b)
    # distinct turns never collide: the IRI embeds (conv_id, turn_idx)
    assert {r.subj for r in a}.isdisjoint({r.subj for r in b})

    # matches the shared kernel run Spark-free on the same rows
    kernel_rows = [
        {
            "subj": "_:x", "pred": "http://e/knows", "obj_kind": "bnode",
            "obj_value": "_:y", "obj_type": None, "obj_lang": None,
            "obj_direction": None, "graph": None,
        },
        {
            "subj": "_:y", "pred": "http://e/name", "obj_kind": "iri",
            "obj_value": "http://e/alice", "obj_type": None,
            "obj_lang": None, "obj_direction": None, "graph": None,
        },
    ]
    kernel_out = skolemize_turn_rows(kernel_rows, "c1", 0)
    assert sorted(
        (r["subj"], r["pred"], r["obj_kind"], r["obj_value"])
        for r in kernel_out
    ) == sorted((r.subj, r.pred, r.obj_kind, r.obj_value) for r in a)

    # poison turn: blank labels untouched, error_code set on every row
    c = by_turn[("c2", 1)]
    assert all(r.error_code == TOO_COMPLEX for r in c)
    assert all(r.subj.startswith("_:") for r in c)


def test_turn_fingerprints_plan_is_single_shuffle(spark):
    """The fingerprint is computed in-kernel: a groupBy over the
    canonical-lines output would add an ENSURE_REQUIREMENTS exchange
    (mapInPandas hides key preservation from Catalyst) and ship one Arrow
    row per line instead of one per turn."""
    from json_ld_spark.pipeline.canonical import turn_fingerprints

    rows = [_row("c1", 0, "_:x", "http://e/p", "v", kind="literal")]
    df = spark.createDataFrame(rows, _COLS)
    plan = (
        turn_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_skolemize_plan_is_single_shuffle(spark):
    rows = [_row("c1", 0, "_:x", "http://e/p", "v", kind="literal")]
    df = spark.createDataFrame(rows, _COLS)
    plan = (
        skolemize_triples(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_canonical_nquads_plan_is_single_shuffle(spark):
    rows = [_row("c1", 0, "_:x", "http://e/p", "v", kind="literal")]
    df = spark.createDataFrame(rows, _COLS)
    plan = canonical_nquads(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # streaming mapInPandas, not per-group applyInPandas
    assert "FlatMapGroupsInPandas" not in plan
