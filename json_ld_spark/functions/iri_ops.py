"""Vectorized JVM-side IRI compaction (SURVEY.md §2 P2).

``compact_iri_col`` is §6.3 vocab-mode IRI compaction compiled from a
*frozen* context into one Catalyst expression — zero Python on the hot
path: exact inverse-context matches via a map literal, then the
vocab-relative suffix, then the shortest compact-IRI candidate.
kernel/compact.py is the spec-faithful oracle the tests pin it against.

Scale note: the result is a single Catalyst expression tree — no shuffle,
no UDF, fully pushdown/codegen friendly. The context-derived literals are
tiny (10s of terms), so the generated plan stays well under codegen
limits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernel import Context
from ..kernel.model import KEYWORDS


def compact_iri_col(col: Column, ctx: Context) -> Column:
    """Vocab-mode IRI compaction as a Catalyst CASE chain (kernel/compact.py
    is the spec-faithful oracle; tests pin equality on all emitted IRIs).

    Lockstep with the kernel by construction: every IRI the inverse context
    knows (the finite set of term-definition IRIs) is mapped through the
    kernel's own §6.3 term selection at plan-build time into a literal map,
    so the CASE chain only has to mirror the kernel's FALLBACK path for
    out-of-inverse IRIs — vocab-relative suffix first, then compact-IRI
    candidates ordered by the WD's shortest-candidate rule, then unchanged.
    """
    from ..kernel.compact import compact_iri, create_inverse_context

    inverse = create_inverse_context(ctx)
    # the kernel result for every IRI term selection could ever see (bare
    # compaction, value=None) — whatever it returns (term, CURIE, suffix)
    # is by definition the right answer for that literal
    exact = {
        iri: compact_iri(ctx, iri, vocab=True, inverse=inverse)
        for iri in inverse
    }
    prefixes = [
        (term, td.iri)
        for term, td in ctx.term_definitions.items()
        if td is not None and ":" not in term and td.is_prefix
    ]

    expr = F.when(col.isNull(), F.lit(None).cast("string"))
    expr = expr.when(col.isin(*sorted(KEYWORDS)), col)
    if exact:
        items = []
        for iri in sorted(exact):
            items.extend([F.lit(iri), F.lit(exact[iri])])
        m = F.create_map(*items)
        expr = expr.when(m[col].isNotNull(), m[col])
    if ctx.vocab:
        suffix = F.substring(col, len(ctx.vocab) + 1, 2**30)
        collision = suffix.isin(*ctx.term_definitions.keys()) if ctx.term_definitions else F.lit(False)
        expr = expr.when(
            col.startswith(ctx.vocab) & (F.length(col) > len(ctx.vocab)) & ~collision,
            suffix,
        )
    # candidate length is len(term)+1-len(ns) + len(iri): WHEN groups
    # ordered by that margin give the shortest candidate first (the WD
    # step-6 choice). Equal margins mean equal candidate LENGTHS, where the
    # kernel tie-breaks lexicographically on the full candidate string —
    # which depends on the row's IRI suffix, so within a margin group the
    # choice is least() over the group's valid candidates (least() skips
    # nulls), not a static term-name order.
    by_margin: dict[int, list] = {}
    for term, ns in prefixes:
        by_margin.setdefault(len(term) + 1 - len(ns), []).append((term, ns))
    for margin in sorted(by_margin):
        group = []
        for term, ns in sorted(by_margin[margin]):
            candidate = F.concat(
                F.lit(term + ":"), F.substring(col, len(ns) + 1, 2**30)
            )
            collision = candidate.isin(*ctx.term_definitions.keys())
            group.append(
                F.when(
                    col.startswith(ns)
                    & (F.length(col) > len(ns))
                    & ~collision,
                    candidate,
                )
            )
        best = group[0] if len(group) == 1 else F.least(*group)
        expr = expr.when(best.isNotNull(), best)
    return expr.otherwise(col)
