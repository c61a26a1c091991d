"""Framing (W3C JSON-LD 1.1 Framing, WD-json-ld11-framing-20191112) — a
documented subset over the flatten node map.

The reference stubs every document algorithm but names framing twice on its
public surface — the ``frame``/``framed`` document profiles and their URIs
(reference ``src/remote/profile.rs:13-18,31-36``). Expand / compact /
flatten / fromRdf all exist here; this module completes the JsonLdProcessor
surface with the §9 ``frame()`` entry, built on §8 node-map generation
(``kernel/flatten.py``).

Implemented subset (everything a frame over the fixture/transcript corpus
exercises, and the shape the W3C framing test suite's core cases use):

- **Frame matching** (Framing §2.2): ``@id`` (single / array / ``{}``
  wildcard), ``@type`` (single / array / ``{}`` wildcard-any-type / ``[]``
  match-none), property presence patterns (``{}`` wildcard, ``[]``
  match-absent), ``@requireAll``. A frame with no constraints matches every
  node. Properties carrying ``@default`` count as matched (spec rule).
- **Embedding** (§3.1): ``@embed`` ``@once`` (default) / ``@always`` /
  ``@never``; circular references always emit a node reference; per-property
  subframes recurse; the ``@once`` ledger is per matched root, deterministic
  (nodes in sorted-id order, properties sorted).
- **@explicit** — copy only frame-listed properties; **@default** — emitted
  for frame properties the node lacks.
- **Named graphs** (§3.1): a frame's ``@graph`` entry recurses into the
  named graph of each matched graph-name node (fresh embed ledger per
  graph); id-only graph names still match when the frame asks for their
  graph.
- **Value patterns** (§2.3): ``{"@value": ...}`` subframes match/filter
  value objects on ``@value``/``@type``/``@language`` with ``{}``
  wildcards and ``[]`` match-none; only matching values are copied.
- **Errors**: ``invalid frame`` / ``invalid @embed value`` — these two codes
  come from the *framing* spec's error registry, not the API registry the
  reference mirrors (``src/error.rs`` carries no framing codes), and are
  added to our taxonomy as documented extensions.

- **Compaction cleanup pass** (§4.1 steps 19/21): ``frame_and_compact``
  compacts the framed output against the frame's own ``@context`` and
  replaces the spec's ``"@null"`` markers with JSON ``null`` — which is
  why ``@omitDefault`` can default to FALSE here exactly as the spec
  says (markers are no longer noise; they surface as the documented
  ``null`` values users match on). ``frame_expanded`` returns expanded
  framed output with the markers intact for the cleanup pass.

Documented deviations (scope-honesty):
- ``@embed`` ``@first``/``@last`` (JSON-LD 1.0 compat aliases) map to
  ``@once``/``@always``.
"""

from __future__ import annotations

import copy
from typing import Any, Mapping, Optional

from .context_processing import expand_iri
from .errors import ErrorCode, JsonLdError
from .expand_doc import expand_document
from .flatten import _BNodes, _generate_node_map
from .model import is_keyword

_EMBED_VALUES = {
    "@once": "@once",
    "@always": "@always",
    "@never": "@never",
    # 1.0 compat aliases
    "@first": "@once",
    "@last": "@always",
}

_FRAME_FLAG_KEYS = {"@embed", "@explicit", "@omitDefault", "@requireAll"}


def _is_frame_keyword(key: str) -> bool:
    """API keywords plus the framing-spec keywords (which the API keyword
    table — src/processor.rs:46-70 — does not contain)."""
    return is_keyword(key) or key in _FRAME_FLAG_KEYS or key == "@default"


def expand_frame(processor, active_ctx, frame: Mapping[str, Any]) -> dict:
    """Frame expansion (light form): property keys and ``@type`` values
    expand against the frame's own ``@context`` (or the provided active
    context); framing keywords, wildcards (``{}``) and match-none (``[]``)
    pass through verbatim — the frame-expansion quirks §1.3 names.

    The full expansion kernel is NOT reused here on purpose: document
    expansion normalizes away exactly the pattern shapes a frame is made
    of (empty maps, empty arrays, ``@default`` entries).
    """
    from .context_processing import process_context

    if not isinstance(frame, Mapping):
        raise JsonLdError(ErrorCode.INVALID_FRAME, "frame must be a map")
    ctx_value = frame.get("@context")
    if ctx_value is not None:
        active_ctx = process_context(
            processor, active_ctx, ctx_value, processor.document_iri
        )
    return _expand_frame_object(processor, active_ctx, frame)


def _expand_frame_object(processor, active_ctx, obj: Mapping[str, Any]) -> dict:
    out: dict[str, Any] = {}
    for key, value in obj.items():
        if key == "@context":
            continue
        if key in ("@id", "@type"):
            vals = value if isinstance(value, list) else [value]
            expanded_vals: list[Any] = []
            for v in vals:
                if isinstance(v, Mapping) and not v:
                    expanded_vals.append({})  # wildcard
                elif isinstance(v, str):
                    expanded_vals.append(
                        expand_iri(
                            processor, active_ctx, v,
                            vocab=(key == "@type"),
                            document_relative=(key == "@id"),
                        )
                    )
                else:
                    raise JsonLdError(
                        ErrorCode.INVALID_FRAME, f"bad {key} pattern: {v!r}"
                    )
            # single values are listified; `[]` match-none survives as an
            # empty list because the loop above emitted nothing
            out[key] = expanded_vals
            continue
        if key in _FRAME_FLAG_KEYS:
            out[key] = value
            continue
        if key == "@graph":
            # named-graph recursion point (Framing §3.1): the subframe
            # frames the named graph of each matched graph-name node
            out["@graph"] = _expand_frame_value(processor, active_ctx, value)
            continue
        if key in ("@value", "@language"):
            # value-pattern members (Framing §2.3) pass through verbatim:
            # {} wildcard / [] match-none / scalar / array of scalars
            out[key] = value
            continue
        if is_keyword(key):
            # any other keyword in a frame is outside the implemented
            # subset — fail loudly rather than silently degrade to
            # property-presence matching (e.g. @list patterns)
            raise JsonLdError(
                ErrorCode.INVALID_FRAME,
                f"unsupported keyword in frame: {key}",
            )
        prop = expand_iri(processor, active_ctx, key, vocab=True)
        if prop is None:
            continue
        out[prop] = _expand_frame_value(processor, active_ctx, value)
    return out


def _expand_frame_value(processor, active_ctx, value: Any) -> Any:
    if isinstance(value, list):
        return [_expand_frame_value(processor, active_ctx, v) for v in value]
    if isinstance(value, Mapping):
        if not value:
            return {}  # wildcard
        sub = _expand_frame_object(processor, active_ctx, value)
        if "@default" in value:
            sub["@default"] = value["@default"]
        return sub
    # bare literal pattern → value-object pattern on @value
    return {"@value": value}


def _as_pattern_list(value: Any) -> list:
    if value is None:
        return []
    return value if isinstance(value, list) else [value]


def _frame_subframe(value: Any) -> dict:
    """Normalize a frame property value to ONE sub-frame map (spec frames
    carry arrays of at most one map)."""
    for v in _as_pattern_list(value):
        if isinstance(v, Mapping):
            return dict(v)
    return {}


def _flag(frame: Mapping, key: str, default):
    v = frame.get(key, default)
    if isinstance(v, list):
        v = v[0] if v else default
    if isinstance(v, Mapping) and "@value" in v:
        v = v["@value"]
    return v


def _embed_policy(frame: Mapping) -> str:
    raw = _flag(frame, "@embed", "@once")
    policy = _EMBED_VALUES.get(raw)
    if policy is None:
        raise JsonLdError(
            ErrorCode.INVALID_EMBED_VALUE, f"@embed: {raw!r}"
        )
    return policy


def _matches(node: Mapping, frame: Mapping, require_all: bool) -> bool:
    """Framing §2.2 frame-matching over one node-map node."""
    id_patterns = frame.get("@id")
    if id_patterns is not None:
        pats = _as_pattern_list(id_patterns)
        if not any(isinstance(p, Mapping) for p in pats):  # {} wildcard
            if node["@id"] not in pats:
                return False
    type_pattern = frame.get("@type")
    if type_pattern is not None:
        node_types = node.get("@type", [])
        if type_pattern == []:
            if node_types:
                return False
        else:
            pats = _as_pattern_list(type_pattern)
            if any(isinstance(p, Mapping) for p in pats):  # {} — any type
                if not node_types:
                    return False
            elif not set(pats) & set(node_types):
                return False
    checks: list[bool] = []
    for prop, pattern in frame.items():
        if _is_frame_keyword(prop):
            continue
        if pattern == []:
            checks.append(prop not in node)
        elif isinstance(pattern, list) and any(
            isinstance(p, Mapping) and "@default" in p for p in pattern
        ) or (isinstance(pattern, Mapping) and "@default" in pattern):
            checks.append(True)  # @default always matches (spec rule)
        else:
            checks.append(
                prop in node
                and _property_pattern_matches(node[prop], pattern)
            )
    if not checks:
        return True
    return all(checks) if require_all else any(checks)


def _is_node_ref(value: Any) -> bool:
    return (
        isinstance(value, Mapping)
        and "@id" in value
        and "@value" not in value
    )


def _is_value_pattern(subframe: Mapping) -> bool:
    return "@value" in subframe


def _pattern_member_matches(pattern: Any, got: Any, *, absent_ok: bool) -> bool:
    """One member (@value/@type/@language) of a value pattern (§2.3):
    absent → wildcard; {} → wildcard; [] → require absent; scalar/array →
    membership."""
    if pattern is None:
        return True
    pats = pattern if isinstance(pattern, list) else [pattern]
    if any(isinstance(p, Mapping) and not p for p in pats):  # {} wildcard
        return got is not None
    if pats == []:
        return got is None if absent_ok else False
    return got in pats


def _value_matches(value: Any, pattern: Mapping) -> bool:
    """Framing §2.3 value-pattern matching over one expanded value object.
    Language comparison is case-insensitive; ``@null`` in a language
    pattern matches a language-less string (the spec's marker)."""
    if not isinstance(value, Mapping) or "@value" not in value:
        return False
    if not _pattern_member_matches(
        pattern.get("@value"), value.get("@value"), absent_ok=False
    ):
        return False
    ty_pat = pattern.get("@type")
    if ty_pat is not None and not _pattern_member_matches(
        ty_pat, value.get("@type"), absent_ok=True
    ):
        return False
    lang_pat = pattern.get("@language")
    if lang_pat is not None:
        pats = lang_pat if isinstance(lang_pat, list) else [lang_pat]
        if any(isinstance(p, Mapping) and not p for p in pats):
            return value.get("@language") is not None
        got = value.get("@language")
        got_key = got.lower() if isinstance(got, str) else "@null"
        norm = [p.lower() if isinstance(p, str) else p for p in pats]
        if pats == []:
            return got is None
        if got_key not in norm:
            return False
    return True


def _property_pattern_matches(node_values: list, pattern: Any) -> bool:
    """Property-level match when the subframe is a value pattern: at least
    one of the node's values must match it."""
    sub = _frame_subframe(pattern)
    if not _is_value_pattern(sub):
        return True
    return any(_value_matches(v, sub) for v in node_values)


def _embed_node(
    node_id: str,
    frame: Mapping,
    graph: Mapping[str, Mapping],
    embedded: set[str],
    path: tuple[str, ...],
    inherited_embed: str,
    inherited_explicit: bool,
    inherited_omit: bool = True,
    node_map: Optional[Mapping[str, Mapping[str, Mapping]]] = None,
) -> dict:
    node = graph[node_id]
    policy = (
        _embed_policy(frame) if "@embed" in frame else inherited_embed
    )
    explicit = bool(_flag(frame, "@explicit", inherited_explicit))
    omit_default = bool(_flag(frame, "@omitDefault", inherited_omit))
    out: dict[str, Any] = {"@id": node_id}
    if "@type" in node:
        out["@type"] = list(node["@type"])
    for prop in sorted(p for p in node if not is_keyword(p)):
        if explicit and prop not in frame:
            continue
        subframe = _frame_subframe(frame.get(prop))
        value_pattern = _is_value_pattern(subframe)
        vals: list[Any] = []
        for v in node[prop]:
            if value_pattern:
                # a value pattern selects which values are copied (§3.1)
                if _value_matches(v, subframe):
                    vals.append(copy.deepcopy(v))
                continue
            if _is_node_ref(v) and v["@id"] in graph:
                tid = v["@id"]
                if (
                    policy == "@never"
                    or tid in path
                    or (policy == "@once" and tid in embedded)
                ):
                    vals.append({"@id": tid})
                else:
                    embedded.add(tid)
                    vals.append(
                        _embed_node(
                            tid, subframe, graph, embedded,
                            path + (node_id,), policy, explicit,
                            omit_default, node_map,
                        )
                    )
            elif isinstance(v, Mapping) and "@list" in v:
                items: list[Any] = []
                for it in v["@list"]:
                    if _is_node_ref(it) and it["@id"] in graph:
                        tid = it["@id"]
                        if (
                            policy == "@never"
                            or tid in path
                            or (policy == "@once" and tid in embedded)
                        ):
                            items.append({"@id": tid})
                        else:
                            embedded.add(tid)
                            items.append(
                                _embed_node(
                                    tid, subframe, graph, embedded,
                                    path + (node_id,), policy, explicit,
                                    omit_default, node_map,
                                )
                            )
                    else:
                        items.append(copy.deepcopy(it))
                vals.append({"@list": items})
            else:
                vals.append(copy.deepcopy(v))
        if value_pattern and not vals:
            continue  # no value survived the pattern — omit the property
        out[prop] = vals
    # @default / @omitDefault for frame properties the node lacks
    # (Framing §3.1 steps 4.3.2-4.3.3: missing property → the frame's
    # @default, else the "@null" marker — unless @omitDefault suppresses
    # it; the marker's removal is the compaction cleanup pass's job)
    for prop, pattern in frame.items():
        if _is_frame_keyword(prop) or prop in out:
            continue
        sub = _frame_subframe(pattern)
        if "@default" in sub:
            dv = sub["@default"]
            dvs = dv if isinstance(dv, list) else [dv]
            # defaults surface in expanded form like every other value
            out[prop] = [
                v if isinstance(v, Mapping) else {"@value": v} for v in dvs
            ]
        elif not omit_default and pattern != []:
            out[prop] = ["@null"]
    # named-graph recursion (Framing §3.1): when the frame carries @graph
    # and this node names a graph, frame that graph's own node map with the
    # @graph subframe — fresh embed ledger and path, scoped to the graph
    if "@graph" in frame and node_map is not None and node_id in node_map:
        gframe = _frame_subframe(frame["@graph"])
        inner = node_map[node_id]
        require_all = bool(_flag(gframe, "@requireAll", False))
        graph_nodes: list[dict] = []
        for gid in sorted(inner):
            gnode = inner[gid]
            if len(gnode) <= 1:  # id-only placeholder
                continue
            if _matches(gnode, gframe, require_all):
                graph_nodes.append(
                    _embed_node(
                        gid, gframe, inner, embedded={gid}, path=(),
                        inherited_embed=policy,
                        inherited_explicit=explicit,
                        inherited_omit=omit_default, node_map=node_map,
                    )
                )
        out["@graph"] = graph_nodes
    return out


def frame_expanded(
    expanded: list[dict[str, Any]], frame: Mapping[str, Any]
) -> list[dict[str, Any]]:
    """Frame an expanded document: node-map generation (§8.2, reused from
    flatten) → match over default-graph subjects → embed. Deterministic:
    roots in sorted-id order, properties sorted, one @once ledger per
    root."""
    if not isinstance(frame, Mapping):
        raise JsonLdError(ErrorCode.INVALID_FRAME, "frame must be a map")
    require_all = bool(_flag(frame, "@requireAll", False))
    _embed_policy(frame)  # validate early even for frames without matches
    bnodes = _BNodes()
    node_map: dict[str, dict[str, dict]] = {"@default": {}}
    _generate_node_map(expanded, node_map, bnodes)
    graph = node_map["@default"]
    results: list[dict] = []
    for node_id in sorted(graph):
        node = graph[node_id]
        if len(node) <= 1 and not (
            "@graph" in frame and node_id in node_map
        ):
            # id-only placeholder — unless it names a graph the frame's
            # @graph entry wants to recurse into
            continue
        if _matches(node, frame, require_all):
            results.append(
                _embed_node(
                    node_id, frame, graph, embedded={node_id},
                    path=(), inherited_embed="@once",
                    # spec default: omitDefault=false — missing frame
                    # properties yield ["@null"] markers, which the
                    # frame_and_compact cleanup pass turns into null
                    inherited_explicit=False, inherited_omit=False,
                    node_map=node_map,
                )
            )
    return results


def frame_document(
    processor,
    active_ctx,
    document: Mapping[str, Any] | list,
    frame: Mapping[str, Any],
    frame_ctx: Optional[object] = None,
) -> list[dict[str, Any]]:
    """The JsonLdProcessor ``frame()`` entry (§5): expand the document,
    expand the frame (against its own ``@context`` when present), match +
    embed. Returns framed nodes in expanded form."""
    expanded = expand_document(processor, active_ctx, document)
    expanded_frame = expand_frame(
        processor, frame_ctx if frame_ctx is not None else active_ctx, frame
    )
    return frame_expanded(expanded, expanded_frame)


def cleanup_null_markers(value: Any) -> Any:
    """Framing §4.1 step 21: replace ``"@null"`` markers with JSON
    ``null``; an array whose every member was a marker collapses to
    ``null``, a mixed array just drops its markers."""
    if value == "@null":
        return None
    if isinstance(value, list):
        items = [cleanup_null_markers(v) for v in value]
        kept = [v for v in items if v is not None]
        if items and not kept:
            return None
        return kept
    if isinstance(value, Mapping):
        return {k: cleanup_null_markers(v) for k, v in value.items()}
    return value


def frame_and_compact(
    processor,
    active_ctx,
    document: Mapping[str, Any] | list,
    frame: Mapping[str, Any],
    *,
    compact_to_relative: bool = True,
) -> list[Any]:
    """Framing §4.1 steps 18-21 end-to-end: frame the document, COMPACT
    the framed output against the frame's own ``@context`` (falling back
    to ``active_ctx``), then replace the ``"@null"`` markers the spec
    default (``@omitDefault: false``) emits with JSON ``null`` — the
    cleanup pass that makes the markers useful instead of noise.

    Returns the list of compacted framed roots; attaching ``@context``
    and the (1.1-default ``omitGraph``) single-vs-``@graph`` wrapping is
    the serializer's concern, matching how ``compact_document`` callers
    already work here."""
    from .compact import compact_document
    from .context_processing import process_context

    frame_ctx = active_ctx
    ctx_value = frame.get("@context") if isinstance(frame, Mapping) else None
    if ctx_value is not None:
        frame_ctx = process_context(
            processor, active_ctx, ctx_value, processor.document_iri
        )
    framed = frame_document(
        processor, active_ctx, document, frame, frame_ctx=frame_ctx
    )
    compacted = compact_document(
        frame_ctx, framed, compact_to_relative=compact_to_relative
    )
    if not isinstance(compacted, list):
        compacted = [compacted]
    return [cleanup_null_markers(node) for node in compacted]
