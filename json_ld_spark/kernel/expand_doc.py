"""Document Expansion and RDF triple generation.

The reference stubs document expansion entirely (src/expand.rs:1-5 exports
only the IRI-expansion submodule), so this module follows the same spec draft
the reference cites on nearly every function — WD-json-ld11-api-20191112 §5.1
(Expansion), §5.3 (Value Expansion) and §8 (RDF deserialization) — while
reusing the reference-parity kernel (context_processing) for every
``@context`` / IRI touch, exactly as SURVEY.md §7 M0 prescribes.

Scoped contexts: the reference *pre-compiles* term-scoped contexts into the
term definition at create-term-definition time (definition.context,
src/context/definition.rs:35; eager processing at non_reverse.rs:397-422).
Expansion therefore applies the precompiled ``TermDefinition.local_context``
rather than re-running context processing per document — this matches the
reference's data model and is also the fast path for Spark (contexts are
frozen before the job starts; SURVEY.md §3.3).

Output triple shape (SURVEY.md §1.3):
    (subj, pred, obj_kind, obj_value, obj_type, obj_lang, obj_direction, graph)
with obj_kind ∈ {iri, bnode, literal}; graph is None for the default graph.
"""

from __future__ import annotations

import json
import math
from decimal import Decimal
from typing import Any, Mapping, Optional

from .context_processing import expand_iri, process_context
from .errors import ErrorCode, JsonLdError
from .model import Context, ProcessorOptions, TermDefinition, is_keyword
from .iri import has_form_of_keyword, is_absolute_ref_or_blank_node

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_JSON = RDF_NS + "JSON"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD_NS + "string"
XSD_INTEGER = XSD_NS + "integer"
XSD_DOUBLE = XSD_NS + "double"
XSD_BOOLEAN = XSD_NS + "boolean"

_VALUE_OBJECT_KEYS = frozenset({"@value", "@language", "@type", "@index", "@direction"})


# ==========================================================================
# Expansion (§5.1)
# ==========================================================================

def expand_document(
    processor: ProcessorOptions,
    active_context: Context,
    element: Any,
) -> list[dict[str, Any]]:
    """Expand a parsed JSON-LD document to its expanded form (array of node
    objects), resolving relative IRIs against the processor's document IRI."""
    base = processor.document_iri
    expanded = _expand(processor, active_context, None, element, base)
    # §5.1 final step: unwrap a lone @graph, coerce to array
    if isinstance(expanded, Mapping) and set(expanded.keys()) == {"@graph"}:
        expanded = expanded["@graph"]
    if expanded is None:
        return []
    if not isinstance(expanded, list):
        expanded = [expanded]
    return expanded


def _expand(
    processor: ProcessorOptions,
    active_context: Context,
    active_property: Optional[str],
    element: Any,
    base: str,
    from_map: bool = False,
) -> Any:
    # Step 1
    if element is None:
        return None
    # Property-scoped context (precompiled; see module docstring)
    prop_def = (
        active_context.term_definition(active_property)
        if active_property is not None
        else None
    )
    # Step 4 — scalars
    if not isinstance(element, (Mapping, list)):
        if active_property is None or active_property == "@graph":
            return None  # drop free-floating scalar
        if prop_def is not None and prop_def.local_context is not None:
            active_context = prop_def.local_context
        return _expand_value(active_context, active_property, element, processor, base)
    # §5.1 step 11 — a @json-typed term captures the element verbatim as a
    # JSON literal (arrays and maps included), bypassing node-object logic
    if prop_def is not None and prop_def.ty == "@json":
        return {"@value": element, "@type": "@json"}
    # Step 5 — arrays
    if isinstance(element, list):
        result: list[Any] = []
        for item in element:
            expanded_item = _expand(
                processor, active_context, active_property, item, base, from_map
            )
            if (
                prop_def is not None
                and prop_def.container_contains("@list")
                and (
                    isinstance(expanded_item, list)
                    or (
                        isinstance(expanded_item, Mapping)
                        and "@list" in expanded_item
                    )
                )
            ):
                raise JsonLdError(ErrorCode.INVALID_SET_OR_LIST_OBJECT, "list of lists")
            if isinstance(expanded_item, list):
                result.extend(x for x in expanded_item if x is not None)
            elif expanded_item is not None:
                result.append(expanded_item)
        return result
    # Step 6+ — element is a map
    # Step 7 — revert to previous context unless this looks like a value/@id-only map
    if (
        active_context.previous_context is not None
        and not from_map
        and "@value" not in _alias_keys(processor, active_context, element, base)
        and not (
            len(element) == 1
            and "@id" in _alias_keys(processor, active_context, element, base)
        )
    ):
        active_context = active_context.previous_context
    # Step 8 — property-scoped context
    if prop_def is not None and prop_def.local_context is not None:
        active_context = prop_def.local_context
    # Step 9 — inline @context
    if "@context" in element:
        active_context = process_context(
            processor, active_context, element["@context"], base
        )
    # Step 10-11 — type-scoped contexts, applied in lexicographic term order
    type_key = None
    for key in sorted(element.keys()):
        if _expand_key(processor, active_context, key, base) == "@type":
            type_key = key if type_key is None else type_key
            tv = element[key]
            for term in sorted(
                t for t in (tv if isinstance(tv, list) else [tv]) if isinstance(t, str)
            ):
                td = active_context.term_definition(term)
                if td is not None and td.local_context is not None:
                    active_context = td.local_context
    return _expand_map(
        processor, active_context, active_property, element, base, from_map
    )


def _alias_keys(
    processor: ProcessorOptions,
    active_context: Context,
    element: Mapping[str, Any],
    base: str,
) -> set[str]:
    """Expanded keyword set of a map's keys (cheap alias-aware probe)."""
    out = set()
    for key in element:
        exp = _expand_key(processor, active_context, key, base)
        if exp is not None and is_keyword(exp):
            out.add(exp)
    return out


def _expand_key(
    processor: ProcessorOptions, active_context: Context, key: str, base: str
) -> Optional[str]:
    try:
        return expand_iri(processor, active_context, key, vocab=True)
    except JsonLdError:
        return None


def _expand_map(
    processor: ProcessorOptions,
    active_context: Context,
    active_property: Optional[str],
    element: Mapping[str, Any],
    base: str,
    from_map: bool,
) -> Any:
    result: dict[str, Any] = {}
    nests: list[str] = []

    # §5.1 step 13 — process keys in lexicographic order
    for key in sorted(element.keys()):
        if key == "@context":
            continue
        expanded_property = _expand_key(processor, active_context, key, base)
        # Step 13.3 — drop keys that expand to null or to a non-keyword,
        # non-IRI-like value
        if expanded_property is None or (
            ":" not in expanded_property and not is_keyword(expanded_property)
        ):
            continue
        value = element[key]

        if expanded_property == "@nest":
            nests.append(key)
            continue
        if is_keyword(expanded_property):
            _expand_keyword_entry(
                processor, active_context, active_property, result, nests,
                expanded_property, value, base,
            )
            continue

        td = active_context.term_definition(key)
        container = td.container if td is not None and td.container else frozenset()

        # Step 13.7 — language maps
        if "@language" in container and isinstance(value, Mapping):
            expanded_value: Any = []
            for lang in sorted(value.keys()):
                items = value[lang]
                items = items if isinstance(items, list) else [items]
                for item in items:
                    if item is None:
                        continue
                    if not isinstance(item, str):
                        raise JsonLdError(
                            ErrorCode.INVALID_LANGUAGE_MAP_VALUE, repr(item)
                        )
                    vo: dict[str, Any] = {"@value": item}
                    expanded_lang = expand_iri(
                        processor, active_context, lang, vocab=True
                    ) if has_form_of_keyword(lang) or is_keyword(lang) else lang
                    if expanded_lang != "@none":
                        vo["@language"] = lang
                    direction = _effective_direction(td, active_context)
                    if direction is not None:
                        vo["@direction"] = direction
                    expanded_value.append(vo)
        # Step 13.8 — index/id/type maps
        elif (
            container & {"@index", "@id", "@type"}
        ) and isinstance(value, Mapping):
            expanded_value = []
            for idx in sorted(value.keys()):
                items = value[idx]
                if "@type" in container:
                    idx_td = active_context.term_definition(idx)
                    map_context = (
                        idx_td.local_context
                        if idx_td is not None and idx_td.local_context is not None
                        else active_context
                    )
                else:
                    map_context = active_context
                expanded_index = (
                    expand_iri(processor, active_context, idx, vocab=True)
                    if idx != "@none"
                    else "@none"
                )
                items = items if isinstance(items, list) else [items]
                expanded_items = _expand(
                    processor, map_context, key, items, base, from_map=True
                )
                for item in expanded_items:
                    if "@graph" in container and "@graph" not in item:
                        item = {"@graph": [item]}
                    if "@index" in container and expanded_index != "@none" \
                            and "@index" not in item:
                        item = {**item, "@index": idx}
                    elif "@id" in container and expanded_index != "@none" \
                            and "@id" not in item:
                        expanded_id = expand_iri(
                            processor, active_context, idx, document_relative=True
                        )
                        item = {**item, "@id": expanded_id}
                    elif "@type" in container and expanded_index != "@none":
                        types = item.get("@type", [])
                        types = types if isinstance(types, list) else [types]
                        item = {**item, "@type": [expanded_index] + types}
                    expanded_value.append(item)
        else:
            # Step 13.9 — default recursion
            expanded_value = _expand(processor, active_context, key, value, base)
        if expanded_value is None:
            continue
        # Step 13.10 — @list container wrapping
        if "@list" in container and not (
            isinstance(expanded_value, Mapping) and "@list" in expanded_value
        ):
            lv = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            expanded_value = {"@list": lv}
        # Step 13.11 — @graph container wrapping
        if "@graph" in container and not (container & {"@id", "@index"}):
            lv = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            expanded_value = [
                v if isinstance(v, Mapping) and "@graph" in v else {"@graph": [v]}
                for v in lv
            ]
        # Step 13.12-13.13 — reverse properties
        if td is not None and td.reverse:
            reverse_map = result.setdefault("@reverse", {})
            items = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            for item in items:
                if isinstance(item, Mapping) and ("@value" in item or "@list" in item):
                    raise JsonLdError(
                        ErrorCode.INVALID_REVERSE_PROPERTY_VALUE, repr(item)
                    )
                reverse_map.setdefault(td.iri, []).append(item)
        else:
            prop = td.iri if td is not None else expanded_property
            items = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            result.setdefault(prop, []).extend(items)

    # Step 14 — @nest: expand nested maps into the result
    for nest_key in nests:
        nested = element[nest_key]
        nested_list = nested if isinstance(nested, list) else [nested]
        for nv in nested_list:
            if not isinstance(nv, Mapping) or "@value" in _alias_keys(
                processor, active_context, nv, base
            ):
                raise JsonLdError(ErrorCode.INVALID_NEST_VALUE, repr(nv))
            merged = _expand_map(
                processor, active_context, active_property, nv, base, from_map
            )
            if isinstance(merged, Mapping):
                for k, v in merged.items():
                    if k == "@reverse":
                        rm = result.setdefault("@reverse", {})
                        for rk, rv in v.items():
                            rm.setdefault(rk, []).extend(rv)
                    else:
                        existing = result.setdefault(k, [])
                        if isinstance(existing, list) and isinstance(v, list):
                            existing.extend(v)
                        else:
                            result[k] = v

    return _finalize_expanded_map(result, active_property)


def _effective_direction(
    td: Optional[TermDefinition], active_context: Context
) -> Optional[str]:
    from .model import MISSING

    if td is not None and td.direction is not MISSING:
        return td.direction
    return active_context.default_base_direction


def _expand_keyword_entry(
    processor: ProcessorOptions,
    active_context: Context,
    active_property: Optional[str],
    result: dict[str, Any],
    nests: list[str],
    expanded_property: str,
    value: Any,
    base: str,
) -> None:
    """§5.1 step 13.4 — keyword entries."""
    if expanded_property == "@id":
        if not isinstance(value, str):
            raise JsonLdError(ErrorCode.INVALID_ID_VALUE, repr(value))
        expanded = expand_iri(
            processor, active_context, value, document_relative=True
        )
        if expanded is not None:
            result["@id"] = expanded
    elif expanded_property == "@type":
        was_scalar = not isinstance(value, list)
        types = value if isinstance(value, list) else [value]
        out = []
        for t in types:
            if not isinstance(t, str):
                raise JsonLdError(ErrorCode.INVALID_TYPE_VALUE, repr(t))
            expanded_t = expand_iri(
                processor, active_context, t, vocab=True, document_relative=True
            )
            if expanded_t is not None:
                out.append(expanded_t)
        if out:
            existing = result.get("@type")
            if existing is not None:
                existing = existing if isinstance(existing, list) else [existing]
                result["@type"] = existing + out
            elif was_scalar and len(out) == 1:
                # string form is preserved so value objects keep a scalar
                # @type (normalized to array for node objects in step 16)
                result["@type"] = out[0]
            else:
                result["@type"] = out
    elif expanded_property == "@graph":
        expanded = _expand(processor, active_context, "@graph", value, base)
        result["@graph"] = expanded if isinstance(expanded, list) else [expanded]
    elif expanded_property == "@included":
        expanded = _expand(processor, active_context, None, value, base)
        included = expanded if isinstance(expanded, list) else [expanded]
        for node in included:
            if not isinstance(node, Mapping) or "@value" in node or "@list" in node:
                raise JsonLdError(ErrorCode.INVALID_INCLUDED_VALUE, repr(node))
        result.setdefault("@included", []).extend(included)
    elif expanded_property == "@value":
        if isinstance(value, (Mapping, list)):
            raise JsonLdError(ErrorCode.INVALID_VALUE_OBJECT_VALUE, repr(value))
        result["@value"] = value
    elif expanded_property == "@language":
        if not isinstance(value, str):
            raise JsonLdError(ErrorCode.INVALID_LANGUAGE_TAGGED_STRING, repr(value))
        result["@language"] = value  # verbatim, not lowercased (R5)
    elif expanded_property == "@direction":
        if value not in ("ltr", "rtl"):
            raise JsonLdError(ErrorCode.INVALID_BASE_DIRECTION, repr(value))
        result["@direction"] = value
    elif expanded_property == "@index":
        if not isinstance(value, str):
            raise JsonLdError(ErrorCode.INVALID_INDEX_VALUE, repr(value))
        result["@index"] = value
    elif expanded_property == "@list":
        if active_property is None or active_property == "@graph":
            return  # free-floating list is dropped
        expanded = _expand(processor, active_context, active_property, value, base)
        result["@list"] = expanded if isinstance(expanded, list) else [expanded]
    elif expanded_property == "@set":
        expanded = _expand(processor, active_context, active_property, value, base)
        if isinstance(expanded, list):
            result.setdefault("@__set_items__", []).extend(expanded)
        elif expanded is not None:
            result.setdefault("@__set_items__", []).append(expanded)
    elif expanded_property == "@reverse":
        if not isinstance(value, Mapping):
            raise JsonLdError(ErrorCode.INVALID_REVERSE_VALUE, repr(value))
        expanded = _expand(processor, active_context, "@reverse", value, base)
        if isinstance(expanded, Mapping):
            reverse_map = result.setdefault("@reverse", {})
            for prop, items in expanded.items():
                if prop == "@reverse":
                    # double-reverse unrolls to forward properties
                    for p2, i2 in items.items():
                        result.setdefault(p2, []).extend(i2)
                    continue
                for item in items if isinstance(items, list) else [items]:
                    if isinstance(item, Mapping) and (
                        "@value" in item or "@list" in item
                    ):
                        raise JsonLdError(
                            ErrorCode.INVALID_REVERSE_PROPERTY_VALUE, repr(item)
                        )
                    reverse_map.setdefault(prop, []).append(item)
    # @nest is handled by the caller (_expand_map); @json / @none and other
    # keywords in key position are ignored here


def _finalize_expanded_map(
    result: dict[str, Any], active_property: Optional[str]
) -> Any:
    """§5.1 steps 15-19 — validate and normalize the expanded map."""
    # @set unwrapping
    if "@__set_items__" in result:
        items = result.pop("@__set_items__")
        if len(result) == 0:
            return items
        # @set merged alongside other entries: treat items as values of the map
        # (only legal when the rest is @index etc.); simplest legal merge:
        return items
    # Step 15 — value objects
    if "@value" in result:
        bad = set(result.keys()) - _VALUE_OBJECT_KEYS
        if bad:
            raise JsonLdError(ErrorCode.INVALID_VALUE_OBJECT, f"extra keys {bad}")
        if "@type" in result and result["@type"] == "@json":
            return result
        value = result["@value"]
        if value is None:
            return None
        if "@language" in result and not isinstance(value, str):
            raise JsonLdError(ErrorCode.INVALID_LANGUAGE_TAGGED_VALUE, repr(value))
        if "@type" in result:
            ty = result["@type"]
            if "@language" in result or "@direction" in result:
                raise JsonLdError(ErrorCode.INVALID_VALUE_OBJECT, "@type with @language")
            if not isinstance(ty, str) or (
                not is_absolute_ref_or_blank_node(ty) and ty != "@json"
            ):
                raise JsonLdError(ErrorCode.INVALID_TYPED_VALUE, repr(ty))
        return result
    # Step 16 — @type normalization to array
    if "@type" in result and not isinstance(result["@type"], list):
        result["@type"] = [result["@type"]]
    # Step 17 — @set/@list validation
    if "@list" in result:
        extra = set(result.keys()) - {"@list", "@index"}
        if extra:
            raise JsonLdError(ErrorCode.INVALID_SET_OR_LIST_OBJECT, f"{extra}")
        return result
    # Step 18-19 — drop empty / index-only / free-floating values
    if not result:
        return None
    if set(result.keys()) == {"@language"}:
        return None
    if active_property is None or active_property == "@graph":
        if set(result.keys()) <= {"@value", "@list"}:
            return None
        if set(result.keys()) == {"@id"}:
            return None
    return result


# ==========================================================================
# Value Expansion (§5.3)
# ==========================================================================

def _expand_value(
    active_context: Context,
    active_property: str,
    value: Any,
    processor: ProcessorOptions,
    base: str,
) -> dict[str, Any]:
    from .model import MISSING

    td = active_context.term_definition(active_property)
    ty = td.ty if td is not None else None
    if ty == "@id" and isinstance(value, str):
        expanded = expand_iri(processor, active_context, value, document_relative=True)
        return {"@id": expanded}
    if ty == "@vocab" and isinstance(value, str):
        expanded = expand_iri(
            processor, active_context, value, vocab=True, document_relative=True
        )
        return {"@id": expanded}
    result: dict[str, Any] = {"@value": value}
    if ty == "@json":
        result["@type"] = "@json"
    elif ty is not None and ty not in ("@id", "@vocab", "@none"):
        result["@type"] = ty
    elif isinstance(value, str):
        language = (
            td.language
            if td is not None and td.language is not MISSING
            else active_context.default_language
        )
        direction = (
            td.direction
            if td is not None and td.direction is not MISSING
            else active_context.default_base_direction
        )
        if language is not None:
            result["@language"] = language
        if direction is not None:
            result["@direction"] = direction
    return result


# ==========================================================================
# Expanded form → RDF-style triples (§8, deserialization)
# ==========================================================================

class _BNodes:
    """Deterministic per-document blank-node allocator (_:b0, _:b1, ...)."""

    def __init__(self) -> None:
        self.counter = 0
        self.mapping: dict[str, str] = {}

    def fresh(self) -> str:
        label = f"_:b{self.counter}"
        self.counter += 1
        return label

    def relabel(self, ident: str) -> str:
        if ident not in self.mapping:
            self.mapping[ident] = self.fresh()
        return self.mapping[ident]


def expanded_to_triples(expanded: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Walk expanded JSON-LD and emit triples.

    Blank-node identifiers are relabelled deterministically in first-seen
    order so outputs are stable across runs (idempotent-resume requirement).
    """
    bnodes = _BNodes()
    triples: list[dict[str, Any]] = []
    for node in expanded:
        _node_to_triples(node, None, bnodes, triples)
    return triples


def _triple(subj, pred, kind, value, ty=None, lang=None, direction=None, graph=None):
    return {
        "subj": subj,
        "pred": pred,
        "obj_kind": kind,
        "obj_value": value,
        "obj_type": ty,
        "obj_lang": lang,
        "obj_direction": direction,
        "graph": graph,
    }


def _node_id(node: Mapping[str, Any], bnodes: _BNodes) -> str:
    nid = node.get("@id")
    if nid is None:
        return bnodes.fresh()
    if nid.startswith("_:"):
        return bnodes.relabel(nid)
    return nid


def _literal_parts(value_object: Mapping[str, Any]) -> tuple[str, Optional[str], Optional[str], Optional[str]]:
    """(lexical form, datatype, language, direction) for a value object."""
    value = value_object.get("@value")
    ty = value_object.get("@type")
    lang = value_object.get("@language")
    direction = value_object.get("@direction")
    if ty == "@json":
        return (
            json.dumps(value, sort_keys=True, separators=(",", ":")),
            RDF_JSON, None, None,
        )
    if isinstance(value, bool):
        return ("true" if value else "false", ty or XSD_BOOLEAN, None, None)
    if isinstance(value, (int, float)):
        # JSON-LD 1.1 toRdf: a number with a fractional part, of magnitude
        # >= 1e21 or typed xsd:double is an xsd:double, any other number
        # an xsd:integer (5.0 → "5")
        if (ty == XSD_DOUBLE or abs(value) >= 1e21
                or not float(value).is_integer()):
            return (_canonical_double(value), ty or XSD_DOUBLE, None, None)
        return (str(int(value)), ty or XSD_INTEGER, None, None)
    if lang is not None:
        return (str(value), None, lang, direction)
    return (str(value), ty or XSD_STRING, None, direction)


def _canonical_double(value: float | int) -> str:
    """The canonical xsd:double form: the shortest mantissa that round-trips,
    one digit before the point, an exponent without "+" or leading zeros
    (1.5 → "1.5E0", 1e21 → "1.0E21"); past the double range, ±INF."""
    try:
        value = float(value)
    except OverflowError:  # an integer past the double range
        value = math.inf if value > 0 else -math.inf
    if not math.isfinite(value):
        return "NaN" if math.isnan(value) else "INF" if value > 0 else "-INF"
    mantissa, _, exp = f"{Decimal(repr(value)).normalize():E}".partition("E")
    if "." not in mantissa:
        mantissa += ".0"
    return f"{mantissa}E{int(exp)}"


def _emit_object(
    obj: Any, bnodes: _BNodes, triples: list, graph: Optional[str]
) -> tuple[str, str, Optional[str], Optional[str], Optional[str]]:
    """Returns (kind, value, type, lang, direction) after recursing."""
    if isinstance(obj, Mapping) and "@value" in obj:
        lexical, ty, lang, direction = _literal_parts(obj)
        return ("literal", lexical, ty, lang, direction)
    if isinstance(obj, Mapping) and "@list" in obj:
        head = _list_to_triples(obj["@list"], bnodes, triples, graph)
        kind = "bnode" if head.startswith("_:") else "iri"
        return (kind, head, None, None, None)
    if isinstance(obj, Mapping):
        oid = _node_id(obj, bnodes)
        _node_to_triples(obj, graph, bnodes, triples, known_id=oid)
        return ("bnode" if oid.startswith("_:") else "iri", oid, None, None, None)
    # Bare IRI string (shouldn't occur in well-formed expanded output)
    return ("iri", str(obj), None, None, None)


def _list_to_triples(
    items: list, bnodes: _BNodes, triples: list, graph: Optional[str]
) -> str:
    if not items:
        return RDF_NIL
    labels = [bnodes.fresh() for _ in items]
    for i, item in enumerate(items):
        kind, value, ty, lang, direction = _emit_object(item, bnodes, triples, graph)
        triples.append(
            _triple(labels[i], RDF_FIRST, kind, value, ty, lang, direction, graph)
        )
        rest = labels[i + 1] if i + 1 < len(items) else RDF_NIL
        rest_kind = "bnode" if rest.startswith("_:") else "iri"
        triples.append(_triple(labels[i], RDF_REST, rest_kind, rest, graph=graph))
    return labels[0]


def _node_to_triples(
    node: Any,
    graph: Optional[str],
    bnodes: _BNodes,
    triples: list,
    known_id: Optional[str] = None,
) -> None:
    if not isinstance(node, Mapping):
        return
    if "@value" in node or "@list" in node:
        return  # free-floating values don't emit triples
    subj = known_id if known_id is not None else _node_id(node, bnodes)
    for key in node:
        if key in ("@id", "@context", "@index"):
            continue
        if key == "@type":
            for t in node["@type"]:
                tv = bnodes.relabel(t) if t.startswith("_:") else t
                kind = "bnode" if tv.startswith("_:") else "iri"
                triples.append(_triple(subj, RDF_TYPE, kind, tv, graph=graph))
            continue
        if key == "@graph":
            for inner in node["@graph"]:
                _node_to_triples(inner, subj, bnodes, triples)
            continue
        if key == "@included":
            for inner in node["@included"]:
                _node_to_triples(inner, graph, bnodes, triples)
            continue
        if key == "@reverse":
            for pred, objs in node["@reverse"].items():
                for obj in objs:
                    oid = _node_id(obj, bnodes) if isinstance(obj, Mapping) else str(obj)
                    _node_to_triples(obj, graph, bnodes, triples, known_id=oid)
                    kind = "bnode" if subj.startswith("_:") else "iri"
                    triples.append(
                        _triple(oid, pred, kind, subj, graph=graph)
                    )
            continue
        if key.startswith("@"):
            continue
        for obj in node[key]:
            kind, value, ty, lang, direction = _emit_object(
                obj, bnodes, triples, graph
            )
            triples.append(
                _triple(subj, key, kind, value, ty, lang, direction, graph)
            )
