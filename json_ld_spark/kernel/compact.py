"""IRI / value / document compaction (WD-json-ld11-api-20191112 §6).

The reference implements no compaction (src/remote/profile.rs only names the
``compacted`` profile for content negotiation); this module completes the
expansion→compaction round-trip mandated by BASELINE.json's north_star,
following the same WD the reference cites, reusing the reference-parity
context model.

Term selection is the WD's full machinery: Inverse Context Creation (§6.2 —
container key → type/language → term buckets, including language+direction
combinations and ``@reverse`` entries) and IRI Compaction (§6.3 — container
preference lists, type/language preferred values with the ``_dir``
direction-only fallback, ``@reverse`` term preference, vocab-relative
suffix before compact-IRI candidates, shortest-candidate CURIE choice).

Property arrays compact with the WD's per-item term selection (§6.1):
items group by the term each one selects, so a mixed-language array fans
out across the context's language-bucket terms.

Document-relative (vocab=False) compaction implements §6.3 step 8: IRIs
relativize against the context base via ``kernel/iri.relativize_iri``,
whose every candidate is self-verified by resolving it back (lossy
references are structurally impossible). The JSON-LD API's
``compactToRelative`` option (default true) is honored by
``compact_document``; the KG pipeline passes ``False`` — a spec-conformant
publishing choice keeping subject/object IRIs absolute so consumers need
no base.
"""

from __future__ import annotations

from typing import Any, Mapping, Optional

from .iri import relativize_iri
from .model import MISSING, Context, TermDefinition, is_keyword


# ------------------------------------------------ §6.2 inverse context

def create_inverse_context(
    ctx: Context,
) -> dict[str, dict[str, dict[str, dict[str, str]]]]:
    """iri → container key → {"@language"|"@type"|"@any" → value → term}.

    Terms are visited shortest-first (ties lexicographic) and every bucket
    keeps the FIRST term assigned — the WD's least-term-wins rule.
    """
    inv: dict[str, dict[str, dict[str, dict[str, str]]]] = {}
    default_lang = (ctx.default_language or "@none").lower()
    for term in sorted(ctx.term_definitions, key=lambda t: (len(t), t)):
        td = ctx.term_definitions[term]
        if td is None:
            continue
        container_key = (
            "".join(sorted(td.container)) if td.container else "@none"
        )
        maps = inv.setdefault(td.iri, {}).setdefault(
            container_key, {"@language": {}, "@type": {}, "@any": {}}
        )
        maps["@any"].setdefault("@none", term)
        if td.reverse:
            maps["@type"].setdefault("@reverse", term)
        elif td.ty == "@none":
            maps["@language"].setdefault("@any", term)
            maps["@type"].setdefault("@any", term)
        elif td.ty is not None:
            maps["@type"].setdefault(td.ty, term)
        elif td.language is not MISSING and td.direction is not MISSING:
            if td.language is not None and td.direction is not None:
                key = f"{td.language.lower()}_{td.direction.lower()}"
            elif td.language is not None:
                key = td.language.lower()
            elif td.direction is not None:
                key = f"_{td.direction.lower()}"
            else:
                key = "@null"
            maps["@language"].setdefault(key, term)
        elif td.language is not MISSING:
            key = td.language.lower() if td.language is not None else "@null"
            maps["@language"].setdefault(key, term)
        elif td.direction is not MISSING:
            key = (
                f"_{td.direction.lower()}" if td.direction is not None
                else "@none"
            )
            maps["@language"].setdefault(key, term)
        elif ctx.default_base_direction is not None:
            key = (
                f"{(ctx.default_language or '').lower()}"
                f"_{ctx.default_base_direction.lower()}"
            )
            maps["@language"].setdefault(key, term)
            maps["@language"].setdefault("@none", term)
            maps["@type"].setdefault("@none", term)
        else:
            maps["@language"].setdefault(default_lang, term)
            maps["@language"].setdefault("@none", term)
            maps["@type"].setdefault("@none", term)
    return inv


def select_term(
    inverse: Mapping[str, Any],
    iri: str,
    containers: list[str],
    type_language: str,
    preferred: list[str],
) -> Optional[str]:
    """WD Term Selection: first container with an entry, first preferred
    value present in its type/language map wins."""
    entry = inverse.get(iri)
    if not entry:
        return None
    for container in containers:
        maps = entry.get(container)
        if maps is None:
            continue
        value_map = maps[type_language]
        for item in preferred:
            if item in value_map:
                return value_map[item]
    return None


# ------------------------------------------------ §6.3 IRI compaction

def compact_iri(
    ctx: Context,
    iri: Optional[str],
    *,
    value: Optional[Mapping[str, Any]] = None,
    vocab: bool = False,
    reverse: bool = False,
    inverse: Optional[dict] = None,
) -> Optional[str]:
    """Compact an IRI against the context (§6.3)."""
    if iri is None:
        return None
    if inverse is None:
        inverse = create_inverse_context(ctx)
    if is_keyword(iri) and iri not in inverse:
        return iri
    if vocab and iri in inverse:
        term = _select_for_value(ctx, iri, value, reverse, inverse)
        if term is not None:
            return term
    # step 5: vocab-relative suffix (before CURIE candidates, per the WD)
    if vocab and ctx.vocab is not None:
        if iri.startswith(ctx.vocab) and len(iri) > len(ctx.vocab):
            suffix = iri[len(ctx.vocab):]
            if suffix not in ctx.term_definitions:
                return suffix
    # step 6: compact-IRI candidates — shortest candidate, ties lexicographic
    best: Optional[str] = None
    for term, td in ctx.term_definitions.items():
        if td is None or ":" in term or not td.is_prefix or td.iri == iri:
            continue
        ns = td.iri
        if not (iri.startswith(ns) and len(iri) > len(ns)):
            continue
        candidate = f"{term}:{iri[len(ns):]}"
        if best is not None and (len(candidate), candidate) >= (len(best), best):
            continue
        colliding = ctx.term_definitions.get(candidate)
        if candidate not in ctx.term_definitions or (
            value is None and colliding is not None and colliding.iri == iri
        ):
            best = candidate
    if best is not None:
        return best
    # step 8: document-relative mode relativizes against the base when one
    # is set (compactToRelative realized by callers stripping the base —
    # see compact_document); relativize_iri self-verifies every candidate
    # by resolving it back, so this can never emit a lossy reference.
    if not vocab and ctx.base:
        return relativize_iri(iri, ctx.base)
    return iri


def _select_for_value(
    ctx: Context,
    iri: str,
    value: Optional[Mapping[str, Any]],
    reverse: bool,
    inverse: dict,
) -> Optional[str]:
    """§6.3 step 4: build container preferences + type/language preferred
    values from the value's shape, then run Term Selection."""
    is_map = isinstance(value, Mapping)
    containers: list[str] = []
    type_language = "@language"
    type_language_value = "@null"
    if is_map and "@index" in value and "@graph" not in value:
        containers += ["@index", "@index@set"]
    if reverse:
        type_language = "@type"
        type_language_value = "@reverse"
        containers.append("@set")
    elif is_map and "@list" in value:
        if "@index" not in value:
            containers.append("@list")
        lst = value["@list"]
        common_language: Optional[str] = (
            _default_language_key(ctx) if not lst else None
        )
        common_type: Optional[str] = None
        for item in lst:
            item_language, item_type = "@none", "@none"
            if isinstance(item, Mapping) and "@value" in item:
                if "@direction" in item:
                    item_language = (
                        f"{(item.get('@language') or '').lower()}"
                        f"_{item['@direction'].lower()}"
                    )
                elif "@language" in item:
                    item_language = item["@language"].lower()
                elif "@type" in item:
                    item_type = item["@type"]
                else:
                    item_language = "@null"
            else:
                item_type = "@id"
            common_language = (
                item_language if common_language is None
                else (common_language if common_language == item_language
                      else "@none")
            )
            common_type = (
                item_type if common_type is None
                else (common_type if common_type == item_type else "@none")
            )
            if common_language == "@none" and common_type == "@none":
                break
        common_language = common_language or "@none"
        common_type = common_type or "@none"
        if common_type != "@none":
            type_language = "@type"
            type_language_value = common_type
        else:
            type_language_value = common_language
    elif is_map and "@graph" in value:
        if "@index" in value:
            containers += ["@graph@index", "@graph@index@set"]
        if "@id" in value:
            containers += ["@graph@id", "@graph@id@set"]
        containers += ["@graph", "@graph@set", "@set"]
        if "@index" not in value:
            containers += ["@graph@index", "@graph@index@set"]
        if "@id" not in value:
            containers += ["@graph@id", "@graph@id@set"]
        containers += ["@index", "@index@set"]
        type_language = "@type"
        type_language_value = "@id"
    else:
        if is_map and "@value" in value:
            if "@direction" in value and "@index" not in value:
                type_language_value = (
                    f"{(value.get('@language') or '').lower()}"
                    f"_{value['@direction'].lower()}"
                )
                containers += ["@language", "@language@set"]
            elif "@language" in value and "@index" not in value:
                type_language_value = value["@language"].lower()
                containers += ["@language", "@language@set"]
            elif "@type" in value:
                type_language = "@type"
                type_language_value = value["@type"]
        else:
            type_language = "@type"
            type_language_value = "@id"
            containers += ["@id", "@id@set", "@type", "@set@type"]
        containers.append("@set")
    containers.append("@none")
    if not is_map or "@index" not in value:
        containers += ["@index", "@index@set"]
    if is_map and set(value.keys()) == {"@value"}:
        containers += ["@language", "@language@set"]

    preferred: list[str] = []
    if type_language_value == "@reverse":
        preferred.append("@reverse")
    if type_language_value in ("@id", "@reverse") and is_map and "@id" in value:
        compacted_ref = compact_iri(
            ctx, value["@id"], vocab=True, inverse=inverse
        )
        ref_td = ctx.term_definitions.get(compacted_ref)
        if ref_td is not None and ref_td.iri == value["@id"]:
            preferred += ["@vocab", "@id", "@none"]
        else:
            preferred += ["@id", "@vocab", "@none"]
    else:
        preferred += [type_language_value, "@none"]
        if is_map and value.get("@list") == []:
            type_language = "@any"
    preferred.append("@any")
    # direction-only fallback: "en_ltr" also tries "_ltr"
    for item in list(preferred):
        idx = item.find("_")
        if idx > 0:
            preferred.append(item[idx:])
    return select_term(inverse, iri, containers, type_language, preferred)


def _default_language_key(ctx: Context) -> str:
    if ctx.default_base_direction is not None:
        return (
            f"{(ctx.default_language or '').lower()}"
            f"_{ctx.default_base_direction.lower()}"
        )
    return (ctx.default_language or "@none").lower()


# ------------------------------------------------ §6.2 value compaction

def _lang_eq(a: Optional[str], b: Optional[str]) -> bool:
    """BCP-47 tags compare case-insensitively."""
    if a is None or b is None:
        return a is b
    return a.lower() == b.lower()


def compact_value(
    ctx: Context, td: Optional[TermDefinition], value: Mapping[str, Any],
    inverse: Optional[dict] = None,
) -> Any:
    """Compact a value object to a scalar when lossless (§6.2)."""
    keys = set(value.keys()) - {"@index"}
    if "@id" in value and keys == {"@id"}:
        compacted_ref = compact_iri(
            ctx, value["@id"],
            vocab=(td is not None and td.ty == "@vocab"), inverse=inverse,
        )
        if "@index" in value:
            # a node reference keeps its @index (only the @index-container
            # map path may absorb it, and that strips it before recursing
            # here) — the scalar form would silently drop data
            return {"@id": compacted_ref, "@index": value["@index"]}
        if td is not None and td.ty in ("@id", "@vocab"):
            return compacted_ref
        return {"@id": compacted_ref}
    if "@value" not in value:
        return dict(value)
    v = value["@value"]
    ty = value.get("@type")
    lang = value.get("@language")
    direction = value.get("@direction")
    if "@index" in value:
        # a retained @index can only live on the object form (the
        # @index-container map path strips it before recursing here)
        return _value_object_form(ctx, value, inverse)
    # effective language/direction the term re-adds on expansion: the term's
    # own mapping when present, else the context default
    eff_lang = (
        td.language if td is not None and td.language is not MISSING
        else ctx.default_language
    )
    eff_dir = (
        td.direction if td is not None and td.direction is not MISSING
        else ctx.default_base_direction
    )
    if td is not None and ty is not None and td.ty == ty and direction is None:
        return v
    if ty is None and isinstance(v, str):
        # a string re-acquires eff_lang/eff_dir on expansion: scalar form is
        # lossless iff both match the value's own tags
        if _lang_eq(lang, eff_lang) and _lang_eq(direction, eff_dir):
            if td is None or td.ty is None:
                return v
    if ty is None and lang is None and direction is None and not isinstance(v, str):
        # non-strings never carry language; scalar iff no type coercion fires
        if td is None or td.ty is None:
            return v
    return _value_object_form(ctx, value, inverse)


def _value_object_form(
    ctx: Context, value: Mapping[str, Any], inverse: Optional[dict]
) -> dict[str, Any]:
    out: dict[str, Any] = {"@value": value["@value"]}
    if value.get("@type") is not None:
        out["@type"] = compact_iri(
            ctx, value["@type"], vocab=True, inverse=inverse
        )
    for k in ("@language", "@direction", "@index"):
        if value.get(k) is not None:
            out[k] = value[k]
    return out


def normalize_expanded(element: Any, in_list: bool = False) -> Any:
    """Order-normal form of expanded JSON-LD for equality checks: property
    arrays (and @type arrays) are unordered sets in the data model, so
    they sort by canonical JSON; @list arrays keep their order. Two
    expanded documents are roundtrip-equal iff their normal forms are
    equal — strict == would report false fixpoint failures whenever
    per-item term selection regroups a heterogeneous array (lossless but
    reordered)."""
    import json as _json

    if isinstance(element, list):
        items = [normalize_expanded(v) for v in element]
        if in_list:
            return items
        return sorted(
            items, key=lambda x: _json.dumps(x, sort_keys=True, default=str)
        )
    if isinstance(element, Mapping):
        return {
            k: normalize_expanded(v, in_list=(k == "@list"))
            for k, v in element.items()
        }
    return element


# ------------------------------------------------ §6.1 document compaction

def compact_document(
    ctx: Context, expanded: Any, *, compact_to_relative: bool = True
) -> Any:
    """Compact expanded JSON-LD output against ``ctx`` (§6.1).

    ``compact_to_relative`` is the JSON-LD API option of the same name
    (default true per the WD): document-relative IRIs relativize against
    the context's base. ``False`` keeps them absolute — realized by
    compacting against a base-stripped context, the only place compaction
    reads ``ctx.base`` (§6.3 step 8)."""
    if not compact_to_relative and ctx.base:
        from dataclasses import replace

        ctx = replace(ctx, base=None)
    inverse = create_inverse_context(ctx)
    return _compact(ctx, None, expanded, inverse)


def _compact(ctx: Context, active_property: Optional[str], element: Any, inverse) -> Any:
    if isinstance(element, list):
        out = [_compact(ctx, active_property, item, inverse) for item in element]
        td_ap = _td(ctx, active_property) if active_property else None
        # a list-container term's expanded value is [{"@list": [...]}]; the
        # @list branch below unwraps the inner array, so collapse the
        # now-redundant outer singleton too (§6.1 step for list containers)
        if (
            td_ap is not None
            and td_ap.container_contains("@list")
            and len(out) == 1
            and isinstance(out[0], list)
        ):
            return out[0]
        if len(out) == 1 and (td_ap is None or not td_ap.container):
            return out[0]
        return out
    if not isinstance(element, Mapping):
        return element
    td = _td(ctx, active_property) if active_property else None
    if "@value" in element or (
        "@id" in element and set(element.keys()) <= {"@id", "@index"}
    ):
        return compact_value(ctx, td, element, inverse=inverse)
    result: dict[str, Any] = {}
    for key in sorted(element.keys()):
        value = element[key]
        if key == "@id":
            result["@id"] = compact_iri(ctx, value, inverse=inverse)
        elif key == "@type":
            types = [compact_iri(ctx, t, vocab=True, inverse=inverse) for t in value]
            result["@type"] = types[0] if len(types) == 1 else types
        elif key == "@list":
            lst = [_compact(ctx, active_property, v, inverse) for v in value]
            if td is not None and td.container_contains("@list"):
                return lst
            result["@list"] = lst
        elif key == "@reverse":
            _compact_reverse(ctx, value, inverse, result)
        elif key == "@graph":
            result["@graph"] = [
                _compact(ctx, None, v, inverse) for v in value
            ]
        elif key.startswith("@"):
            result[key] = value
        else:
            # §6.1 per-item term selection: each expanded item may select a
            # different term (language/type buckets); items group by the
            # term they selected and each group compacts under its term
            items = value if isinstance(value, list) else [value]
            groups: dict[str, list] = {}
            for item in items:
                cp = compact_iri(
                    ctx, key, vocab=True, inverse=inverse,
                    value=item if isinstance(item, Mapping) else None,
                )
                groups.setdefault(cp, []).append(item)
            for cp, group in groups.items():
                td_p = _td(ctx, cp)
                if (
                    td_p is not None
                    and td_p.container
                    and td_p.container & frozenset(("@language", "@index", "@id"))
                ):
                    mapped = _compact_container_map(ctx, cp, td_p, group, inverse)
                    if mapped is not None:
                        _merge_entry(result, cp, mapped)
                        continue
                _merge_entry(result, cp, _compact(ctx, cp, group, inverse))
    return result


def _merge_entry(result: dict, term: str, compacted: Any) -> None:
    """Merge a compacted group under ``term``; a rare collision (two groups
    landing on one term) degrades to array union, which re-expands to the
    same item set."""
    if term not in result:
        result[term] = compacted
        return
    prev = result[term]
    prev = prev if isinstance(prev, list) else [prev]
    add = compacted if isinstance(compacted, list) else [compacted]
    result[term] = prev + add


def _compact_reverse(ctx: Context, rev_value: Mapping, inverse, result: dict) -> None:
    """§6.1 @reverse handling: each property compacts with reverse
    preference; properties that land on a ``@reverse`` term hoist out of the
    @reverse map onto the node itself (the term carries the inversion)."""
    remaining: dict[str, Any] = {}
    for p, items in sorted(rev_value.items()):
        cp = compact_iri(ctx, p, vocab=True, reverse=True, inverse=inverse)
        td_r = _td(ctx, cp)
        compacted = _compact(ctx, cp, items, inverse)
        if td_r is not None and td_r.reverse:
            _merge_entry(result, cp, compacted)
        else:
            remaining[cp] = compacted
    if remaining:
        result["@reverse"] = remaining


def _compact_container_map(
    ctx: Context, term: str, td: TermDefinition, values: list, inverse
) -> Optional[dict]:
    """§6.1 container-map compaction for @language / @index / @id
    containers: the expanded array reshapes into a map keyed by language
    tag / index / compacted id (missing key → "@none"). Returns None when
    any item doesn't fit the map shape losslessly — the caller then falls
    back to plain array compaction, so this is always semantics-preserving
    (expansion of the map form reproduces the original expanded array;
    pinned by the roundtrip tests)."""
    out: dict[str, list] = {}
    for item in values:
        if not isinstance(item, Mapping):
            return None
        if td.container_contains("@language"):
            # language-map values must be strings (a non-string would fail
            # re-expansion: 'invalid language map value') — fall back
            if (
                "@value" not in item
                or not set(item) <= {"@value", "@language"}
                or not isinstance(item["@value"], str)
            ):
                return None
            key = item.get("@language", "@none")
            v: Any = item["@value"]
        elif td.container_contains("@index"):
            if "@value" in item and "@index" not in item:
                return None  # would lose the no-index distinction
            key = item.get("@index", "@none")
            rest = {k: x for k, x in item.items() if k != "@index"}
            v = _compact(ctx, term, rest, inverse)
        else:  # @id container
            if "@value" in item or "@id" not in item:
                return None
            key = compact_iri(ctx, item["@id"], inverse=inverse)
            rest = {k: x for k, x in item.items() if k != "@id"}
            if not rest:
                return None  # bare reference: the array form is shorter
            v = _compact(ctx, term, rest, inverse)
        out.setdefault(key, []).append(v)
    return {k: (vs[0] if len(vs) == 1 else vs) for k, vs in out.items()}


def _td(ctx: Context, term: Optional[str]) -> Optional[TermDefinition]:
    return ctx.term_definition(term) if term else None
