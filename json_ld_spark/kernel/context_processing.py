"""Context Processing, Create Term Definition, and IRI Expansion.

Pure-Python re-implementation of the three W3C JSON-LD 1.1 API algorithms
(WD-json-ld11-api-20191112 §4.1, §4.2, §4.3) that form the reference's entire
algorithmic surface:

- Context Processing  — reference src/context/merge.rs:122-199 + merge/ctx_def.rs:28-81
- Create Term Definition — src/context/create_term_def.rs:94-237 (+ reverse.rs,
  non_reverse.rs)
- IRI Expansion — src/expand/iri.rs:234-331

These three are mutually recursive (ctx↔term↔IRI), guarded by the ``defined``
map exactly as the reference does (src/context/create_term_def.rs:104-119).

Spark placement: this module is Spark-free and pure. Contexts are compiled
once on the driver and broadcast; inside ``mapInPandas`` kernels only the
*constant*-context expansion path runs per value (SURVEY.md §3.3).

Documented divergences from the reference (quirks; see SURVEY.md §2.1):
- R1/R2: the reference panics on any remote-context IRI
  (src/processor.rs:95-97 is ``unimplemented!``). We support a
  dictionary-backed loader (no network I/O); parity is defined on inline
  contexts.
- R3: the reference's @propagate *validation* reads the "@direction" key
  (src/context/merge/ctx_def.rs:367). We replicate the lenient read of
  @propagate (merge.rs:139-143) and skip the miswired validation.
- R4: 1-char terms panic in the reference (non_reverse.rs:197 slices
  ``term[1..len-1]``); we implement the spec intent with safe slicing.
- R7: for ``"term": null`` the reference inserts the null tombstone then
  falls through and panics in ``DefinitionBuilder::build`` (builder.rs:54,
  reached from non_reverse.rs:93). We stop after inserting the tombstone,
  which is the spec behavior the reference's own expansion relies on
  (src/expand/iri.rs:261-272, W3C t0032).
- R8: the reference's step-28 unknown-key check (non_reverse.rs:82-91) omits
  the spec-listed @direction/@index/@protected. We allow the full spec list.
- Key order: serde_json without ``preserve_order`` iterates maps in sorted
  key order; we process context keys in ``sorted()`` order for parity.
"""

from __future__ import annotations

from typing import Any, Mapping, Optional, Union

from .errors import ErrorCode, JsonLdError
from .iri import (
    has_form_of_keyword,
    is_absolute_iri_ref,
    is_absolute_ref_or_blank_node,
    is_compact_iri,
    is_gen_delims,
    looks_like_iri,
    looks_like_iri_reference,
    resolve_iri,
    split_prefix,
)
from .model import (
    MISSING,
    Context,
    DefinitionBuilder,
    ProcessorOptions,
    TermDefinition,
    is_keyword,
    parse_container,
    parse_direction,
)

# Cap on remote-context recursion depth; the reference leaves the limit
# unimplemented (R1). 32 is far beyond any real context chain.
MAX_REMOTE_CONTEXTS = 32

# Context-definition control keywords skipped by the term loop
# (reference: src/context/merge/ctx_def.rs:71-78).
_CTXDEF_CONTROL_KEYS = frozenset(
    {"@base", "@direction", "@import", "@language", "@propagate", "@protected",
     "@version", "@vocab"}
)

# Step-28 allowed term-definition keys: spec list (quirk R8 — the reference
# omits @direction/@index/@protected at non_reverse.rs:82-91).
_TERMDEF_ALLOWED_KEYS = frozenset(
    {"@id", "@reverse", "@container", "@context", "@direction", "@index",
     "@language", "@nest", "@prefix", "@protected", "@type"}
)


# ==========================================================================
# Context Processing Algorithm (§4.1)
# ==========================================================================

def process_context(
    processor: ProcessorOptions,
    active_context: Context,
    local_context: Any,
    base: str,
    *,
    remote_contexts: frozenset[str] = frozenset(),
    override_protected: bool = False,
    propagate: bool = True,
) -> Context:
    """Fold ``local_context`` (null / IRI string / array / map) into a copy of
    ``active_context``. ``base`` is the base IRI of the document that
    *contains* the local context (ValueWithBase, src/context.rs:200-244).

    Parity: src/context/merge.rs:122-199.
    """
    # Step 1
    result = active_context.clone()
    # Step 2 — lenient @propagate read (merge.rs:139-143; R3)
    if isinstance(local_context, Mapping):
        p = local_context.get("@propagate")
        if isinstance(p, bool):
            propagate = p
    # Step 3
    if not propagate and result.has_previous_context():
        result.previous_context = active_context.clone()
    # Step 4 — array coercion (src/json.rs:20-25)
    contexts = local_context if isinstance(local_context, list) else [local_context]
    # Step 5
    for context in contexts:
        if context is None:
            # Step 5.1 (merge.rs:202-221)
            if not override_protected and active_context.has_protected_term_definition():
                raise JsonLdError(ErrorCode.INVALID_CONTEXT_NULLIFICATION)
            previous = result
            result = Context()
            if not propagate:
                result.previous_context = previous
        elif isinstance(context, str):
            # Step 5.2 (merge.rs:225-292) — dictionary-backed remote deref.
            result = _process_remote_context(
                processor, result, context, base,
                remote_contexts, override_protected, propagate,
            )
        elif isinstance(context, Mapping):
            # Step 5.4-5.13
            result = _process_context_definition(
                processor, active_context, result, context, base,
                remote_contexts, propagate,
            )
        else:
            # Step 5.3
            raise JsonLdError(
                ErrorCode.INVALID_LOCAL_CONTEXT, f"local context = {context!r}"
            )
    # Step 6
    return result


def _process_remote_context(
    processor: ProcessorOptions,
    result: Context,
    context_ref: str,
    base: str,
    remote_contexts: frozenset[str],
    override_protected: bool,
    propagate: bool,
) -> Context:
    """Dereference a context IRI against the broadcast context dictionary.

    The reference's remote path is unreachable without panicking (R1/R2);
    this is the engine's offline equivalent: the pre-fetched ``contexts``
    table replaces ``LoadRemoteDocument`` (src/remote.rs:21-44), satisfying
    the MUST-NOT-re-dereference caching contract trivially (remote.rs:29-38).
    """
    # Step 5.2.1 — resolve against the containing document's base
    if not looks_like_iri_reference(context_ref):
        raise JsonLdError(
            ErrorCode.UNCATEGORIZED, f"expected IRI reference, got {context_ref!r}"
        )
    context_iri = resolve_iri(context_ref, base)
    # Step 5.2.2 — overflow / cycle detection
    if context_iri in remote_contexts or len(remote_contexts) >= MAX_REMOTE_CONTEXTS:
        raise JsonLdError(ErrorCode.CONTEXT_OVERFLOW, context_iri)
    remote_contexts = remote_contexts | {context_iri}
    # Step 5.2.3-5.2.5 — dictionary lookup (the dict is the cache)
    loader = processor.context_loader
    doc = loader.get(context_iri) if loader is not None else None
    if doc is None:
        raise JsonLdError(ErrorCode.LOADING_REMOTE_CONTEXT_FAILED, context_iri)
    if not isinstance(doc, Mapping) or "@context" not in doc:
        raise JsonLdError(ErrorCode.INVALID_REMOTE_CONTEXT, context_iri)
    # Step 5.2.6 — recurse with the remote document's IRI as the new base
    return process_context(
        processor, result, doc["@context"], context_iri,
        remote_contexts=remote_contexts,
        override_protected=override_protected,
        propagate=propagate,
    )


def _process_context_definition(
    processor: ProcessorOptions,
    active_context: Context,
    result: Context,
    context: Mapping[str, Any],
    base: str,
    remote_contexts: frozenset[str],
    propagate: bool,
) -> Context:
    """Steps 5.4-5.13 (reference: src/context/merge/ctx_def.rs:28-81)."""
    # Step 5.5 — @version (ctx_def.rs:84-106)
    if "@version" in context:
        v = context["@version"]
        is_1_1 = (
            isinstance(v, (int, float)) and not isinstance(v, bool)
            and 1.09 <= float(v) <= 1.11
        )
        if not is_1_1:
            raise JsonLdError(ErrorCode.INVALID_VERSION_VALUE, f"@version={v!r}")
    # Step 5.6 — @import (ctx_def.rs:109-201); local keys win (R6)
    context = _process_import(processor, active_context, context, base)
    # Step 5.7 — @base, ignored inside remote contexts (ctx_def.rs:211; R6)
    if "@base" in context and not remote_contexts:
        result.base = _parse_ctxdef_base(result, context["@base"])
    # Step 5.8 — @vocab (ctx_def.rs:262-303)
    if "@vocab" in context:
        v = context["@vocab"]
        if v is None:
            result.vocab = None
        elif isinstance(v, str):
            if v.startswith("_:") or looks_like_iri(v):
                result.vocab = expand_iri(
                    processor, result, v, vocab=True, document_relative=True
                )
            else:
                raise JsonLdError(
                    ErrorCode.INVALID_VOCAB_MAPPING,
                    f"expected blank node identifier or IRI, got {v!r}",
                )
        else:
            raise JsonLdError(ErrorCode.INVALID_VOCAB_MAPPING, f"@vocab={v!r}")
    # Step 5.9 — @language, stored verbatim, never lowercased
    # (ctx_def.rs:306-331; R5)
    if "@language" in context:
        v = context["@language"]
        if v is None:
            result.default_language = None
        elif isinstance(v, str):
            result.default_language = v
        else:
            raise JsonLdError(ErrorCode.INVALID_DEFAULT_LANGUAGE, f"@language={v!r}")
    # Step 5.10 — @direction (ctx_def.rs:334-356)
    if "@direction" in context:
        result.default_base_direction = parse_direction(context["@direction"])
    # Step 5.11 — @propagate validation is miswired in the reference (R3):
    # intentionally no validation here; the lenient read happened in step 2.
    # Step 5.12, 5.13
    defined: dict[str, bool] = {}
    protected_flag = context.get("@protected")
    if protected_flag is not None and not isinstance(protected_flag, bool):
        raise JsonLdError(
            ErrorCode.UNCATEGORIZED,
            f"expected boolean as @protected, got {protected_flag!r}",
        )
    # serde_json iterates maps in sorted key order — match it.
    for key in sorted(context.keys()):
        if key in _CTXDEF_CONTROL_KEYS:
            continue
        create_term_definition(
            processor, result, context, base, key, defined,
            protected=bool(protected_flag) if protected_flag is not None else False,
            override_protected=False,
            propagate=propagate,
        )
    return result


def _process_import(
    processor: ProcessorOptions,
    active_context: Context,
    context: Mapping[str, Any],
    base: str,
) -> Mapping[str, Any]:
    """@import merge: imported keys must NOT override local ones
    (reference: src/context/merge/ctx_def.rs:188-198; R6)."""
    if "@import" not in context:
        return context
    imp = context["@import"]
    if not isinstance(imp, str):
        raise JsonLdError(ErrorCode.INVALID_IMPORT_VALUE, f"@import={imp!r}")
    eff_base = processor.base(active_context)
    if eff_base is None:
        eff_base = base
    if not looks_like_iri_reference(imp):
        raise JsonLdError(ErrorCode.UNCATEGORIZED, f"@import={imp!r} not an IRI ref")
    import_iri = resolve_iri(imp, eff_base)
    loader = processor.context_loader
    doc = loader.get(import_iri) if loader is not None else None
    if doc is None:
        raise JsonLdError(ErrorCode.LOADING_REMOTE_CONTEXT_FAILED, import_iri)
    imported = doc.get("@context") if isinstance(doc, Mapping) else None
    if not isinstance(imported, Mapping):
        raise JsonLdError(ErrorCode.INVALID_REMOTE_CONTEXT, import_iri)
    if "@import" in imported:
        raise JsonLdError(ErrorCode.INVALID_CONTEXT_ENTRY, "nested @import")
    if not imported:
        return context
    merged = dict(imported)
    merged.update(context)  # local keys win
    return merged


def _parse_ctxdef_base(result: Context, value: Any) -> Optional[str]:
    """@base: null / absolute IRI / relative-resolved-against-current
    (reference: src/context/merge/ctx_def.rs:221-259)."""
    if value is None:
        return None
    if isinstance(value, str):
        if looks_like_iri(value):
            return value
        if looks_like_iri_reference(value):
            if result.base is not None:
                return resolve_iri(value, result.base)
            raise JsonLdError(
                ErrorCode.INVALID_BASE_IRI,
                f"relative @base {value!r} with no current base",
            )
        raise JsonLdError(ErrorCode.INVALID_BASE_IRI, f"@base={value!r}")
    raise JsonLdError(ErrorCode.INVALID_BASE_IRI, f"@base={value!r}")


# ==========================================================================
# Create Term Definition (§4.2)
# ==========================================================================

def create_term_definition(
    processor: ProcessorOptions,
    active_context: Context,
    local_context: Mapping[str, Any],
    base: str,
    term: str,
    defined: dict[str, bool],
    *,
    protected: bool = False,
    override_protected: bool = False,
    propagate: bool = True,
) -> None:
    """Parity: src/context/create_term_def.rs:94-237."""
    # Step 1, 2 — cycle detection via `defined`
    if term in defined:
        if defined[term]:
            return
        raise JsonLdError(ErrorCode.CYCLIC_IRI_MAPPING, f"term={term!r}")
    defined[term] = False
    # Step 3
    value = local_context[term]
    # Step 4 — `@type` may only be redefined as {"@container": "@set", [@protected]}
    if term == "@type":
        if not isinstance(value, Mapping):
            raise JsonLdError(ErrorCode.KEYWORD_REDEFINITION, f"@type={value!r}")
        if value.get("@container") != "@set":
            raise JsonLdError(
                ErrorCode.KEYWORD_REDEFINITION, "@type requires @container=@set"
            )
        for k in value:
            if k not in ("@container", "@protected"):
                raise JsonLdError(
                    ErrorCode.KEYWORD_REDEFINITION, f"unexpected {k!r} on @type"
                )
    # Step 5 — quirk R9: the reference checks `is_keyword(term)` *after* the
    # @type special-case (create_term_def.rs:169-172), so even a shape-valid
    # @type redefinition errors with `keyword redefinition`. Replicated.
    if is_keyword(term):
        raise JsonLdError(ErrorCode.KEYWORD_REDEFINITION, f"term={term!r}")
    if has_form_of_keyword(term):
        # Keyword-form non-keywords are dropped with a warning (spec §4.2
        # step 5). The reference leaves defined[term]=False here
        # (create_term_def.rs:173-176) — replicated.
        return
    # Step 6 — previous definition, explicit-null flattened to absent
    # (create_term_def.rs:179-181)
    prev_raw = active_context.remove_term_definition(term)
    previous_definition = prev_raw if isinstance(prev_raw, TermDefinition) else None
    # Step 7-9 — normalize value
    if value is None:
        value_map: Mapping[str, Any] = {"@id": None}
        simple_term = False
    elif isinstance(value, str):
        value_map = {"@id": value}
        simple_term = True
    elif isinstance(value, Mapping):
        value_map = value
        simple_term = False
    else:
        raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, f"value={value!r}")
    # Step 10
    builder = DefinitionBuilder()
    # Step 11, 12 — @protected (create_term_def.rs:240-274)
    tp = value_map.get("@protected", MISSING)
    if tp is True:
        builder.set(protected=True)
    elif tp is False:
        pass
    elif tp is MISSING:
        if protected:
            builder.set(protected=True)
    else:
        raise JsonLdError(ErrorCode.INVALID_PROTECTED_VALUE, f"@protected={tp!r}")
    # Step 13 — type mapping (create_term_def.rs:277-320)
    if "@type" in value_map:
        ty = value_map["@type"]
        if not isinstance(ty, str):
            raise JsonLdError(ErrorCode.INVALID_TYPE_MAPPING, f"@type={ty!r}")
        expanded_ty = expand_iri(
            processor, active_context, ty, vocab=True,
            local_context=local_context, base=base, defined=defined,
        )
        if expanded_ty is None:
            raise JsonLdError(ErrorCode.INVALID_TYPE_MAPPING, f"@type={ty!r} → null")
        # quirk R10: the reference's step 13.4 allow-list omits @json/@none
        # (create_term_def.rs:306) though its step 13.3 names them; we follow
        # the spec list so @json-typed terms (JSON literals) work.
        if expanded_ty in ("@id", "@vocab", "@json", "@none") \
                or is_absolute_iri_ref(expanded_ty):
            builder.set(ty=expanded_ty)
        else:
            raise JsonLdError(
                ErrorCode.INVALID_TYPE_MAPPING, f"expanded type={expanded_ty!r}"
            )
    # Step 14 / 15- — dispatch
    if "@reverse" in value_map:
        _run_for_reverse(
            processor, active_context, local_context, base, term, defined,
            value_map, builder,
        )
    else:
        _run_for_non_reverse(
            processor, active_context, local_context, base, term, defined,
            value_map, builder, previous_definition, simple_term,
            protected=protected, override_protected=override_protected,
            propagate=propagate,
        )


def _run_for_reverse(
    processor: ProcessorOptions,
    active_context: Context,
    local_context: Mapping[str, Any],
    base: str,
    term: str,
    defined: dict[str, bool],
    value: Mapping[str, Any],
    builder: DefinitionBuilder,
) -> None:
    """Reverse-term path (reference: src/context/create_term_def/reverse.rs:27-115)."""
    # Step 14.1
    if "@id" in value or "@nest" in value:
        raise JsonLdError(ErrorCode.INVALID_REVERSE_PROPERTY, "@id/@nest with @reverse")
    reverse = value["@reverse"]
    # Step 14.2
    if not isinstance(reverse, str):
        raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"@reverse={reverse!r}")
    # Step 14.3 — keyword-form: warn & drop (defined stays False, reverse.rs:52-55)
    if has_form_of_keyword(reverse):
        return
    # Step 14.4
    expanded = expand_iri(
        processor, active_context, reverse, vocab=True,
        local_context=local_context, base=base, defined=defined,
    )
    if expanded is None:
        raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"@reverse → null")
    if not is_absolute_ref_or_blank_node(expanded):
        raise JsonLdError(
            ErrorCode.INVALID_IRI_MAPPING, f"@reverse expanded to {expanded!r}"
        )
    builder.set(iri=expanded)
    # Step 14.5 — container restricted to @set/@index/null (reverse.rs:90-115)
    if "@container" in value:
        cv = value["@container"]
        if cv is None:
            builder.set(container=None)
        else:
            cont = parse_container(cv)
            if len(cont) == 1 and next(iter(cont)) in ("@set", "@index"):
                builder.set(container=cont)
            else:
                raise JsonLdError(
                    ErrorCode.INVALID_REVERSE_PROPERTY, f"@container={cv!r}"
                )
    # Step 14.6, 14.7
    builder.set(reverse=True)
    active_context.term_definitions[term] = builder.build()
    defined[term] = True


def _run_for_non_reverse(
    processor: ProcessorOptions,
    active_context: Context,
    local_context: Mapping[str, Any],
    base: str,
    term: str,
    defined: dict[str, bool],
    value: Mapping[str, Any],
    builder: DefinitionBuilder,
    previous_definition: Optional[TermDefinition],
    simple_term: bool,
    *,
    protected: bool,
    override_protected: bool,
    propagate: bool,
) -> None:
    """Steps 15-30 (reference: src/context/create_term_def/non_reverse.rs:31-101)."""
    # Step 15
    builder.set(reverse=False)
    # Step 16-20 — IRI mapping
    cont = _process_termdef_iri(
        processor, active_context, local_context, base, term, defined,
        value, builder, simple_term,
        protected=protected, override_protected=override_protected,
        propagate=propagate,
    )
    if not cont:
        # Early stop (tombstone or keyword-form @id): the reference leaves
        # defined[term]=False (non_reverse.rs:58-60) — replicated.
        return
    # Step 21 — container (non_reverse.rs:303-358, 543-605)
    if "@container" in value:
        container = _validate_container(value["@container"])
        builder.set(container=container)
        # Step 21.4 — @type container forces type mapping ∈ {@id, @vocab}
        if "@type" in container:
            ty = builder.get("ty")
            if ty is None:
                builder.set(ty="@id")
            elif ty not in ("@id", "@vocab"):
                raise JsonLdError(
                    ErrorCode.INVALID_TYPE_MAPPING, f"container @type with ty={ty!r}"
                )
    # Step 22 — @index (requires index container; non_reverse.rs:361-394)
    if "@index" in value:
        if not builder.container_contains("@index"):
            raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, "@index w/o container")
        idx = value["@index"]
        if not isinstance(idx, str):
            raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, f"@index={idx!r}")
        builder.set(index=idx)
    # Step 23 — scoped context, eagerly processed with override_protected=True
    # (non_reverse.rs:397-422)
    if "@context" in value:
        try:
            scoped = process_context(
                processor, active_context, value["@context"], base,
                override_protected=True,
            )
        except JsonLdError as e:
            raise JsonLdError(ErrorCode.INVALID_SCOPED_CONTEXT, str(e)) from e
        builder.set(local_context=scoped)
    # Step 24 — @language, skipped when @type present (non_reverse.rs:104-130)
    if "@language" in value and "@type" not in value:
        lang = value["@language"]
        if lang is None or isinstance(lang, str):
            builder.set(language=lang)  # stored verbatim (R5)
        else:
            raise JsonLdError(ErrorCode.INVALID_LANGUAGE_MAPPING, f"@language={lang!r}")
    # Step 25 — @direction, skipped when @type present (non_reverse.rs:425-441)
    if "@direction" in value and "@type" not in value:
        builder.set(direction=parse_direction(value["@direction"]))
    # Step 26 — @nest (non_reverse.rs:444-473)
    if "@nest" in value:
        nest = value["@nest"]
        if not isinstance(nest, str):
            raise JsonLdError(ErrorCode.INVALID_NEST_VALUE, f"@nest={nest!r}")
        if nest != "@nest" and is_keyword(nest):
            raise JsonLdError(ErrorCode.INVALID_NEST_VALUE, f"@nest={nest!r}")
        builder.set(nest=nest)
    # Step 27 — @prefix (non_reverse.rs:476-515)
    if "@prefix" in value:
        if ":" in term or "/" in term:
            raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, "@prefix on compound term")
        pv = value["@prefix"]
        if not isinstance(pv, bool):
            raise JsonLdError(ErrorCode.INVALID_PREFIX_VALUE, f"@prefix={pv!r}")
        builder.set(prefix=pv)
        if pv and is_keyword(builder.get("iri")):
            raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, "prefix→keyword IRI")
    # Step 28 — unknown keys (full spec list; quirk R8)
    for key in value:
        if key not in _TERMDEF_ALLOWED_KEYS:
            raise JsonLdError(ErrorCode.INVALID_TERM_DEFINITION, f"unexpected {key!r}")
    # Step 29 — protected-redefinition check (non_reverse.rs:518-537)
    definition = builder.build()
    if previous_definition is not None and not override_protected \
            and previous_definition.is_protected:
        if not definition.eq_for_protected_check(previous_definition):
            raise JsonLdError(ErrorCode.PROTECTED_TERM_REDEFINITION, term)
        definition = previous_definition
    # Step 30
    active_context.term_definitions[term] = definition
    defined[term] = True


def _process_termdef_iri(
    processor: ProcessorOptions,
    active_context: Context,
    local_context: Mapping[str, Any],
    base: str,
    term: str,
    defined: dict[str, bool],
    value: Mapping[str, Any],
    builder: DefinitionBuilder,
    simple_term: bool,
    *,
    protected: bool,
    override_protected: bool,
    propagate: bool,
) -> bool:
    """Steps 16-20: IRI mapping. Returns False to stop term creation early.

    Parity: src/context/create_term_def/non_reverse.rs:143-300.
    """
    id_value = value.get("@id", MISSING)
    # Step 16 applies when @id is present and its value differs from the term
    # (non_reverse.rs:155).
    if id_value is not MISSING and not (isinstance(id_value, str) and id_value == term):
        if id_value is None:
            # Step 16.1 — null tombstone: retained to detect redefinitions and
            # to block @vocab fallback. The reference then falls into a
            # builder panic (quirk R7); we stop cleanly here.
            active_context.term_definitions[term] = None
            return False
        if not isinstance(id_value, str):
            raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"@id={id_value!r}")
        # Step 16.3
        if not is_keyword(id_value) and has_form_of_keyword(id_value):
            return False  # warn & drop
        # Step 16.4
        iri = expand_iri(
            processor, active_context, id_value, vocab=True,
            local_context=local_context, base=base, defined=defined,
        )
        if iri is None:
            raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"@id={id_value!r} → null")
        if not is_keyword(iri) and not is_absolute_ref_or_blank_node(iri):
            raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"@id → {iri!r}")
        if iri == "@context":
            raise JsonLdError(ErrorCode.INVALID_KEYWORD_ALIAS, "alias to @context")
        builder.set(iri=iri)
        # Step 16.5 — interior-colon/slash terms must round-trip
        # (non_reverse.rs:197: the reference slices term[1..len-1], panicking
        # for 1-char terms — quirk R4; safe slicing here).
        if (len(term) > 1 and ":" in term[1:-1]) or "/" in term:
            expanded_term = expand_iri(
                processor, active_context, term, vocab=True,
                local_context=local_context, base=base, defined=defined,
            )
            if expanded_term != iri:
                raise JsonLdError(
                    ErrorCode.INVALID_IRI_MAPPING,
                    f"expanded={expanded_term!r}, term={term!r}",
                )
        # Step 16.6 — auto-prefix for simple terms ending in gen-delims
        if (":" not in term and "/" not in term and simple_term
                and iri and is_gen_delims(iri[-1])):
            builder.set(prefix=True)
        return True
    # Step 17 — compact-IRI-shaped term
    parts = split_prefix(term)
    if parts is not None:
        prefix, suffix = parts
        # Step 17.1 — define the prefix first if it is itself in local ctx
        if is_compact_iri(term) and prefix in local_context:
            create_term_definition(
                processor, active_context, local_context, base, prefix, defined,
                protected=protected, override_protected=override_protected,
                propagate=propagate,
            )
        # Step 17.2 / 17.3
        prefix_def = active_context.term_definition(prefix)
        if prefix_def is not None:
            builder.set(iri=prefix_def.iri + suffix)
        else:
            builder.set(iri=term)
        return True
    # Step 18 — slash-containing term resolves as relative IRI ref
    if "/" in term:
        resolved = expand_iri(processor, active_context, term, vocab=True)
        if resolved is None or not is_absolute_iri_ref(resolved):
            raise JsonLdError(
                ErrorCode.INVALID_IRI_MAPPING, f"term={term!r} → {resolved!r}"
            )
        builder.set(iri=resolved)
        return True
    # Step 19
    if term == "@type":
        builder.set(iri="@type")
        return True
    # Step 20 — vocab concatenation
    if active_context.vocab is not None:
        builder.set(iri=active_context.vocab + term)
        return True
    raise JsonLdError(ErrorCode.INVALID_IRI_MAPPING, f"term={term!r}, no vocab")


def _validate_container(raw: Any) -> frozenset[str]:
    """Step 21.1 legal combinations (non_reverse.rs:543-605)."""
    container = parse_container(raw)
    if len(container) == 1:
        return container
    extra = container - {"@graph", "@id", "@index", "@set"}
    if not extra and "@graph" in container and (
        ("@id" in container) != ("@index" in container)
    ):
        return container
    extra = container - {"@set", "@index", "@id", "@type", "@language"}
    if not extra and "@set" in container:
        return container
    raise JsonLdError(ErrorCode.INVALID_CONTAINER_MAPPING, f"{sorted(container)}")


# ==========================================================================
# IRI Expansion (§4.3)
# ==========================================================================

def expand_iri(
    processor: ProcessorOptions,
    active_context: Context,
    value: str,
    *,
    vocab: bool = False,
    document_relative: bool = False,
    local_context: Optional[Mapping[str, Any]] = None,
    base: Optional[str] = None,
    defined: Optional[dict[str, bool]] = None,
) -> Optional[str]:
    """The 9-step IRI Expansion algorithm. Returns None when the value
    expands to null (dropped). Passing ``local_context`` (+``base``+
    ``defined``) selects the *mutable* mode that defines terms on demand.

    Parity: src/expand/iri.rs:234-331. This is the hot kernel: inside Spark
    the constant-mode path runs per Arrow batch with a vectorized pre-pass
    (pipeline/extract.py); this scalar form is the semantics oracle.
    """
    mutable = local_context is not None
    # Step 1 — keywords pass through
    if is_keyword(value):
        return value
    # Step 2 — keyword-form strings expand to null (warning in spec)
    if has_form_of_keyword(value):
        return None
    # Step 3 — define on demand
    if mutable and value in local_context and defined is not None \
            and defined.get(value) is not True:
        create_term_definition(
            processor, active_context, local_context, base or "", value, defined
        )
    # Step 4 — term whose definition maps to a keyword
    d = active_context.term_definition(value)
    if d is not None and is_keyword(d.iri):
        return d.iri
    # Step 5 — vocab-mode term lookup; null tombstone decouples from @vocab
    # (W3C t0032; src/expand/iri.rs:261-272)
    if vocab:
        raw = active_context.raw_term_definition(value)
        if raw is None:
            return None
        if isinstance(raw, TermDefinition):
            return raw.iri
    # Step 6 — compact IRI / blank node / absolute IRI
    parts = split_prefix(value)
    if parts is not None:
        prefix, suffix = parts
        # Step 6.2
        if prefix == "_" or suffix.startswith("//"):
            return value
        # Step 6.3
        if mutable and prefix in local_context and defined is not None \
                and defined.get(prefix) is not True:
            create_term_definition(
                processor, active_context, local_context, base or "", prefix, defined
            )
        # Step 6.4 — null-mapped prefixes are treated as undefined
        prefix_def = active_context.term_definition(prefix)
        if prefix_def is not None and prefix_def.is_prefix:
            return prefix_def.iri + suffix
        # Step 6.5
        if is_absolute_iri_ref(value):
            return value
    # Step 7 — vocab concatenation
    if vocab and active_context.vocab is not None:
        return active_context.vocab + value
    # Step 8 — document-relative resolution against the *context* base
    # (src/expand/iri.rs:305-327; w3c/json-ld-api#180)
    if document_relative:
        ctx_base = active_context.base
        if ctx_base is None:
            raise JsonLdError(
                ErrorCode.UNCATEGORIZED,
                "document_relative with null base in active context",
            )
        if not looks_like_iri_reference(value):
            raise JsonLdError(ErrorCode.UNCATEGORIZED, f"not an IRI ref: {value!r}")
        return resolve_iri(value, ctx_base)
    # Step 9
    return value
