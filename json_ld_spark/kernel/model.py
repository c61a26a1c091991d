"""Core JSON-LD data model: active context, term definitions, containers.

Spark-side note: a compiled ``Context`` is computed **once on the driver** per
distinct context document and shipped to executors via broadcast/closure
capture (SURVEY.md §1.1). It must therefore be pickleable and cheap to hash.

Parity targets in the reference:
- ``Context`` — src/context.rs:27-41
- ``Definition`` — src/context/definition.rs:20-46; equality used by the
  protected-redefinition check compares *all* fields including ``protected``
  despite its name (src/context/definition.rs:67-79) — replicated here.
- ``Container`` bitset over 7 items with order-insensitive equality —
  src/context/definition/container.rs (we use frozenset).
- tri-state absent/null/value (``Option<Nullable<T>>``, src/json/nullable.rs)
  is encoded with the module-level ``MISSING`` sentinel.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Optional, Union

from .errors import ErrorCode, JsonLdError


class _Missing:
    """Sentinel distinguishing *absent* from explicit JSON ``null`` (None)."""

    _instance: "_Missing | None" = None

    def __new__(cls) -> "_Missing":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "MISSING"

    def __bool__(self) -> bool:
        return False

    def __reduce__(self):  # preserve singleton across pickle (broadcast)
        return (_Missing, ())


MISSING = _Missing()

# JSON-LD 1.1 keyword table (reference: src/processor.rs:46-70).
KEYWORDS: frozenset[str] = frozenset(
    {
        "@base", "@container", "@context", "@direction", "@graph", "@id",
        "@import", "@included", "@index", "@json", "@language", "@list",
        "@nest", "@none", "@prefix", "@propagate", "@protected", "@reverse",
        "@set", "@type", "@value", "@version", "@vocab",
    }
)

CONTAINER_ITEMS: frozenset[str] = frozenset(
    {"@graph", "@id", "@index", "@language", "@list", "@set", "@type"}
)

DIRECTIONS: frozenset[str] = frozenset({"ltr", "rtl"})


def is_keyword(s: Any) -> bool:
    return isinstance(s, str) and s in KEYWORDS


def parse_container(value: Any) -> frozenset[str]:
    """Coerce an ``@container`` value (string or array of strings) to a set.

    Array coercion per w3c/json-ld-api PR 186 (reference:
    src/context/definition/container.rs:109-110,164-195). Raises
    ``invalid container mapping`` for unknown items or non-strings.
    """
    items = value if isinstance(value, list) else [value]
    out: set[str] = set()
    for item in items:
        if not isinstance(item, str) or item not in CONTAINER_ITEMS:
            raise JsonLdError(
                ErrorCode.INVALID_CONTAINER_MAPPING, f"unexpected item {item!r}"
            )
        out.add(item)
    return frozenset(out)


def parse_direction(value: Any) -> Optional[str]:
    """Parse ``@direction``: "ltr"/"rtl"/null (reference:
    src/context/definition/direction.rs:34-47). Returns None for null."""
    if value is None:
        return None
    if isinstance(value, str) and value in DIRECTIONS:
        return value
    raise JsonLdError(ErrorCode.INVALID_BASE_DIRECTION, f"@direction={value!r}")


@dataclass(frozen=True)
class TermDefinition:
    """One term definition (reference: src/context/definition.rs:20-46).

    ``language`` is tri-state: MISSING (no mapping) / None (explicit null,
    meaning "no language even if context default exists") / str.
    """

    iri: str
    reverse: bool = False
    ty: Optional[str] = None
    language: Union[_Missing, None, str] = MISSING
    direction: Union[_Missing, None, str] = MISSING
    local_context: Optional["Context"] = None
    nest: Optional[str] = None
    prefix: Optional[bool] = None
    index: Optional[str] = None
    protected: Optional[bool] = None
    container: Optional[frozenset[str]] = None

    @property
    def is_prefix(self) -> bool:
        return bool(self.prefix)

    @property
    def is_protected(self) -> bool:
        return bool(self.protected)

    def container_contains(self, item: str) -> bool:
        return self.container is not None and item in self.container

    def eq_for_protected_check(self, other: "TermDefinition") -> bool:
        """Equality used by the protected-redefinition check. The reference's
        ``eq_other_than_protected`` (src/context/definition.rs:67-79) in fact
        compares every field *including* ``protected`` — replicated as full
        dataclass equality for observable parity."""
        return self == other


class DefinitionBuilder:
    """Mutable staging for a TermDefinition (reference:
    src/context/definition/builder.rs:13-68). ``build()`` requires ``iri``
    and ``reverse`` to have been set, like the reference's panicking build."""

    def __init__(self) -> None:
        self._fields: dict[str, Any] = {}

    def set(self, **kwargs: Any) -> None:
        self._fields.update(kwargs)

    def get(self, name: str, default: Any = None) -> Any:
        return self._fields.get(name, default)

    def container_contains(self, item: str) -> bool:
        cont = self._fields.get("container")
        return cont is not None and item in cont

    def build(self) -> TermDefinition:
        if "iri" not in self._fields or "reverse" not in self._fields:
            raise ValueError("DefinitionBuilder: iri and reverse are required")
        return TermDefinition(**self._fields)


@dataclass
class Context:
    """Active context (reference: src/context.rs:27-41).

    ``term_definitions`` values are ``TermDefinition`` or ``None`` — a None
    is the explicit-null tombstone that both blocks @vocab fallback during
    expansion (src/expand/iri.rs:261-272, W3C t0032) and records the term for
    future-redefinition detection (non_reverse.rs:158-167).

    ``base``/``vocab``: None encodes Nullable::Null (absent and explicit null
    collapse, matching the reference's ``Nullable`` default).
    """

    term_definitions: dict[str, Optional[TermDefinition]] = field(default_factory=dict)
    base: Optional[str] = None
    vocab: Optional[str] = None
    default_language: Optional[str] = None
    default_base_direction: Optional[str] = None
    previous_context: Optional["Context"] = None

    def clone(self) -> "Context":
        return Context(
            term_definitions=dict(self.term_definitions),
            base=self.base,
            vocab=self.vocab,
            default_language=self.default_language,
            default_base_direction=self.default_base_direction,
            previous_context=self.previous_context,
        )

    # -- term definition accessors (reference: src/context.rs:87-108) ------
    def raw_term_definition(
        self, term: str
    ) -> Union[_Missing, None, TermDefinition]:
        """Distinguishes absence (MISSING) from explicit null (None)."""
        if term not in self.term_definitions:
            return MISSING
        return self.term_definitions[term]

    def term_definition(self, term: str) -> Optional[TermDefinition]:
        """Flattened: None for both absent and explicit-null terms."""
        return self.term_definitions.get(term)

    def remove_term_definition(
        self, term: str
    ) -> Union[_Missing, None, TermDefinition]:
        if term not in self.term_definitions:
            return MISSING
        return self.term_definitions.pop(term)

    def has_protected_term_definition(self) -> bool:
        return any(
            d is not None and d.is_protected for d in self.term_definitions.values()
        )

    def has_previous_context(self) -> bool:
        return self.previous_context is not None


@dataclass(frozen=True)
class ProcessorOptions:
    """Processor configuration (reference: src/processor.rs:15-26).

    ``context_loader`` replaces the async remote-document loader
    (src/remote.rs:21-44) with a plain dict lookup into the pre-fetched,
    broadcast context dictionary — no executor network I/O ever
    (SURVEY.md §2 row S3).
    """

    document_iri: str
    context_loader: Any = None  # Mapping[str, dict] | None

    def base(self, context: Context) -> Optional[str]:
        """Effective base IRI (reference: src/processor.rs:78-88): context
        base when set (resolved against the document IRI if relative), else
        None when the context nullified it."""
        from .iri import looks_like_iri, resolve_iri

        if context.base is None:
            return None
        if looks_like_iri(context.base):
            return context.base
        return resolve_iri(context.base, self.document_iri)
