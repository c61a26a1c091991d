"""Context dictionary: the offline replacement for the remote-document loader.

The reference defines an async ``LoadRemoteDocument`` interface
(src/remote.rs:21-44) whose caching contract says a context MUST NOT be
re-dereferenced (src/remote.rs:29-38); its own remote path is unreachable
(quirk R1). Our engine's equivalent is a small ``contexts(ctx_iri, ctx_json)``
table. The raw dictionary ships to executors in the kernel plan's one
broadcast (``pipeline/extract._map_turns``), and each task compiles the
contexts its turns use through ``TurnExpander._active_context``, memoized per
task — executors never do network I/O (SURVEY.md §2 S3).

The built-in fixture dictionary below follows FIXTURES.md §2 — each entry
exercises a distinct reference algorithm branch (citations inline).
"""

from __future__ import annotations

from typing import Mapping, NamedTuple, Optional

from .kernel import (
    ErrorCode,
    JsonLdError,
    LoadDocumentOptions,
    ProcessorOptions,
)


class RemoteDocument(NamedTuple):
    """Mirror of reference ``RemoteDocument`` (src/remote.rs:112-120)."""

    context_url: Optional[str]
    document_url: str
    document: dict

# ctx_iri → context *document* (a JSON object containing "@context").
FIXTURE_CONTEXTS: dict[str, dict] = {
    # vocab concat (src/expand/iri.rs:299-303) + base resolution
    # (src/context/merge/ctx_def.rs:204-259)
    "https://example.org/ctx/base": {
        "@context": {
            "@vocab": "http://ex.org/v#",
            "@base": "http://ex.org/d/",
            "name": "http://schema.org/name",
        }
    },
    # compact-IRI expansion + prefix recursion
    # (src/context/create_term_def/non_reverse.rs:232-254, expand/iri.rs:274-297)
    "https://example.org/ctx/prefix": {
        "@context": {
            "schema": "http://schema.org/",
            "knows": {"@id": "schema:knows", "@type": "@id"},
            "name": "schema:name",
        }
    },
    # typed / language / direction / container terms
    # (create_term_def.rs:277-320, non_reverse.rs:104-130,303-358)
    "https://example.org/ctx/typed": {
        "@context": {
            "ex": "http://ex.org/",
            "when": {"@id": "ex:when",
                     "@type": "http://www.w3.org/2001/XMLSchema#dateTime"},
            "label": {"@id": "ex:label", "@language": "en", "@direction": "ltr"},
            "tags": {"@id": "ex:tags", "@container": "@list"},
            "alts": {"@id": "ex:alts", "@container": "@set"},
            "ref": {"@id": "ex:ref", "@type": "@id"},
        }
    },
    # reverse terms (src/context/create_term_def/reverse.rs:27-87)
    "https://example.org/ctx/reverse": {
        "@context": {
            "schema": "http://schema.org/",
            "isKnownBy": {"@reverse": "schema:knows"},
        }
    },
    # null tombstone blocks @vocab fallback — W3C t0032
    # (src/expand/iri.rs:261-272)
    "https://example.org/ctx/nullterm": {
        "@context": {
            "@vocab": "http://ex.org/v#",
            "schema": "http://schema.org/",
            "hidden": None,
        }
    },
    # protected terms (non_reverse.rs:518-537)
    "https://example.org/ctx/protected": {
        "@context": {
            "@protected": True,
            "schema": "http://schema.org/",
            "name": "schema:name",
        }
    },
    # term-scoped context (non_reverse.rs:397-422)
    "https://example.org/ctx/scoped": {
        "@context": {
            "ex": "http://ex.org/",
            "detail": {"@id": "ex:detail",
                       "@context": {"inner": "ex:inner"}},
        }
    },
    # array-of-contexts merge order (src/context/merge.rs:149-195)
    "https://example.org/ctx/array": {
        "@context": [
            {"name": "http://schema.org/name"},
            {"@vocab": "http://ex.org/v#"},
        ]
    },
}

DEFAULT_DOCUMENT_IRI = "https://example.org/transcripts/"


class ContextDict:
    """Pre-resolved context dictionary.

    ``raw`` maps ctx_iri → context document: the kernel loader reads it and
    the extraction plan broadcasts it. ``processor`` carries it as the
    context loader; each task compiles and memoizes its own active
    contexts (``pipeline/extract.TurnExpander``).
    """

    def __init__(
        self,
        raw: Optional[Mapping[str, dict]] = None,
        document_iri: str = DEFAULT_DOCUMENT_IRI,
    ) -> None:
        self.raw: dict[str, dict] = dict(raw if raw is not None else FIXTURE_CONTEXTS)
        self.document_iri = document_iri

    @property
    def processor(self) -> ProcessorOptions:
        return ProcessorOptions(
            document_iri=self.document_iri, context_loader=self.raw
        )

    def load(
        self, iri: str, options: Optional[LoadDocumentOptions] = None
    ) -> RemoteDocument:
        """``LoadRemoteDocument::load`` surface (src/remote.rs:39-109):
        dictionary lookup honoring the caching contract trivially (the dict
        IS the cache; a context is never re-dereferenced, :29-38), raising
        the spec error on a miss (src/error.rs:196-198).

        ``options`` (extract_all_scripts / profile / request_profile) are
        accepted for API parity but have no observable effect here: they
        only matter for HTML script extraction and HTTP content
        negotiation, and this loader is offline by design — the same
        reason the reference's own remote path is unreachable (quirk R1).
        """
        _ = options or LoadDocumentOptions()
        doc = self.raw.get(iri)
        if doc is None:
            raise JsonLdError(ErrorCode.LOADING_REMOTE_CONTEXT_FAILED, iri)
        return RemoteDocument(context_url=None, document_url=iri, document=doc)
