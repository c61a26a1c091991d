"""Spark-free JSON-LD kernel.

Re-implements the reference's context layer (context processing, term
definitions, IRI expansion — /root/reference/src/context/*, src/expand/iri.rs)
with bit-for-bit observable parity, and completes document expansion /
compaction / triple emission from the same W3C WD the reference cites
(WD-json-ld11-api-20191112).

Everything here is pure Python: unit-testable standalone, and shipped to
Spark executors inside Arrow-batched pandas kernels (pipeline/extract.py).
"""

from .errors import ErrorCode, JsonLdError
from .model import (
    MISSING,
    Context,
    ProcessorOptions,
    TermDefinition,
    is_keyword,
)
from .context_processing import (
    create_term_definition,
    expand_iri,
    process_context,
)
from .expand_doc import (
    expand_document,
    expanded_to_triples,
)
from .compact import compact_document, compact_iri, compact_value, normalize_expanded
from .flatten import flatten_document, flatten_expanded, flatten_stats
from .frame import (
    cleanup_null_markers,
    expand_frame,
    frame_and_compact,
    frame_document,
    frame_expanded,
)
from .from_rdf import triples_to_expanded

__all__ = [
    "ErrorCode",
    "JsonLdError",
    "MISSING",
    "Context",
    "ProcessorOptions",
    "TermDefinition",
    "is_keyword",
    "create_term_definition",
    "expand_iri",
    "process_context",
    "expand_document",
    "expanded_to_triples",
    "compact_document",
    "compact_iri",
    "compact_value",
    "normalize_expanded",
    "flatten_document",
    "flatten_expanded",
    "flatten_stats",
    "cleanup_null_markers",
    "expand_frame",
    "frame_and_compact",
    "frame_document",
    "frame_expanded",
    "triples_to_expanded",
]
