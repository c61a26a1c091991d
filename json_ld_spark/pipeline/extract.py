"""Per-turn JSON-LD operators: transcripts → triples (and per-document
flatten / frame / compact shapes) via one Arrow-batched kernel plan.

This is operator U1 of SURVEY.md §2 — the ``mapInPandas`` stage that wraps
the whole kernel (A1-A33): per Arrow batch, each JSON-bearing turn's
documents are parsed, their contexts resolved against the broadcast context
dictionary (compiled once per task and memoized), expanded, and fanned out
1→N by one memoized document step (``TurnExpander.docs``). In
``extract_triples`` errors never abort the job: each failing document
becomes a quarantine row with the exact reference error code (src/error.rs
taxonomy) in ``error_code`` (FIXTURES.md §5.4). The other four operators
reshape the same expanded documents and skip the failing ones.

Every operator is a candidate frame plus a ``turn_rows`` function, run by
``_map_turns`` — the one plan site:
- The candidate-turn filter (``tool IS NOT NULL OR text LIKE '%<jsonld>%'``)
  runs JVM-side *before* the Python boundary so non-JSON turns never cross
  Arrow.
- Only (conv_id, turn_idx, text, tool) are selected → column pruning reaches
  the parquet scan.
- The context dictionary and the operator's constants ship as one broadcast.
- The context-compile cache is per-task and keyed by the canonical JSON of
  the ``@context`` value: ~10^1 distinct contexts vs ~10^12 turns means the
  per-document cost is dict lookups + the expansion walk only.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from typing import Iterator, Mapping, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..contexts import ContextDict
from ..kernel import (
    Context,
    ErrorCode,
    JsonLdError,
    cleanup_null_markers,
    compact_document,
    expand_document,
    expand_frame,
    expanded_to_triples,
    flatten_expanded,
    flatten_stats,
    frame_expanded,
    normalize_expanded,
    process_context,
)

TRIPLE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj_kind", StringType()),
        StructField("obj_value", StringType()),
        StructField("obj_type", StringType()),
        StructField("obj_lang", StringType()),
        StructField("obj_direction", StringType()),
        StructField("graph", StringType()),
        StructField("error_code", StringType()),
    ]
)

_INLINE_RE = re.compile(r"<jsonld>(.*?)</jsonld>", re.DOTALL)

# The JVM-side candidate predicate, the Python-side document discovery and
# TurnExpander.docs below are THE definition of "which turns carry
# documents, which documents, and how each one is parsed and expanded" —
# every operator in this module goes through them (via _map_turns), so they
# can never silently diverge. (A function, not a module-level Column:
# F.col() needs an active SparkContext, and this module imports at pytest
# collection.)


def _candidate_filter():
    return F.col("tool").isNotNull() | F.col("text").contains("<jsonld>")


def _candidate_turns(transcripts: DataFrame) -> DataFrame:
    """The JSON-bearing turns, pruned to the 4 columns the kernel reads."""
    turns = transcripts.select("conv_id", "turn_idx", "text", "tool")
    return turns.where(_candidate_filter())


def iter_turn_documents(text, tool) -> list[str]:
    """Raw JSON-LD document strings carried by one turn: the tool payload
    (if any) followed by every inline ``<jsonld>…</jsonld>`` block."""
    raws: list[str] = []
    if isinstance(tool, str) and tool:
        raws.append(tool)
    if isinstance(text, str) and "<jsonld>" in text:
        raws.extend(_INLINE_RE.findall(text))
    return raws


def _not_json(literal: str):
    """``json.loads``' ``parse_constant``: NaN and ±Infinity are not JSON."""
    raise ValueError(f"{literal} is not a JSON value")


# A document nesting arrays and objects deeper than this fails to load. At
# CPython's default recursion limit (Spark's Python workers) the kernel
# handles 246 nested nodes in compact_turn_docs' round trip and 493 in the
# other operators, so the rule, not the limit, decides.
_MAX_DEPTH = 100


def _too_deep(doc) -> bool:
    """Whether ``doc`` nests arrays and objects more than ``_MAX_DEPTH``
    levels deep (an iterative walk: recursion is what the rule guards)."""
    stack = [(doc, 1)]
    while stack:
        value, depth = stack.pop()
        if isinstance(value, (dict, list)):
            if depth > _MAX_DEPTH:
                return True
            items = value.values() if isinstance(value, dict) else value
            stack.extend((v, depth + 1) for v in items)
    return False


def _fingerprint(value) -> str:
    """md5 of the canonical JSON of ``value`` — a bit-exact pin of a whole
    output structure for the golden oracle."""
    return hashlib.md5(
        json.dumps(value, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


class TurnExpander:
    """Per-task document step with context-compile and document memo
    caches.

    The document memo exploits that a document's result is a *pure
    function* of its raw string: one expander serves one operator, so the
    ``fn`` given to ``docs`` is fixed for its lifetime. Identical payloads
    (retried tool calls, templated agent turns, re-sent context blobs —
    extremely common in real transcript corpora) run once and then cost a
    dict lookup. Bounded FIFO eviction keeps worker memory flat
    regardless of corpus size; cache hit/miss changes throughput, never
    output.
    """

    DOC_CACHE_MAX = 65536

    def __init__(self, contexts: ContextDict) -> None:
        self.processor = contexts.processor
        self.document_iri = contexts.document_iri
        self._cache: dict[str, Context] = {}
        self._doc_cache: dict[str, tuple[object, Optional[str]]] = {}
        # memoization hit-rate, surfaced through the extraction metrics
        # accumulator: real corpora reuse a handful of inline @context
        # blobs across millions of turns (the reference keeps a per-run
        # remote-context cache for the same reason —
        # /root/reference/src/remote.rs:29-38), so ctx_hits/(hits+misses)
        # ≈ 1 is the expected steady state; a low rate on a production
        # run is a red flag that context JSON is being perturbed per turn
        self.cache_stats = {
            "ctx_hits": 0, "ctx_misses": 0, "doc_hits": 0, "doc_misses": 0,
        }

    def _active_context(self, ctx_value) -> Context:
        key = json.dumps(ctx_value, sort_keys=True, separators=(",", ":"))
        ctx = self._cache.get(key)
        if ctx is None:
            self.cache_stats["ctx_misses"] += 1
            ctx = process_context(
                self.processor, Context(base=self.document_iri),
                ctx_value, self.document_iri,
            )
            self._cache[key] = ctx
        else:
            self.cache_stats["ctx_hits"] += 1
        return ctx

    def _context_of(self, doc) -> tuple[Context, object]:
        """(active context, body) of a parsed document: its inline
        ``@context`` compiled through the memo, else the base context."""
        ctx_value = doc.get("@context") if isinstance(doc, Mapping) else None
        if ctx_value is None:
            return Context(base=self.document_iri), doc
        body = {k: v for k, v in doc.items() if k != "@context"}
        return self._active_context(ctx_value), body

    def expand_raw(self, raw: str) -> Optional[tuple[Context, list]]:
        """Parse, context, expand: ``(active context, expanded form)`` of
        one raw document string, or None when it is not JSON (NaN/Infinity
        literals and nesting too deep to parse included) or nests more than
        ``_MAX_DEPTH`` levels. Raises JsonLdError (or, as a safety net,
        RecursionError)."""
        try:
            doc = json.loads(raw, parse_constant=_not_json)
        except (ValueError, RecursionError):  # JSONDecodeError is a ValueError
            return None
        if _too_deep(doc):
            return None
        active, body = self._context_of(doc)
        return active, expand_document(self.processor, active, body)

    def docs(self, text, tool, fn) -> Iterator[tuple[int, object, Optional[str]]]:
        """THE document step of every operator: ``(doc_idx, fn(active,
        expanded), None)`` per document of one turn, memoized on the raw
        string. A failing document yields ``(doc_idx, None, error_code)``:
        not JSON or nested more than ``_MAX_DEPTH`` levels is ``loading
        document failed``, a JsonLdError in expansion or in ``fn`` is its
        code, a RecursionError is ``uncategorized error``."""
        for doc_idx, raw in enumerate(iter_turn_documents(text, tool)):
            result = self._doc_cache.get(raw)
            if result is not None:
                self.cache_stats["doc_hits"] += 1
            else:
                self.cache_stats["doc_misses"] += 1
                try:
                    step = self.expand_raw(raw)
                    result = ((None, ErrorCode.LOADING_DOCUMENT_FAILED.value)
                              if step is None else (fn(*step), None))
                except JsonLdError as e:
                    result = (None, e.code.value)
                except RecursionError:
                    result = (None, ErrorCode.UNCATEGORIZED.value)
                if len(self._doc_cache) >= self.DOC_CACHE_MAX:
                    # FIFO eviction: drop the oldest insertion (dict is ordered)
                    self._doc_cache.pop(next(iter(self._doc_cache)))
                self._doc_cache[raw] = result
            yield doc_idx, *result


class TaskMetricsParam:
    """AccumulatorParam collecting per-task ``(input_rows, kernel_seconds,
    ctx_hits, ctx_misses, doc_hits, doc_misses)`` tuples — the
    straggler-detection surface of SURVEY §5.2-6 (max task ≤ 2× median
    after salted repartition) plus the TurnExpander memoization hit-rates
    (context-compile and whole-document caches). Listener-free: works
    with the UI disabled and measures exactly the stage where conv-level
    skew would concentrate (the Python kernel)."""

    @staticmethod
    def zero(value):
        return []

    @staticmethod
    def addInPlace(a, b):
        a.extend(b)
        return a


def _map_turns(
    candidates: DataFrame,
    contexts: Optional[ContextDict],
    schema: StructType,
    turn_rows,
    payload=None,
    task_metrics_acc=None,
) -> DataFrame:
    """THE kernel plan of every operator in this module: ``candidates``
    (4-column turns) → one map-only ``mapInPandas`` stage. Each task builds
    one TurnExpander and emits ``turn_rows(expander, payload, conv_id,
    turn_idx, text, tool)`` for every turn; ``turn_rows`` gets its
    documents from ``expander.docs``.

    The context dictionary and the operator's constants (``payload``) ship
    as one broadcast variable: closure capture re-pickles them into every
    serialized task (10^5 tasks at target scale), a broadcast ships them
    once per executor (SURVEY §2 S3). With ``task_metrics_acc`` each task
    adds one TaskMetricsParam sample."""
    contexts = contexts or ContextDict()
    bc = candidates.sparkSession.sparkContext.broadcast(
        (contexts, payload)
    )
    columns = schema.fieldNames()

    def run_task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task_contexts, task_payload = bc.value
        expander = TurnExpander(task_contexts)
        n_in = 0
        t0 = time.perf_counter()
        for pdf in batches:
            n_in += len(pdf)
            rows: list[tuple] = []
            for conv_id, turn_idx, text, tool in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"]
            ):
                rows.extend(
                    turn_rows(expander, task_payload, conv_id, int(turn_idx), text, tool)
                )
            yield pd.DataFrame(rows, columns=columns)
        if task_metrics_acc is not None:
            cs = expander.cache_stats
            task_metrics_acc.add([(
                n_in, time.perf_counter() - t0,
                cs["ctx_hits"], cs["ctx_misses"],
                cs["doc_hits"], cs["doc_misses"],
            )])

    return candidates.mapInPandas(run_task, schema=schema)


def _triple_parts(_active, expanded) -> tuple[tuple, ...]:
    """One document's rows minus the (conv_id, turn_idx) prefix."""
    return tuple(
        (t["subj"], t["pred"], t["obj_kind"], t["obj_value"], t["obj_type"],
         t["obj_lang"], t["obj_direction"], t["graph"], None)
        for t in expanded_to_triples(expanded)
    )


def _triple_rows(expander, _payload, conv_id, turn_idx, text, tool) -> list[tuple]:
    # G1 — exact triple dedup, shuffle-free. The dedup key is the FULL row
    # including (conv_id, turn_idx), and a turn is expanded exactly once in
    # exactly one task, so duplicates of the key can only arise *within*
    # this turn's own output (e.g. the same doc in both text and tool).
    # Per-turn set-dedup is therefore exactly equivalent to a global
    # dropDuplicates over the clean triples — minus a ~full-output shuffle,
    # which at the 100 TB target is the difference between a map-only stage
    # and a petascale exchange. Quarantine rows are per document: each
    # failing document adds its own row to the manifest's error count.
    clean: list[tuple] = []
    quarantine: list[tuple] = []
    for _, parts, code in expander.docs(text, tool, _triple_parts):
        if code is None:
            clean.extend(parts)
        else:
            quarantine.append((None,) * 8 + (code,))
    return [
        (conv_id, turn_idx) + part
        for part in (*dict.fromkeys(clean), *quarantine)
    ]


def extract_triples(
    transcripts: DataFrame,
    contexts: Optional[ContextDict] = None,
    dedup_turns: bool = False,
    task_metrics_acc=None,
) -> DataFrame:
    """transcripts → triples DataFrame (quarantine rows included;
    filter ``error_code IS NULL`` for clean triples).

    Plan shape (``_map_turns``): parquet scan (pruned to 4 cols, candidate
    filter pushed) → mapInPandas kernel (with in-kernel per-turn exact
    dedup — see inline note for why that equals a global dropDuplicates) —
    a single map-only stage, no exchange.

    PRECONDITION for the global-dedup guarantee: (conv_id, turn_idx) is
    unique in ``transcripts``. Callers with possibly-replayed turn rows
    (retried tool calls re-appended by an upstream writer) must pass
    ``dedup_turns=True``, which inserts a cheap pre-kernel
    ``dropDuplicates(["conv_id","turn_idx"])`` on the *candidate* rows — a
    shuffle of the JSON-bearing slice only, far smaller than the
    full-output shuffle the old global dropDuplicates paid. The job path
    (pipeline/job.py) enables it.
    """
    candidates = _candidate_turns(transcripts)
    if dedup_turns:
        # deterministic survivor: dropDuplicates keeps whichever replayed
        # row a partitioning happens to deliver first — if an upstream
        # retry re-appended a *different* payload for the same (conv_id,
        # turn_idx), the emitted triples would vary across runs, breaking
        # the byte-identical resume/checksum guarantee. max_by on the
        # payload hash costs the same single shuffle (same groupBy key)
        # and always keeps the lexicographically-max payload; byte-equal
        # replays tie harmlessly.
        # length-prefixed + 0x1f-separated (chr(31) spelled explicitly —
        # a literal byte in source is invisible and has already misled one
        # reviewer): unambiguous even if a payload contains the separator
        # byte, so distinct (text, tool) pairs cannot hash-tie by framing
        payload_hash = F.sha2(
            F.concat_ws(
                chr(31),
                F.length(F.coalesce(F.col("text"), F.lit(""))).cast("string"),
                F.coalesce(F.col("text"), F.lit("")),
                F.coalesce(F.col("tool"), F.lit("")),
            ),
            256,
        )
        candidates = (
            candidates.groupBy("conv_id", "turn_idx")
            .agg(
                F.max_by(F.struct("text", "tool"), payload_hash).alias("_p")
            )
            .select("conv_id", "turn_idx", "_p.text", "_p.tool")
        )
    return _map_turns(
        candidates, contexts, TRIPLE_SCHEMA, _triple_rows,
        task_metrics_acc=task_metrics_acc,
    )


FLATTEN_STATS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("n_docs", IntegerType()),
        StructField("n_nodes", IntegerType()),
        StructField("n_props", IntegerType()),
        StructField("n_blank", IntegerType()),
    ]
)


def _flatten_rows(expander, _payload, conv_id, turn_idx, text, tool) -> list[tuple]:
    stats = [
        st for _, st, code in expander.docs(
            text, tool,
            lambda _active, expanded: flatten_stats(flatten_expanded(expanded)),
        )
        if code is None
    ]
    n_nodes, n_props, n_blank = (sum(st[i] for st in stats) for i in range(3))
    return [(conv_id, turn_idx, len(stats), n_nodes, n_props, n_blank)]


def flatten_turn_stats(
    transcripts: DataFrame, contexts: Optional[ContextDict] = None
) -> DataFrame:
    """Per JSON-bearing turn, the flattened-graph shape (§8 flattening
    applied to every document in the turn): number of successfully
    flattened docs, total top-level+named-graph nodes, non-keyword
    properties, and distinct blank-node labels. One row per candidate
    turn, on the ``_map_turns`` plan; docs that fail to parse/expand are
    skipped, the quarantine path being extract_triples' job."""
    return _map_turns(
        _candidate_turns(transcripts), contexts, FLATTEN_STATS_SCHEMA,
        _flatten_rows,
    )


FRAMED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("doc_idx", IntegerType()),
        StructField("root_id", StringType()),
        StructField("n_props", IntegerType()),
        StructField("n_embedded", IntegerType()),
        StructField("frame_fp", StringType()),
    ]
)

# default frame for the transcript corpus: match the entity roots (nodes
# carrying schema:name — the person/entity subjects every template emits)
# and embed everything reachable once. Expanded form: property IRIs direct.
DEFAULT_TURN_FRAME: dict = {"http://schema.org/name": [{}]}


def _framed_node_stats(node) -> tuple[int, int]:
    """(n_props on root, n_embedded node objects anywhere below root)."""
    n_props = sum(1 for p in node if not p.startswith("@"))

    def count_embedded(value) -> int:
        if isinstance(value, list):
            return sum(count_embedded(v) for v in value)
        if isinstance(value, dict):
            if "@list" in value:
                return count_embedded(value["@list"])
            inner = sum(
                count_embedded(v) for k, v in value.items() if k != "@id"
            )
            is_node = "@id" in value and "@value" not in value and len(value) > 1
            return inner + (1 if is_node else 0)
        return 0

    return n_props, sum(
        count_embedded(v) for k, v in node.items() if not k.startswith("@")
    )


def _framed_rows(expander, frame, conv_id, turn_idx, text, tool) -> list[tuple]:
    return [
        (conv_id, turn_idx, doc_idx, root["@id"], *_framed_node_stats(root),
         _fingerprint(root))
        for doc_idx, roots, code in expander.docs(
            text, tool, lambda _active, expanded: frame_expanded(expanded, frame)
        )
        if code is None
        for root in roots
    ]


def frame_turn_entities(
    transcripts: DataFrame,
    contexts: Optional[ContextDict] = None,
    frame: Optional[dict] = None,
) -> DataFrame:
    """§9 Framing applied per JSON-bearing turn (kernel/frame.py — the last
    JsonLdProcessor entry): each document expands, frames against
    ``frame`` (expanded form; default = entity roots by schema:name), and
    every framed root emits one row with its shape counts plus an md5
    fingerprint of the canonical framed JSON — a bit-exact pin of the
    whole framed structure for the golden oracle. Runs on the
    ``_map_turns`` plan with the frame in its broadcast; failing docs are
    skipped (quarantine is extract_triples' job)."""
    return _map_turns(
        _candidate_turns(transcripts), contexts, FRAMED_SCHEMA, _framed_rows,
        payload=frame or DEFAULT_TURN_FRAME,
    )


FRAMED_COMPACT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("doc_idx", IntegerType()),
        StructField("root_id", StringType()),
        StructField("n_keys", IntegerType()),
        StructField("n_null", IntegerType()),
        StructField("compact_fp", StringType()),
    ]
)

# default COMPACTING frame: entity roots by schema:name, plus a property
# most roots lack (jobTitle) so the spec-default @omitDefault=false path
# and the §4.1 "@null"→null cleanup are exercised on real corpus data
DEFAULT_COMPACT_FRAME: dict = {
    "@context": {
        "name": "http://schema.org/name",
        "knows": "http://schema.org/knows",
        "jobTitle": "http://schema.org/jobTitle",
    },
    "name": {},
    "jobTitle": {},
}


def _framed_compact_rows(expander, payload, conv_id, turn_idx, text, tool) -> list[tuple]:
    frame_ctx, expanded_frame = payload

    def frame_compact(_active, expanded) -> list:
        compacted = compact_document(
            frame_ctx, frame_expanded(expanded, expanded_frame)
        )
        if not isinstance(compacted, list):
            compacted = [compacted]
        return [cleanup_null_markers(n) for n in compacted]

    return [
        (conv_id, turn_idx, doc_idx, root.get("@id", ""), len(root),
         sum(1 for v in root.values() if v is None), _fingerprint(root))
        for doc_idx, roots, code in expander.docs(text, tool, frame_compact)
        if code is None
        for root in roots
    ]


def frame_compact_turn_entities(
    transcripts: DataFrame,
    contexts: Optional[ContextDict] = None,
    frame: Optional[dict] = None,
) -> DataFrame:
    """Framing §4.1 steps 18-21 END-TO-END per JSON-bearing turn: each
    document expands, frames (spec default ``@omitDefault: false`` — the
    round-5 flip), COMPACTS against the frame's own ``@context``, and the
    ``"@null"`` markers become JSON ``null`` (kernel/frame.py
    ``cleanup_null_markers``). Per framed root one row: compacted key
    count, the number of null-cleaned (framed-but-missing) properties,
    and an md5 fingerprint of the canonical compacted JSON — a bit-exact
    pin of the whole §4.1 output shape for the golden oracle. Runs on the
    ``_map_turns`` plan; the frame's context and expanded form compile
    once on the driver (an invalid frame raises JsonLdError here) and ride
    the broadcast."""
    frame = frame or DEFAULT_COMPACT_FRAME
    contexts = contexts or ContextDict()
    compiler = TurnExpander(contexts)
    frame_ctx, _ = compiler._context_of(frame)
    expanded_frame = expand_frame(compiler.processor, frame_ctx, frame)
    return _map_turns(
        _candidate_turns(transcripts), contexts, FRAMED_COMPACT_SCHEMA,
        _framed_compact_rows, payload=(frame_ctx, expanded_frame),
    )


COMPACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("doc_idx", IntegerType()),
        StructField("n_keys", IntegerType()),
        StructField("n_term_keys", IntegerType()),
        StructField("n_iri_keys", IntegerType()),
        StructField("roundtrip_ok", IntegerType()),
        StructField("compact_fp", StringType()),
    ]
)


def _compacted_doc_stats(element) -> tuple[int, int, int]:
    """(non-keyword keys, short-term keys, CURIE/IRI keys) across every
    mapping in the compacted structure. A compacted key containing ``:``
    is a CURIE or absolute IRI; otherwise the inverse context selected a
    short term — the ratio is the observable effect of §6.2/§6.3 term
    selection, pinned bit-exactly by the golden."""
    total = terms = iris = 0
    stack = [element]
    while stack:
        node = stack.pop()
        if isinstance(node, list):
            stack.extend(node)
        elif isinstance(node, Mapping):
            for k, v in node.items():
                stack.append(v)
                if k.startswith("@"):
                    continue
                total += 1
                if ":" in k:
                    iris += 1
                else:
                    terms += 1
    return total, terms, iris


def _compact_rows(expander, _payload, conv_id, turn_idx, text, tool) -> list[tuple]:
    def compact_roundtrip(active, expanded) -> tuple:
        # compactToRelative=False (spec option, default true): the
        # pipeline publishes absolute subject/object IRIs so consumers
        # join without needing the producer's base
        compacted = compact_document(active, expanded, compact_to_relative=False)
        reexpanded = expand_document(expander.processor, active, compacted)
        rt = normalize_expanded(reexpanded) == normalize_expanded(expanded)
        return (*_compacted_doc_stats(compacted), 1 if rt else 0,
                _fingerprint(compacted))

    return [
        (conv_id, turn_idx, doc_idx, *stats)
        for doc_idx, stats, code in expander.docs(text, tool, compact_roundtrip)
        if code is None
    ]


def compact_turn_docs(
    transcripts: DataFrame,
    contexts: Optional[ContextDict] = None,
) -> DataFrame:
    """Full §6.1 compaction applied per JSON-bearing turn document: each
    document expands against its own ``@context``, compacts back against
    the SAME context (inverse-context term selection, container maps,
    ``@reverse`` terms — kernel/compact.py), and re-expands to verify the
    expand→compact→expand fixpoint *inside the operator*
    (``roundtrip_ok``). Each document emits one row with key-class counts
    plus an md5 fingerprint of the canonical compacted JSON — a bit-exact
    pin of the whole compacted structure for the golden oracle.

    Runs on the ``_map_turns`` plan (JVM-side candidate filter, 4-column
    pruning, map-only mapInPandas, per-task context-compile cache);
    failing docs are skipped (quarantine is extract_triples' job).
    """
    return _map_turns(
        _candidate_turns(transcripts), contexts, COMPACTED_SCHEMA, _compact_rows
    )
