"""Seeded transcript-corpus generator for the KG-build benchmark.

Emits the ``input_hint`` transcript schema
``(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp)`` as a pyarrow table. Every value is a pure function of the
seed and the knobs in :class:`CorpusParams`, so the same seed always gives
the same corpus. Nothing here touches Spark: the program under test only
ever sees the parquet file written by :func:`write_corpus`.

Payloads use the fixture contexts of ``json_ld_spark.contexts`` so every
document expands without a remote load; a small share is deliberately
malformed so the quarantine path carries rows too.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# 2026-01-01T00:00:00Z in microseconds
_EPOCH_US = 1767225600 * 1_000_000

# payload patterns, one per fixture context; slots are (entity a, a, b)
_TEMPLATES = [
    '{"@context":"https://example.org/ctx/prefix",'
    '"@id":"http://ex.org/person-%d","name":"Agent %d",'
    '"knows":{"@id":"http://ex.org/person-%d"}}',
    '{"@context":"https://example.org/ctx/base",'
    '"@id":"person-%d","name":"Agent %d","affil":{"@id":"org-%d"}}',
    '{"@context":"https://example.org/ctx/typed",'
    '"@id":"http://ex.org/event-%d","label":"Event %d",'
    '"ref":{"@id":"http://ex.org/person-%d"},"tags":["alpha","beta"]}',
    '{"@context":"https://example.org/ctx/reverse",'
    '"@id":"http://ex.org/person-%d","name":"Agent %d",'
    '"isKnownBy":{"@id":"http://ex.org/person-%d"}}',
]

# payloads that fail in the kernel and become quarantine rows
BROKEN_PAYLOADS = [
    '{"@context":"https://example.org/ctx/missing","@id":"http://ex.org/x"}',
    '{"@context":"https://example.org/ctx/prefix","@id":',
]

_N_HUBS = 5


@dataclass(frozen=True)
class CorpusParams:
    """Knobs of one generated corpus.

    ``json_share``: share of turns carrying a JSON-LD document (inline in
    ``text`` or as the ``tool`` payload). ``entity_space``: number of
    distinct entity ids payloads draw from; a small space makes payloads
    repeat, a large one makes them nearly all distinct. ``hub_share``:
    share of entity draws that land on 5 hub entities. ``replay_share``:
    share of JSON-bearing turns re-emitted under the same
    ``(conv_id, turn_idx)``, half of them with a different payload.
    ``hot_share``: share of conversations folded into one hot ``conv_id``.
    """

    seed: int
    conversations: int
    turns_per_conv: int
    json_share: float
    entity_space: int
    hub_share: float = 0.1
    replay_share: float = 0.0
    hot_share: float = 0.0
    error_share: float = 0.01
    conv_prefix: str = "conv"


def _payload(rng: random.Random, p: CorpusParams) -> str:
    if rng.random() < p.error_share:
        return rng.choice(BROKEN_PAYLOADS)

    def entity() -> int:
        if rng.random() < p.hub_share:
            return rng.randrange(_N_HUBS)
        return _N_HUBS + rng.randrange(max(p.entity_space - _N_HUBS, 1))

    a, b = entity(), entity()
    return rng.choice(_TEMPLATES) % (a, a, b)


def generate(p: CorpusParams) -> pa.Table:
    """Build the corpus table for ``p`` (deterministic in ``p``)."""
    rng = random.Random(f"{p.seed}:{p.conv_prefix}")
    cols: dict[str, list] = {f.name: [] for f in SCHEMA}
    hot_turns = 0

    def emit(conv_id, turn_idx, role, text, tool, ts):
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(turn_idx)
        cols["role"].append(role)
        cols["text"].append(text)
        cols["tool"].append(tool)
        cols["ts"].append(ts)

    for c in range(p.conversations):
        hot = rng.random() < p.hot_share
        conv_id = f"{p.conv_prefix}-hot" if hot else f"{p.conv_prefix}-{c:07d}"
        for t in range(p.turns_per_conv):
            turn_idx = hot_turns if hot else t
            hot_turns += hot
            role = ("user", "assistant", "tool")[t % 3]
            ts = _EPOCH_US + (c * 3600 + t * 7) * 1_000_000
            prose = (
                f"turn {t}: Agent {rng.randrange(p.entity_space)} asked about "
                f"Event {rng.randrange(p.entity_space)}"
            )
            if rng.random() >= p.json_share:
                emit(conv_id, turn_idx, role, prose, None, ts)
                continue
            payload = _payload(rng, p)
            if role == "tool":
                text, tool = prose, payload
            else:
                text, tool = f"{prose} <jsonld>{payload}</jsonld>", None
            emit(conv_id, turn_idx, role, text, tool, ts)
            if rng.random() < p.replay_share:
                if rng.random() < 0.5:
                    # a retried tool call re-appended with a new payload
                    payload = _payload(rng, p)
                    if role == "tool":
                        tool = payload
                    else:
                        text = f"{prose} <jsonld>{payload}</jsonld>"
                emit(conv_id, turn_idx, role, text, tool, ts + 1_000_000)
    return pa.Table.from_pydict(cols, schema=SCHEMA)


def write_corpus(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=65536)
