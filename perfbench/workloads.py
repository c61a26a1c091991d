"""Workload definitions: which corpora each benchmark workload generates.

Every workload runs the same two operations, so every end-to-end metric
is measured on every workload:

- an append round: bootstrap ``run_incremental_snapshot_pipeline`` on the
  ``base`` corpus, then append each ``deltas`` corpus in turn;
- a full build: ``run_extraction_job(..., with_entity_layer=True)`` over
  the ``build`` corpus on a fresh warehouse.

The workloads differ in corpus shape; ``why`` says what each one is for.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from corpus import CorpusParams


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    build: CorpusParams
    base: CorpusParams
    deltas: tuple[CorpusParams, ...]


def _workload(name: str, why: str, build: CorpusParams) -> Workload:
    return Workload(
        name, why, build,
        replace(build, conversations=40, conv_prefix="base"),
        # every delta brings new entities at a steady rate, so each append
        # re-canonicalizes a similar number of blocks whatever the seed
        tuple(
            replace(
                build, conversations=8, hot_share=0.0,
                entity_space=1_000_000, conv_prefix=f"d{i}",
            )
            for i in range(1)
        ),
    )


def make(name: str, seed: int) -> Workload:
    if name == "build_unique":
        return _workload(
            name,
            "nearly all-distinct payloads over a large entity space: "
            "document-cache hit rate near 0, so kernel and extract work is "
            "largest",
            CorpusParams(
                seed=seed, conversations=400, turns_per_conv=16,
                json_share=0.6, entity_space=1_000_000, hub_share=0.05,
            ),
        )
    if name == "build_replay_skew":
        return _workload(
            name,
            "templated payloads (cache hit rate >= 0.9), replayed turns, a hot "
            "conv_id and hub entities: kernel work is small, shuffle, skew and "
            "fixed job costs dominate",
            CorpusParams(
                seed=seed, conversations=400, turns_per_conv=16,
                json_share=0.6, entity_space=8, hub_share=0.3,
                replay_share=0.3, hot_share=0.5,
            ),
        )
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("build_unique", "build_replay_skew")
