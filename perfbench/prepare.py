"""Materialize one workload's corpora and expected outputs, once per seed.

Run as a separate process before the benchmark starts Spark, so that
neither corpus generation nor the reference computation shows in any
timing or in the measured peak memory::

    python3 perfbench/prepare.py --workload build_unique --seed 1 --out DIR

Expected outputs come from the repository's Spark-free, cache-free kernel
loop (``tools/make_golden.extract_rows``) and its union-find node/edge
mirror (``tools/make_golden.write_nodes_edges``). Replayed
``(conv_id, turn_idx)`` rows are resolved first with the same survivor
rule the job applies: the row with the largest
``sha2(len(text) ‖ text ‖ tool)`` wins.

Everything lands in ``DIR`` and ``DIR/done.json`` is written last, so a
directory with ``done.json`` is complete and is reused as is.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import sys

import pandas as pd
import pyarrow.parquet as pq

from corpus import BROKEN_PAYLOADS, generate, write_corpus
from workloads import make

REPO = os.getcwd()


def _golden_module():
    spec = importlib.util.spec_from_file_location(
        "make_golden", os.path.join(REPO, "tools", "make_golden.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replay_survivors(pdf: pd.DataFrame) -> pd.DataFrame:
    """Candidate turns with replays collapsed to the job's survivor row."""
    tool_ok = pdf["tool"].notna()
    inline = pdf["text"].fillna("").str.contains("<jsonld>", regex=False)
    cand = pdf[tool_ok | inline].copy()
    text = cand["text"].fillna("")
    tool = cand["tool"].fillna("")
    cand["_h"] = [
        hashlib.sha256(f"{len(a)}\x1f{a}\x1f{b}".encode()).hexdigest()
        for a, b in zip(text, tool)
    ]
    cand = cand.sort_values("_h", ascending=False, kind="stable")
    return cand.drop_duplicates(["conv_id", "turn_idx"]).drop(columns="_h")


def expected_outputs(golden, pdfs: list[pd.DataFrame], out: str, name: str) -> int:
    """Write ``<name>_{triples,nodes,edges}.parquet``; return the row count.
    Each frame in ``pdfs`` is deduplicated on its own, as each snapshot is
    extracted on its own."""
    rows: list[tuple] = []
    for pdf in pdfs:
        rows.extend(golden.extract_rows(replay_survivors(pdf)))
    pq.write_table(golden._triples_table(rows), os.path.join(out, f"{name}_triples.parquet"))
    tmp = os.path.join(out, f"_{name}_ne")
    os.makedirs(tmp, exist_ok=True)
    golden.write_nodes_edges(rows, tmp)
    for part in ("nodes", "edges"):
        os.replace(
            os.path.join(tmp, f"{part}.parquet"),
            os.path.join(out, f"{name}_{part}.parquet"),
        )
    os.rmdir(tmp)
    return len(rows)


def kernel_sample(pdf: pd.DataFrame, seed: int, n: int = 400) -> list[str]:
    """A fixed sample of the corpus' distinct, well-formed documents."""
    docs: dict[str, None] = {}
    for text, tool in zip(pdf["text"], pdf["tool"]):
        if isinstance(tool, str):
            docs[tool] = None
        if isinstance(text, str) and "<jsonld>" in text:
            docs[text.split("<jsonld>", 1)[1].rsplit("</jsonld>", 1)[0]] = None
    good = [d for d in docs if d not in BROKEN_PAYLOADS]
    return random.Random(seed).sample(good, min(n, len(good)))


def prepare(workload: str, seed: int, out: str) -> dict:
    done = os.path.join(out, "done.json")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh)
    os.makedirs(out, exist_ok=True)
    sys.path.insert(0, REPO)
    golden = _golden_module()
    wl = make(workload, seed)

    build = generate(wl.build)
    write_corpus(build, os.path.join(out, "build.parquet"))
    build_pdf = build.to_pandas()
    meta = {
        "build_rows": build.num_rows,
        "build_triples": expected_outputs(golden, [build_pdf], out, "build"),
        "kernel_sample": kernel_sample(build_pdf, seed),
    }
    del build, build_pdf

    round_pdfs = []
    for i, params in enumerate((wl.base,) + wl.deltas):
        table = generate(params)
        name = "base" if i == 0 else f"delta_{i - 1}"
        write_corpus(table, os.path.join(out, f"{name}.parquet"))
        round_pdfs.append(table.to_pandas())
    meta["n_deltas"] = len(wl.deltas)
    meta["append_triples"] = expected_outputs(golden, round_pdfs, out, "append")

    with open(done + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(done + ".tmp", done)
    return meta


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    prepare(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
