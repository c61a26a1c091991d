"""Deduplication operators for training-data pipelines over ``documents``.

All hash choices are md5-based so every operator has a bit-identical DuckDB
oracle (the driver's correctness gate): Spark's ``md5`` and DuckDB's ``md5``
agree, and 15 hex chars cast to BIGINT stay within 60 bits on both engines.

Scale notes (100 TB / 10^9+ docs):
- exact dedup is a single hash-aggregate (map-side partial + final) on a
  16-byte digest — the minimal-shuffle formulation.
- MinHash-LSH shuffles (band_id, band_hash) pairs, not token sets; candidate
  pairs only materialize within a bucket (classic Broder scheme). Band
  buckets with one member are dropped before the self-join, and the
  self-join is on the tiny bucket table, never doc × doc.
- SimHash decomposes into (doc × bit) partial sums — pure JVM bit-ops, no
  UDF anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalized_text(col=F.col("text")) -> F.Column:
    """Lowercase, collapse non-alphanumerics — the canonical form shared by
    every dedup operator (and mirrored in the DuckDB oracles)."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")


def tokens(col=F.col("text")) -> F.Column:
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


def shingle_array(toks: F.Column, n: int) -> F.Column:
    """Word n-gram shingles via shifted-array zip_with (JVM-side) — the
    shared builder for every shingling operator in this module.

    Deliberately NOT the transform(sequence(...), i -> slice(toks, i, n))
    form: that embeds the whole tokenizer expression in the lambda body,
    and higher-order lambdas re-evaluate outer references PER ELEMENT
    (tokenizer once per shingle index — measured 3.3× slower on the
    textstats fingerprint operator). Here ``toks`` evaluates n times per
    row (once per shifted copy), each zip_with input exactly once.
    slice with length 0 handles short docs (empty gram array)."""
    L = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, L)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, k + 1, L),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact near-copy groups: md5 over normalized text.

    Returns (text_hash, n_dups, keep_doc_id) for groups with >1 member.
    """
    return (
        docs.select(
            F.col("doc_id"), F.md5(normalized_text()).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("text_hash")
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(doc_id, h0..h{n-1}) — hash i = min over tokens of md5(token||'#'||i).

    min over hex strings is lexicographic on both engines → portable.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("tok")
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("tok"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame, n_hashes: int = 16, n_bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns (doc_a, doc_b) with doc_a < doc_b, distinct. rows_per_band =
    n_hashes / n_bands; two docs pair iff some band's concatenated minhashes
    are identical.

    ``max_bucket`` caps the per-(band, band_hash) bucket size before the
    self-join: an uncapped hot bucket of k members emits O(k²) pairs — at
    10^9 docs one degenerate band (e.g. a boilerplate-dominated signature)
    is a job-killer. Buckets past the cap are dropped entirely; a bucket
    that large is a boilerplate cluster, not a near-dup candidate set worth
    pairwise expansion (mirror of the ``_MAX_BLOCK`` cap of same_as_edges,
    entity.py). The DuckDB oracle applies the identical cap.
    """
    assert n_hashes % n_bands == 0
    rows = n_hashes // n_bands
    sigs = minhash_signatures(docs, n_hashes)
    # All bands from ONE pass: explode an array of (band, band_hash) structs
    # instead of a union of per-band selects. The union form re-derives the
    # whole tokenize→minhash pipeline once per band per join side (16 scans
    # of the corpus at 4 bands — measured via tools/explain_audit.py); the
    # explode form scans it once per join side.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    all_bands = sigs.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))
    # prune single-member buckets (no pair possible) AND over-cap buckets
    # (O(k²) blowup) before the self-join: a window count over the same
    # (band, band_hash) key the join shuffles on — no extra scan, and the
    # join below reuses the window's hash partitioning
    from pyspark.sql import Window

    bucket_w = Window.partitionBy("band", "band_hash")
    member = (
        all_bands.withColumn("k", F.count("*").over(bucket_w))
        .where((F.col("k") > 1) & (F.col("k") <= max_bucket))
        .drop("k")
    )
    left = member.select("band", "band_hash", F.col("doc_id").alias("doc_a"))
    right = member.select("band", "band_hash", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8,
    max_df: int = 200,
) -> DataFrame:
    """Token n-gram Jaccard similarity for candidate pairs sharing ≥1 shingle.

    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold. The shingle
    inverted index bounds the join: only docs sharing a shingle ever meet.

    ``max_df`` drops stop-shingles (document frequency > max_df) from the
    shingle space entirely — index, intersection counts AND set sizes, so
    jaccard stays a true Jaccard over the filtered space. Without it, one
    boilerplate shingle shared by 10^6 docs emits 10^12 index-join rows.
    The filter is a count window over the same shingle key the
    intersection join shuffles on, so its exchange is the join's exchange
    (a separate groupBy-stop-set + broadcast anti-join formulation
    measured 2× slower at sf0.1 — see the inline note). The DuckDB oracle
    applies the identical filter.
    """
    # per-doc token cap bounds the inverted index for pathological
    # documents; see shingle_array for the zip_with-vs-transform rationale
    grams = shingle_array(F.slice(tokens(), 1, 200), n)
    # PITFALL (measured, do not "optimize"): carrying the set size alongside
    # the explode via a two-step select
    # (select(gs) -> select(size(gs), explode(gs))) looks like it saves the
    # `sizes` re-scans, but Catalyst's CollapseProject substitutes the whole
    # shingle pipeline into BOTH size() and explode() — the tokenizer then
    # runs twice per row and the scan gets 4x slower (17s vs 4.4s at sf0.1).
    # The formulation below re-derives `shingled` for the two join sides and
    # the sizes agg (3 pruned-column scans), which benches fastest and keeps
    # the plan checkpoint-free (no materialization of the exploded table,
    # which at 100 TB would dwarf the extra scans).
    shingled = docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )
    if max_df is not None:
        # document-frequency filter via a window over the SAME key the
        # intersection join shuffles on (the minhash_lsh_pairs pattern):
        # the window's exchange is the join's exchange, so no extra
        # full-table shuffle materializes (a separate groupBy+anti-join
        # formulation measured 2× slower at sf0.1)
        from pyspark.sql import Window

        df_w = Window.partitionBy("shingle")
        shingled = (
            shingled.withColumn("__df", F.count("*").over(df_w))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        shingled.alias("a")
        .join(shingled.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Portable SimHash: per-token 60-bit md5-derived hash, per-bit ±1 sums,
    sign-collapsed into a ``bits``-wide fingerprint. Pure JVM bit ops.

    Returns (doc_id, simhash).
    """
    tok_hash = F.conv(
        F.substring(F.md5(F.col("tok")), 1, 15), 16, 10
    ).cast("long")
    toks = docs.select("doc_id", F.explode(F.array_distinct(tokens())).alias("tok"))
    with_bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        tok_hash.alias("th"),
    )
    # F.shiftright/shiftleft take literal ints only — use SQL exprs for
    # column-valued shift amounts
    bit_sums = with_bits.groupBy("doc_id", "bit").agg(
        F.sum(
            F.when(F.expr("(shiftright(th, cast(bit AS int)) & 1) = 1"), 1)
            .otherwise(-1)
        ).alias("s")
    )
    return (
        bit_sums.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0,
                    F.expr("shiftleft(cast(1 AS bigint), cast(bit AS int))"),
                ).otherwise(0)
            ).alias("simhash")
        )
        .orderBy("doc_id")
    )


def embedding_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_tables: int = 4,
    max_bucket: int | None = 4096,
    max_shards: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicates with LSH candidate blocks — the
    scale path that needs NO provided clustering column: multi-table
    sign-LSH buckets (similarity.lsh_buckets) bound the self-comparison,
    each bucket scores with one numpy matmul inside ``applyInPandas``,
    and cross-table duplicate pairs collapse deterministically.

    **Bucket-size bound** (``max_bucket``, default on): over-cap buckets
    are split into ≤cap shards and scored as (base-shard × query-shard)
    group pairs (similarity._symmetric_group_rows) — every in-bucket pair
    is still emitted, per-task input is hard-bounded at 2·cap rows
    (asserted in-kernel), the pair SET is identical to the unsharded run
    (cross-group duplicates collapse in the same max() merge that already
    handles cross-table repeats). Buckets past cap·max_shards are dropped
    — at that size the bucket is a boilerplate cluster whose O(k²)
    pairwise expansion is infeasible under any schedule (the
    minhash_lsh_pairs(max_bucket) judgment).

    Recall: a pair at cosine ≥ t collides per table with probability
    (1 - arccos(t)/π)^planes — at t=0.9, planes=4 that's ≈ 0.66 per
    table, ≈ 0.99 with 4 tables; higher thresholds only improve it, so
    the near-dup regime is exactly where sign-LSH is strong (measured vs
    brute force in tests/test_operators_training.py sibling tests).
    Returns (vec_a, vec_b, cosine) with vec_a < vec_b.
    """
    from .similarity import (
        _f64_matrix,
        _rounded_cosine,
        _shard_assign,
        _symmetric_group_rows,
        lsh_buckets,
    )

    buckets = lsh_buckets(embeddings, n_planes=n_planes, n_tables=n_tables)
    import numpy as np
    import pandas as pd

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )

    if max_bucket is None:
        e = embeddings.join(buckets, "vec_id").select(
            "bucket", "vec_id", "embedding"
        )

        def pairs_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return _empty()
            M = _f64_matrix(pdf["embedding"])
            sims = _rounded_cosine(M, M)
            ids = pdf["vec_id"].to_numpy()
            ii, jj = np.where(np.triu(sims >= threshold, k=1))
            return pd.DataFrame(
                {"vec_a": np.minimum(ids[ii], ids[jj]),
                 "vec_b": np.maximum(ids[ii], ids[jj]),
                 "cosine": sims[ii, jj]}
            )

        scored = e.groupBy("bucket").applyInPandas(
            pairs_kernel, "vec_a long, vec_b long, cosine double"
        )
    else:
        rows = _symmetric_group_rows(
            _shard_assign(buckets, "bucket", max_bucket), max_shards
        )
        e = rows.join(embeddings.select("vec_id", "embedding"), "vec_id").select(
            "bucket", "gb", "gq", "side", "vec_id", "embedding"
        )

        def pairs_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            b = pdf[pdf["side"] != "q"]
            q = pdf[pdf["side"] != "b"]
            if len(b) > max_bucket or len(q) > max_bucket:
                raise RuntimeError(
                    f"LSH shard over cap: {len(b)}b/{len(q)}q > {max_bucket}"
                )
            if not len(b) or not len(q):
                return _empty()
            sims = _rounded_cosine(
                _f64_matrix(q["embedding"]), _f64_matrix(b["embedding"])
            )
            q_ids = q["vec_id"].to_numpy()
            b_ids = b["vec_id"].to_numpy()
            ii, jj = np.where(sims >= threshold)
            keep = q_ids[ii] != b_ids[jj]
            ii, jj = ii[keep], jj[keep]
            return pd.DataFrame(
                {"vec_a": np.minimum(q_ids[ii], b_ids[jj]),
                 "vec_b": np.maximum(q_ids[ii], b_ids[jj]),
                 "cosine": sims[ii, jj]}
            )

        scored = e.groupBy("bucket", "gb", "gq").applyInPandas(
            pairs_kernel, "vec_a long, vec_b long, cosine double"
        )
    # cross-table (and cross-shard-group) duplicate pairs: the same pair
    # scored in two different matrices can differ in the rounded 6th
    # decimal (BLAS accumulation order varies with matrix shape), so
    # dropDuplicates would keep a partitioning-dependent survivor —
    # aggregate max() instead: deterministic, and the max is the better
    # estimate
    return scored.groupBy("vec_a", "vec_b").agg(
        F.max("cosine").alias("cosine")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, max_block: int = 4096
) -> DataFrame:
    """Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.

    Brute-force within ``label`` blocks (the provided clustering column) so
    the self-join is block-bounded; when no clustering column exists, use
    :func:`embedding_neardup_pairs_lsh` (the quantizer-blocked scale path).

    ``max_block`` caps block size the same way every other member of the
    dedup family does (minhash/simhash bucket caps, LSH/IVF shard caps): a
    degenerate label holding a large fraction of the corpus would otherwise
    reintroduce the O(k²) single-task blowup this blocking exists to avoid.
    Over-cap blocks are dropped (a block that size is a bad clustering
    column, not a dedup unit); the window count partitions on the join key,
    so it rides the self-join's own exchange.
    """
    from pyspark.sql import Window

    blk_w = Window.partitionBy("label")
    norm = F.sqrt(F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    ))
    e = (
        embeddings.select(
            "vec_id", "label", F.col("embedding"), norm.alias("norm")
        )
        .withColumn("blk_n", F.count(F.lit(1)).over(blk_w))
        .where(F.col("blk_n") <= max_block)
        .drop("blk_n")
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"), F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.label") == F.col("b.label"))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def simhash_pairs(
    docs: DataFrame,
    bits: int = 48,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidate blocking by fingerprint
    bands, exact Hamming filter — the pairing half the fingerprint
    operator (:func:`simhash`) was missing.

    Pigeonhole recall guarantee: two fingerprints within Hamming distance
    d < n_bands agree on at least one of the n_bands equal-width bands, so
    band-equality blocking finds EVERY pair with hamming ≤ max_hamming
    when max_hamming < n_bands (asserted). Entirely JVM-side: band
    extraction is shift/mask, the distance is bit_count(xor) — no UDF, and
    the same formulation runs verbatim in the DuckDB oracle.

    Scale shape mirrors :func:`minhash_lsh_pairs`: the self-join runs on
    (band, band_value) buckets, single-member buckets are pruned and
    over-``max_bucket`` buckets dropped via a window count over the join's
    own shuffle key (a giant band bucket is boilerplate, not a near-dup
    cluster). Band width must keep bucket fan-in under the cap: 16-bit
    fingerprints give 4-bit bands (16 values!) whose buckets blow past any
    cap on a similar-document corpus — measured recall collapse at sf0.01;
    48-bit defaults (12-bit bands, 4096 values) are exact vs brute force
    there (pinned by test). Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    assert max_hamming < n_bands, "pigeonhole guarantee needs d < n_bands"
    assert bits % n_bands == 0
    width = bits // n_bands
    mask = (1 << width) - 1
    sigs = simhash(docs, bits)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"shiftright(simhash, {b * width}) & {mask}"
                ).alias("band_value"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sigs.select(
        "doc_id", "simhash", F.explode(bands).alias("bb")
    ).select(
        "doc_id", "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.band_value").alias("band_value"),
    )
    from pyspark.sql import Window

    bucket_w = Window.partitionBy("band", "band_value")
    member = (
        exploded.withColumn("k", F.count(F.lit(1)).over(bucket_w))
        .where((F.col("k") > 1) & (F.col("k") <= max_bucket))
        .drop("k")
    )
    left = member.select(
        "band", "band_value",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
    )
    right = member.select(
        "band", "band_value",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        left.join(right, ["band", "band_value"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def substring_dup_stats(
    docs: DataFrame, n: int = 8, max_tokens: int = 200
) -> DataFrame:
    """Exact-substring duplication stats — the suffix-array criterion of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), re-expressed for Spark: a token position is
    DUPLICATED when the ``n``-token shingle starting there occurs at
    least twice in the whole corpus (any document, including its own —
    the paper's "appears more than once" rule). Per document this emits

    - ``n_shingles``      — shingle positions considered (≤ max_tokens−n+1),
    - ``n_dup_positions`` — how many of them are duplicated,
    - ``max_dup_span``    — longest run of consecutive duplicated
      positions + (n−1): the length in TOKENS of the longest exactly-
      duplicated substring, the quantity the paper's suffix array yields,
    - ``dup_frac``        — n_dup_positions / n_shingles (rounded 1e-6).

    Shape: positional shingles (posexplode of the zip_with shingle
    array, duplicates KEPT — corpus multiplicity is the criterion),
    corpus counts via a count window over the shingle key (ONE exchange,
    the ngram_jaccard_pairs pattern), then gaps-and-islands per doc
    (``pos − row_number()`` run grouping) for the longest span. All JVM.

    Scale: the shingle-window exchange is the cost center; a boilerplate
    shingle with 10^6 occurrences lands its whole group on one task —
    bounded by max shingle multiplicity, not corpus size. At that skew
    swap the window for operators/skew.salted_count + an equi-join back
    (two exchanges, both salted); kept single-exchange here because dup
    multiplicities in real corpora are Zipf-bounded far below task size.
    Shingles shuffle as strings for engine-independent exactness; at
    10^12 tokens swap in a 128-bit hash column (xxhash64 pair) — noted
    rather than done so the DuckDB oracle stays collision-free by
    construction.
    """
    from pyspark.sql import Window

    toks = F.slice(tokens(), 1, max_tokens)
    L = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    pos = docs.select(
        "doc_id",
        F.posexplode(shingle_array(toks, n)).alias("pos0", "shingle"),
    )
    dup = (
        pos.withColumn(
            "__cnt", F.count("*").over(Window.partitionBy("shingle"))
        )
        .where(F.col("__cnt") >= 2)
        .select("doc_id", "pos0")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos0")
    runs = (
        dup.withColumn("__grp", F.col("pos0") - F.row_number().over(w_doc))
        .groupBy("doc_id", "__grp")
        .agg(F.count("*").alias("run"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup_positions"),
        (F.max("run") + F.lit(n - 1)).alias("max_dup_span"),
    )
    sizes = docs.select("doc_id", L.alias("n_shingles"))
    return sizes.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce("n_dup_positions", F.lit(0))
        .cast("long")
        .alias("n_dup_positions"),
        F.coalesce("max_dup_span", F.lit(0)).cast("long").alias("max_dup_span"),
        F.when(
            F.col("n_shingles") > 0,
            F.round(
                F.coalesce("n_dup_positions", F.lit(0))
                / F.col("n_shingles"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )
