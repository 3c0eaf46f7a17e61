"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale shapes (the 100 TB view):
  - exact: one hash-partitioned groupBy on a 16-byte digest — the cheapest
    possible shuffle key; no skew (digests are uniform).
  - n-gram Jaccard brute force: O(n^2) within blocks — the *verification*
    kernel and small-scale baseline; never run unblocked at scale.
  - MinHash+LSH: the scale path — signatures via one vectorized pandas UDF
    (numpy universal hashing, one matmul-shaped min-reduce per batch), then
    band buckets as a groupBy key; only same-bucket pairs are candidates, so
    the join is linear in candidate count, not quadratic in corpus size.
  - SimHash: 64-bit signature, near-dups = Hamming <= k found by pigeonhole
    banding (k+1 chunks, at least one chunk equal) — again a bucket join.
"""

from __future__ import annotations

import itertools
import logging

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

MERSENNE31 = (1 << 31) - 1  # 31-bit Mersenne prime: (a*x+b) fits uint64


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the session's parallelism before a Python
    stage. Local small-file reads arrive as ONE partition, which would
    serialize the vectorized UDF on a single worker; at cluster scale inputs
    already arrive well-partitioned and this is a no-op.

    Streaming inputs are returned untouched: file-stream sources already
    split per file, ``df.rdd`` would raise AnalysisException on a streaming
    plan, and a repartition would force a shuffle per micro-batch. The
    ``getNumPartitions`` probe on the batch path costs one driver-side
    plan-to-RDD conversion — acceptable for these entry points, which each
    launch a multi-stage job anyway."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _mersenne_reduce(x: np.ndarray) -> np.ndarray:
    """x mod (2^31-1) for uint64 x < 2^62 WITHOUT integer division — uint64
    ``%`` vectorizes to a scalar divide per element and dominates the
    signature pass; the Mersenne fold (x & M) + (x >> 31), applied twice plus
    a conditional subtract, is ~10 cheap ops."""
    m = np.uint64(MERSENNE31)
    x = (x & m) + (x >> np.uint64(31))  # < 2^32
    x = (x & m) + (x >> np.uint64(31))  # <= M31 + 1
    return np.where(x >= m, x - m, x)


def duplicate_clusters(pairs: DataFrame, docs: DataFrame, *,
                       max_iters: int = 20) -> DataFrame:
    """Near-duplicate CLUSTER resolution: connected components over the
    verified-pair graph via min-label propagation — the step that turns
    pairwise near-dups into keep/drop decisions (keeper = the component's
    min doc_id, the same convention as exact_duplicates).

    Scale shape: each iteration is one (id->label) hash join + a groupBy of
    (id, label) LONGS — the text never enters the loop — plus (r06, r04/r05
    carried item) a POINTER-JUMPING step: after the neighbor-min update,
    every label is replaced by its label's label (one more longs-only hash
    join), so label chains halve each round and convergence is
    O(log diameter) instead of O(diameter) — a 1000-hop chain resolves in
    ~11 iterations (pytest-pinned) instead of truncating at ``max_iters``.
    If propagation is still changing labels when the bound hits, one true
    cluster reports as several keepers — that truncation is WARN-logged
    with the residual changed-count so callers can rerun with a higher
    bound instead of silently over-keeping. The
    convergence check is one count per iteration (bounded driver work, no
    collect of rows). Returns (doc_id, cluster_id, is_keeper) for EVERY doc
    (singletons are their own cluster). Each iteration's labels are
    localCheckpoint()ed (materialized + LINEAGE TRUNCATED): the label frame
    is consumed three times per round (neighbor lookup, label-of-label
    side, convergence diff), so without truncation the logical plan doubles
    every iteration and planning itself OOMs long before max_iters."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"),
                              F.col("cluster_id").alias("_nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_min_nl"))
            .withColumnRenamed("src", "doc_id")
        )
        # materialize + truncate before the self-join below consumes it twice
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("_min_nl", F.col("cluster_id"))
            ).alias("cluster_id"),
        ).localCheckpoint()
        # pointer jumping: follow the label's own label (labels always point
        # to equal-or-smaller ids, so chains shrink geometrically)
        lbl_of = stepped.select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_ll")
        )
        new = (
            stepped.join(lbl_of, "cluster_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("_ll", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new.withColumnRenamed("cluster_id", "_new")
            .join(labels, "doc_id")
            .filter(F.col("_new") != F.col("cluster_id"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        logging.getLogger(__name__).warning(
            "duplicate_clusters: label propagation NOT converged after "
            "%d iterations (%d labels still changing) — components with "
            "diameter > max_iters are split into multiple keepers; rerun "
            "with a higher max_iters", max_iters, changed,
        )
    edges.unpersist()
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def text_digest_expr(txt) -> "F.Column":
    """Normalized-content digest (lowercase, whitespace-collapsed md5) — the
    exact-dedup key, shared by exact_duplicates and composed presets."""
    norm = F.regexp_replace(F.lower(txt), "\\s+", " ")
    return F.md5(norm.cast("binary"))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeper = min
    doc_id, n_dups = group size. (r06: a pre-digest _spread was measured
    SLOWER at both bench scales — the digest regex+md5 parallelize worse
    than the extra shuffle costs — so the input partitioning is left to the
    source here.)"""
    return (
        docs.select("doc_id", text_digest_expr(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _word_ngrams(col, n: int = 3):
    toks = F.split(F.trim(F.lower(col)), "\\s+")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def ngram_jaccard_pairs(docs: DataFrame, *, n: int = 3, threshold: float = 0.5,
                        block_col: str | None = None) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs.

    ``block_col`` restricts the quadratic join to within-block pairs (at scale
    the blocks come from LSH buckets — see minhash_near_duplicates; unblocked
    this is the small-scale baseline / verification kernel)."""
    sh = _spread(docs.select("doc_id", "text", *([block_col] if block_col else []))).select(
        F.col("doc_id"), _word_ngrams(F.col("text"), n).alias("shingles"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect("a.shingles", "b.shingles"))
    union = F.size(F.array_union("a.shingles", "b.shingles"))
    jac = F.round(inter.cast("double") / union, 6)
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- vectorized text-hashing core ---------------------------------------------
# No per-token Python anywhere: a batch of documents is concatenated into ONE
# uint8 buffer; tokenization (whitespace runs), per-token polynomial hashing
# (two independent 31-bit bases -> 62 effective bits) and per-document
# reductions are all numpy array ops. This is the batch analog of the
# relational explode+xxhash64 plan, without the explode shuffle.

_HASH_BASE_1 = np.uint64(1_000_003)
_HASH_BASE_2 = np.uint64(1_000_033)
_M31 = np.uint64(MERSENNE31)


def _pow_table(base: np.uint64, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    acc = np.uint64(1)
    for i in range(n):
        out[i] = acc
        acc = (acc * base) % _M31  # < 2^31 * 2^31 fits uint64
    return out


def _token_hashes_batch(texts: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h1, h2, counts): two per-token 31-bit hash arrays for the whole batch
    (tokens in document order) and the token count per document.

    Tokenization matches ``str.split()`` on ASCII whitespace; hashing is a
    positional polynomial over the token's UTF-8 bytes, vectorized with a
    powers table + ``np.add.reduceat`` (no per-token Python)."""
    encoded = [(t or "").lower().encode("utf-8") for t in texts]
    doc_starts = np.zeros(len(encoded) + 1, dtype=np.int64)
    np.cumsum([len(e) + 1 for e in encoded], out=doc_starts[1:])
    buf = b"\n".join(encoded) + b"\n"
    arr = np.frombuffer(buf, dtype=np.uint8)
    ws = (arr == 32) | ((arr >= 9) & (arr <= 13))
    nonws = ~ws
    if not nonws.any():
        return (np.empty(0, np.uint64), np.empty(0, np.uint64),
                np.zeros(len(encoded), np.int64))
    is_start = nonws.copy()
    is_start[1:] &= ws[:-1]
    idx = np.flatnonzero(nonws)           # byte positions of token bytes
    starts = np.flatnonzero(is_start)     # byte positions of token starts
    # token id per token byte, position of each byte within its token
    tok_id = np.cumsum(is_start)[idx] - 1
    pos = idx - starts[tok_id]
    c = arr[idx].astype(np.uint64)
    max_len = int(pos.max()) + 1
    p1 = _pow_table(_HASH_BASE_1, max_len)
    p2 = _pow_table(_HASH_BASE_2, max_len)
    bounds = np.flatnonzero(np.diff(tok_id, prepend=-1))  # first byte of each token
    # products < 2^8 * 2^31 = 2^39; safe to sum ~2^23 bytes per token in uint64
    h1 = _mersenne_reduce(np.add.reduceat(c * p1[pos], bounds))
    h2 = _mersenne_reduce(np.add.reduceat(c * p2[pos], bounds))
    # tokens -> documents: a token belongs to the doc whose byte span holds it
    tok_doc = np.searchsorted(doc_starts, starts, side="right") - 1
    counts = np.bincount(tok_doc, minlength=len(encoded)).astype(np.int64)
    return h1, h2, counts


def _shingle_hashes_batch(
    h1: np.ndarray, h2: np.ndarray, counts: np.ndarray, n: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Combine consecutive token hashes into word-n-gram (shingle) hashes.

    Returns (shingles, doc_bounds): shingle values grouped by document and
    the start offset of each document's shingle run (every document gets at
    least one shingle — short docs hash their full token list, empty docs
    hash the empty string — mirroring the exact-verification kernel
    ``_word_ngrams`` which emits the whole line for <n tokens)."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    k1 = rng.integers(1, MERSENNE31, size=n, dtype=np.uint64)
    k2 = rng.integers(1, MERSENNE31, size=n, dtype=np.uint64)
    tok_starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=tok_starts[1:])
    n_tok = int(tok_starts[-1])

    # full windows: token t starts a shingle if t..t+n-1 stay inside one doc
    if n_tok >= n:
        win = np.zeros(n_tok - n + 1, dtype=np.uint64)
        for j in range(n):
            win = _mersenne_reduce(
                win + _mersenne_reduce(h1[j : n_tok - n + 1 + j] * k1[j])
                + _mersenne_reduce(h2[j : n_tok - n + 1 + j] * k2[j])
            )
        wdoc = np.searchsorted(tok_starts, np.arange(n_tok - n + 1), side="right") - 1
        valid = (np.arange(n_tok - n + 1) + n) <= tok_starts[wdoc + 1]
        win, wdoc = win[valid], wdoc[valid]
    else:
        win = np.empty(0, dtype=np.uint64)
        wdoc = np.empty(0, dtype=np.int64)

    # short/empty docs: one whole-doc shingle (position-weighted token sum)
    short = np.flatnonzero(counts < n)
    if short.size and n_tok == 0:
        sh_s = np.zeros(short.size, dtype=np.uint64)
    elif short.size:
        acc = np.zeros(len(counts), dtype=np.uint64)
        for j in range(n - 1):
            has = counts > j
            t = tok_starts[:-1] + j
            contrib = np.where(
                has,
                _mersenne_reduce(
                    _mersenne_reduce(h1[np.minimum(t, n_tok - 1)] * k1[j])
                    + _mersenne_reduce(h2[np.minimum(t, n_tok - 1)] * k2[j])
                ),
                np.uint64(0),
            )
            acc = _mersenne_reduce(acc + contrib)
        sh_s = acc[short]
    else:
        sh_s = np.empty(0, dtype=np.uint64)

    all_sh = np.concatenate([win, sh_s])
    all_doc = np.concatenate([wdoc, short])
    order = np.argsort(all_doc, kind="stable")
    grouped = all_sh[order]
    per_doc = np.bincount(all_doc, minlength=len(counts))
    doc_bounds = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(per_doc[:-1], out=doc_bounds[1:])
    return grouped, doc_bounds


# --- MinHash + LSH -----------------------------------------------------------


def _minhash_params(num_perm: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE31, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE31, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_min_reduce(sh: np.ndarray, doc_bounds: np.ndarray,
                        a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-document minimum of (a*sh + b) mod M over all shingles.

    r06: per-PERMUTATION 1-D passes instead of the [S, P] matrix expansion —
    each permutation reuses the contiguous shingle vector (cache-resident),
    folds one length-S temporary in place, and reduces with a CONTIGUOUS
    ``minimum.reduceat`` (the matrix form reduced along a 64-stride axis).
    Same modular arithmetic, bit-identical signatures, ~2.5x faster."""
    m = np.uint64(MERSENNE31)
    n_docs, n_perm = len(doc_bounds), a.size
    sigs = np.full((n_docs, n_perm), m, dtype=np.uint64)
    if sh.size == 0:
        return sigs
    ends = np.append(doc_bounds[1:], len(sh))
    nonempty = np.flatnonzero(ends > doc_bounds)
    if nonempty.size == 0:
        return sigs
    starts = doc_bounds[nonempty]
    v = np.empty_like(sh)
    for p in range(n_perm):
        np.multiply(sh, a[p], out=v)              # < 2^62
        v += b[p]                                 # < 2^62 + 2^31
        t = v >> np.uint64(31); v &= m; v += t    # fold 1 (in place)
        t = v >> np.uint64(31); v &= m; v += t    # fold 2 -> <= M+1
        np.subtract(v, m, out=v, where=v >= m)    # canonical residue
        sigs[nonempty, p] = np.minimum.reduceat(v, starts)
    return sigs


def _pairs_in_bucket(ids):
    """All ordered (a < b) pairs from a SORTED array column — the bucket-local
    pair generator: flatten(transform(ids, (x,i) -> transform(tail_i, y ->
    (x,y)))). Pure array expressions, whole-stage codegen, no self-join."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)), lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )


#: default degenerate-bucket cap for every production LSH path. At near-dup
#: thresholds genuine buckets hold a handful of ids; a band value shared by a
#: huge fraction of the corpus (the classic case: millions of empty/boilerplate
#: documents hashing identically in every band) would otherwise materialize
#: O(B^2) pairs inside ONE task — the standard LSH OOM at crawl scale. 512 ids
#: bounds a bucket's expansion at ~131k pairs (one comfortably-sized task)
#: while sitting orders of magnitude above any honest near-dup bucket. Every
#: LSH path applies it in ``_bucket_pair_rows``; ``max_bucket=None`` disables
#: it, and ``bucket_stats`` / the ``dropped`` Observation show what it removed.
DEFAULT_MAX_BUCKET = 512


#: monotone suffix for the always-on named observation (observation names
#: must be unique within one query; a pipeline may compose several
#: bucket stages)
_OBS_SEQ = itertools.count()


def _bucket_pair_rows(banded: DataFrame, bucket_cols: list[str], item,
                      max_bucket: int | None, dropped) -> DataFrame:
    """The bucket stage of every LSH path: ONE groupBy collects the sorted
    ``item`` values per bucket (ids, or structs carrying a payload such as
    simhash's signature) and array expressions explode each bucket's ordered
    pairs as ``_p`` (``_p.a`` < ``_p.b``). Buckets over ``max_bucket`` items
    give NO pairs, never silently: the named observation
    ``lsh_capped_buckets_N`` always counts them, and an Observation passed as
    ``dropped`` reads ``dropped_buckets``/``max_bucket_size`` on the same action."""
    grouped = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(item)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket is not None:
        over = F.size("_ids") > max_bucket
        grouped = grouped.observe(
            f"lsh_capped_buckets_{next(_OBS_SEQ)}",
            F.sum(over.cast("int")).alias("capped_buckets"),
            F.max(F.size("_ids")).alias("max_bucket_size"),
        )
        if dropped is not None:
            grouped = grouped.observe(
                dropped,
                F.sum(over.cast("int")).alias("dropped_buckets"),
                F.max(F.size("_ids")).alias("max_bucket_size"),
            )
        grouped = grouped.filter(~over)
    return grouped.select(F.explode(_pairs_in_bucket(F.col("_ids"))).alias("_p"))


def bucket_pairs(banded: DataFrame, bucket_cols: list[str], id_col: str = "doc_id",
                 max_bucket: int | None = DEFAULT_MAX_BUCKET,
                 dropped=None) -> DataFrame:
    """(id, bucket...) rows -> distinct candidate pairs through the shared
    bucket stage (``_bucket_pair_rows``: ONE groupBy, pairs expanded with
    array expressions). Compared to the classic bucket self-join this halves
    the shuffled data and avoids recomputing the (Python-stage) signature
    source for each join side. Buckets over ``max_bucket`` ids (default
    ``DEFAULT_MAX_BUCKET``) contribute no pairs, observably."""
    return (
        _bucket_pair_rows(banded, bucket_cols, F.col(id_col), max_bucket, dropped)
        .select(F.col("_p.a").alias("doc_a"), F.col("_p.b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def bucket_stats(banded: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """LSH bucket-size distribution — the skew observable that decides when
    ``max_bucket`` capping is needed: one row per bucket size with the count
    of buckets and the quadratic pair cost they induce. At 100 TB this is the
    table a pipeline operator watches (a degenerate band value shows up as a
    single giant-size row long before the pair stage OOMs)."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count("*").alias("bucket_size"))
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .withColumn(
            "candidate_pairs",
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
             * F.col("n_buckets")).cast("long"),
        )
    )


def minhash_banded(docs: DataFrame, *, num_perm: int = 64, bands: int = 16,
                   ngram: int = 3, seed: int = 1) -> DataFrame:
    """Fused signatures+banding: ONE vectorized Python pass emits the skinny
    (doc_id, band_id, bucket) table directly — the band bucket is a
    SplitMix64 combine of the band's signature slice, computed in numpy, so
    no full signature array ever enters a shuffle."""
    a_params, b_params = _minhash_params(num_perm, seed)
    width = num_perm // bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h1, h2, counts = _token_hashes_batch(list(pdf["text"]))
            sh, doc_bounds = _shingle_hashes_batch(h1, h2, counts, ngram, seed)
            sigs = _minhash_min_reduce(sh, doc_bounds, a_params, b_params)
            view = sigs.reshape(len(pdf), bands, width)
            buck = np.zeros((len(pdf), bands), dtype=np.uint64)
            for w in range(width):
                buck = _splitmix64(buck ^ view[:, :, w])
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), bands),
                    "band_id": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "bucket": buck.reshape(-1).astype(np.int64),
                }
            )

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        run, schema="doc_id long, band_id int, bucket long"
    )


def minhash_near_duplicates(docs: DataFrame, *, num_perm: int = 64, bands: int = 16,
                            ngram: int = 3, threshold: float = 0.5,
                            max_bucket: int | None = DEFAULT_MAX_BUCKET,
                            dropped=None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    exact-jaccard verification on the candidates only. Degenerate band values
    are capped at ``max_bucket`` ids by default (see DEFAULT_MAX_BUCKET);
    pass an Observation as ``dropped`` to count what the cap removed."""
    banded = minhash_banded(docs, num_perm=num_perm, bands=bands, ngram=ngram)
    cands = bucket_pairs(banded, ["band_id", "bucket"], max_bucket=max_bucket,
                         dropped=dropped)
    # r06 (guide §3.2 / §1.2): compute the verify-stage shingles ONLY for
    # candidate PAIR rows. The n-gram expression is the dominant verify cost
    # and was previously evaluated for the FULL corpus on both join sides
    # (the shingle projection sat below the join, and Catalyst never pushes
    # a join's implicit semi-filter beneath a computed projection) even
    # though candidates are orders of magnitude fewer. Joining the candidate
    # ids to the raw text first and shingling AFTER both joins evaluates the
    # expression 2x|pairs| times instead of 2x|corpus|, moves the (shorter)
    # text instead of shingle arrays through the join, and uses the
    # candidate subplan exactly once. Inner joins + identical expressions =
    # identical output.
    #
    # _spread keeps the text side off a single-partition local read; join
    # strategy is left to Catalyst/AQE deliberately: at bench scale the text
    # corpus is broadcast (file stats say tiny); at real scale those same
    # stats say huge, so the candidate side — orders of magnitude smaller by
    # construction — becomes the AQE-chosen build side. Forcing broadcast
    # hints here measured ~3s of extra broadcast-job barriers per hint on
    # local[32] with zero plan benefit.
    txt = _spread(docs.select("doc_id", "text"))
    with_a = (
        txt.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("text", "_text_a")
        .join(cands, "doc_a")
    )
    verified = (
        txt.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("text", "_text_b")
        .join(with_a, "doc_b")
        .withColumn("sh_a", _word_ngrams(F.col("_text_a"), ngram))
        .withColumn("sh_b", _word_ngrams(F.col("_text_b"), ngram))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


# --- SimHash -----------------------------------------------------------------


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (public-domain mixer): diffuses the 62-bit
    polynomial token hashes over all 64 output bits. uint64 wraparound is the
    intended modular arithmetic."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def simhash_signatures(docs: DataFrame, *, seed: int = 2) -> DataFrame:
    """64-bit SimHash over word tokens, fully vectorized: the batch's tokens
    are hashed in one numpy pass (_token_hashes_batch), mixed to 64 bits,
    unpacked to a sign matrix [T, 64], and per-document bit votes come from a
    segmented ``add.reduceat`` — no per-token Python anywhere."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), 4096):
                sub = pdf.iloc[lo : lo + 4096]
                h1, h2, counts = _token_hashes_batch(list(sub["text"]))
                sigs = np.zeros(len(sub), dtype=np.uint64)
                nonempty = np.flatnonzero(counts > 0)
                if nonempty.size:
                    h64 = _splitmix64((h1 << np.uint64(31)) | h2 ^ np.uint64(seed))
                    # r06 (guide §1.2 step 2 — per-task work): the [T, 64]
                    # sign matrix was int64 (8 bytes/bit); unpackbits gives
                    # the same bits as uint8, the segmented reduce counts
                    # ONES instead of summing ±1 signs, and the majority
                    # vote becomes 2*ones > n_tokens — integer-exact, ~5x
                    # less memory traffic, packbits re-packs the signature.
                    bits = np.unpackbits(
                        h64.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                    )
                    starts = np.zeros(len(sub), dtype=np.int64)
                    np.cumsum(counts[:-1], out=starts[1:])
                    ones = np.add.reduceat(
                        bits, starts[nonempty], axis=0, dtype=np.int64
                    )
                    maj = (2 * ones) > counts[nonempty, None]
                    sigs[nonempty] = np.packbits(
                        maj, axis=1, bitorder="little"
                    ).view(np.uint64)[:, 0]
                yield pd.DataFrame(
                    {"doc_id": sub["doc_id"].to_numpy(),
                     "simhash": sigs.astype(np.int64)}  # store as signed long
                )

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        run, schema="doc_id long, simhash long"
    )


def simhash_near_duplicates(docs: DataFrame, *, max_hamming: int = 3,
                            max_bucket: int | None = DEFAULT_MAX_BUCKET,
                            dropped=None) -> DataFrame:
    """Pigeonhole banding: split 64 bits into max_hamming+1 chunks; any pair
    within Hamming distance k must agree on >= 1 chunk (exact-recall filter).
    The chunk buckets go through bucket_pairs' stage (``_bucket_pair_rows``)
    with (id, signature) structs as items, so verification is a pure bit-op
    filter on the expanded pairs — zero joins end to end. That stage caps
    degenerate chunk buckets at ``max_bucket`` (identical signatures in every
    chunk — e.g. empty documents — would otherwise expand quadratically in
    one task). CAVEAT: the pigeonhole
    exact-recall guarantee therefore holds only for pairs whose shared chunk
    bucket is <= ``max_bucket``; a mass-duplicated signature (>512 copies of
    the same boilerplate) loses its pairs to the cap — which is why capped
    counts are always emitted via a named observation, and why mass-dup
    corpora should run exact_duplicates FIRST (identical text never needs
    LSH) or pass ``max_bucket=None``."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sigs = simhash_signatures(docs)
    chunk_exprs = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND((1 << width) - 1)
            for i in range(chunks)
        ]
    )
    banded = sigs.select(
        F.struct(F.col("doc_id").alias("id"), F.col("simhash").alias("sig")).alias("ds"),
        F.posexplode(chunk_exprs).alias("chunk_id", "chunk"),
    )
    return (
        _bucket_pair_rows(banded, ["chunk_id", "chunk"], F.col("ds"),
                          max_bucket, dropped)
        .select(
            F.col("_p.a.id").alias("doc_a"),
            F.col("_p.b.id").alias("doc_b"),
            F.bit_count(F.col("_p.a.sig").bitwiseXOR(F.col("_p.b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def line_dedup(docs: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Corpus-wide LINE-level exact dedup — the C4/MassiveText recipe that
    kills repeated boilerplate lines (cookie banners, newsletter prompts,
    license headers) which document-level dedup never sees: every line keeps
    only its globally FIRST occurrence (ordered by (doc, position)); all
    later copies across the whole corpus are dropped, then each document is
    reassembled from its surviving lines in order.

    Scale shape: posexplode -> ONE shuffle keyed on the line's 128-bit md5
    (uniform, skew-free — the boilerplate line that appears 10^9 times hashes
    to one key but its group reduces to a single min, a map-side-combinable
    aggregate, NOT a collected bucket) -> broadcast-or-shuffle join back on
    (line_hash, doc, pos) -> per-doc sort_array rebuild. The line text
    itself crosses the wire once (in the rebuild path); the dedup decision
    rides the 16-byte digest.

    Plan trade, made deliberately: the source is scanned twice (the exploded
    lines feed both the first-occurrence aggregate and the join-back) in
    exchange for NO window sort — the alternative single-scan
    row_number()-over-(line_hash) plan materializes and sorts a boilerplate
    line's entire 10^9-copy group inside one task. Two cheap scans beat one
    skewed sort at crawl scale; a pipeline that already persists the
    exploded lines reclaims the second scan for free.

    Returns (id, text, n_lines, n_kept) — text rebuilt from kept lines
    (possibly empty when every line was seen earlier)."""
    lines = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    ).withColumn("line_hash", F.md5("line"))
    firsts = lines.groupBy("line_hash").agg(
        F.min(F.struct(id_col, "pos")).alias("_first"),
    ).select(
        "line_hash",
        F.col(f"_first.{id_col}").alias("_fid"), F.col("_first.pos").alias("_fpos"),
    )
    kept = lines.join(firsts, "line_hash").withColumn(
        "_keep", (F.col(id_col) == F.col("_fid")) & (F.col("pos") == F.col("_fpos"))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("_keep").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "line")).alias("s")
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col),
        )
        .select(id_col, text_col, "n_lines", F.col("n_kept").cast("int").alias("n_kept"))
    )


def cluster_keepers(clusters: DataFrame, meta: DataFrame, *, order_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Keeper-selection POLICY over resolved dup clusters: real pipelines
    rarely keep the min-id copy — they keep the newest crawl snapshot or the
    highest-quality rendition. Picks, per cluster, the row maximizing
    ``order_col`` (ties -> smallest id, deterministic).

    Works for ANY orderable id type (long, string url, ...) — the
    tie-break is max(order) then min(id), computed as two successive
    map-side-combinable aggregates rather than a negated-id struct (which
    would require a numeric id) or a window sort. Scale shape: one skinny
    (id, cluster_id, order) join, then two groupBy(cluster_id) aggregates
    and hash joins all keyed on cluster_id — a pathological 10^6-member
    cluster reduces without materializing/sorting its rows in one task."""
    joined = clusters.select(id_col, "cluster_id").join(
        meta.select(id_col, order_col), id_col
    )
    best = joined.groupBy("cluster_id").agg(F.max(F.col(order_col)).alias("_bo"))
    withbest = joined.join(best, "cluster_id")
    keeper = (
        withbest.filter(F.col(order_col) == F.col("_bo"))
        .groupBy("cluster_id")
        .agg(F.min(F.col(id_col)).alias("_kid"))
    )
    return (
        withbest.join(keeper, "cluster_id")
        .select(
            id_col, "cluster_id", order_col,
            (F.col(id_col) == F.col("_kid")).alias("is_keeper"),
        )
    )
