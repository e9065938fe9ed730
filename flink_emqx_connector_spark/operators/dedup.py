"""Deduplication operators for LLM training-data pipelines.

Not in the reference (it has no relational surface at all — SURVEY.md §2.4);
these are first-class extensions mandated by BASELINE.json, designed
shuffle-first for 100 TB:

- exact dedup: shuffle 16-byte digests, never the corpus;
- MinHash + LSH: candidate generation by band-bucket join (shuffle is
  |docs|·bands tiny rows), exact-Jaccard verification only on candidates;
- SimHash: 64-bit fingerprint per doc via one Arrow-vectorized pass;
- n-gram Jaccard: exact all-pairs via shingle inverted index (the oracle /
  small-scale path that LSH approximates);
- embedding near-dup: cosine over a blocking key to avoid the quadratic
  cross join.

Determinism: every hash is seed-fixed (murmur3 via ``F.hash`` / md5), so
results are reproducible run-to-run and cluster-to-cluster.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^61-1: modulus for the universal-hash permutations.
_MERSENNE = (1 << 61) - 1


def word_ngrams(col, n: int = 2):
    """Distinct word n-gram shingles of a text column, as an array column.

    Built-ins only, and deliberately *without* per-element ``element_at``
    inside a lambda: indexed access in a higher-order-function lambda defeats
    common-subexpression elimination and measured ~18× slower than this
    shape. Instead: n-1 ``zip_with`` folds over shifted ``slice`` views of
    the word array — each a single vectorized pass. Texts shorter than n
    words yield an empty array (slice length clamps to 0).
    """
    w = F.split(col, " ")
    if n == 1:
        return F.array_distinct(w)
    length = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    acc = F.slice(w, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(w, 1 + j, length), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keep-list: min id per distinct content digest."""
    return (
        docs.select(F.col(id_col), F.md5(F.encode(text_col, "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).cast("bigint").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _shingle_table(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # Repartition first: the docs table is often a single parquet file →
    # one input partition → everything downstream (explode, join, agg)
    # would run on one task. Spread by id before the expensive expression.
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("doc"), word_ngrams(F.col(text_col), n).alias("sh")
    )
    return sh


def _measure_exprs(measure: str):
    """Column-expression hook parametrizing the pair-measure algebra.

    Returns ``(sim_builder, out_builder, out_col)`` where ``sim_builder(
    inter, na, nb)`` is the raw similarity expression (used in the
    threshold filter) and ``out_builder(sim)`` the engine-stable rounded
    output column. Two measures share every physical plan in this module:

    - ``jaccard``: |A∩B| / |A∪B| — the symmetric near-dup relation;
      half-up ``F.round`` (both engines round the shortest repr the same
      way at the 4dp grain observed for set-ratio values; pinned by the
      long-green dedup_ngram_jaccard record).
    - ``containment``: |A∩B| / min(|A|,|B|) — the asymmetric relation
      (short doc quoted/embedded in a long one) Jaccard misses; floor-form
      rounding (floor(x*1e4+0.5)/1e4 — identical IEEE steps both engines).

    The hook exists so X85 rides the SAME cost-based dense/inverted
    routing as X2/X24 instead of its own unbounded Σdf² self-join (the
    round-7 scale-killer); only this threshold algebra differs.
    """
    if measure == "jaccard":
        return (
            lambda i, na, nb: i / (na + nb - i),
            lambda sim: F.round(sim, 4).alias("jaccard"),
            "jaccard",
        )
    if measure == "containment":
        return (
            lambda i, na, nb: i / F.least(na, nb),
            lambda sim: (F.floor(sim * 1e4 + 0.5) / 1e4).alias("containment"),
            "containment",
        )
    raise ValueError(f"unknown pair measure: {measure!r}")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact all-pairs n-gram similarity ≥ threshold via shingle inverted index.

    Plan: explode distinct shingles → self-equi-join on the shingle (this is
    the inverted index; no quadratic cross join) → per-pair intersection
    count → join per-doc sizes → similarity filter. At 100 TB the same plan
    works once hot shingles are dropped (document-frequency cap) — LSH
    (``minhash_lsh_pairs``) replaces it when even that is too dense.

    Returns ``doc_a, doc_b, <measure>`` (doc_a < doc_b, rounded 4dp).
    ``shingles``: optional precomputed ``_shingle_table`` output (the auto
    selector passes its stats-pass table so the corpus isn't re-shingled).
    ``measure``: ``jaccard`` (default) or ``containment`` — see
    ``_measure_exprs``; the physical plan is identical.
    """
    sim_of, out_of, _ = _measure_exprs(measure)
    sh = shingles if shingles is not None else _shingle_table(docs, text_col, id_col, n)
    # Carry the set size through the explode so no size-lookup join is
    # needed later, and join on xxhash64 of the shingle, not the string:
    # the self-join moves (8B key, 8B doc, 4B n) rows instead of text
    # (collision odds over a shingle vocabulary are ~|V|²/2⁶⁴ — vanishing).
    ex = sh.select(
        "doc", F.size("sh").alias("n"), F.explode("sh").alias("s")
    ).select("doc", "n", F.xxhash64("s").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sim = sim_of(F.col("inter"), F.col("na"), F.col("nb"))
    return inter.filter(sim >= threshold).select("doc_a", "doc_b", out_of(sim))


def ngram_jaccard_pairs_dfcap(
    docs: DataFrame,
    threshold: float,
    df_cap: int = 50,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    measure: str = "jaccard",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over the DF-CAPPED shingle space: shingles appearing
    in more than ``df_cap`` documents are dropped before the inverted-index
    self-join.

    The self-join produces Σ df(s)² rows; hot boilerplate shingles (page
    headers, licenses, markup) dominate that sum while carrying no dedup
    signal — the cap bounds every term at df_cap², which is what keeps the
    exact inverted index viable at 100 TB (the docstring promise of
    ``ngram_jaccard_pairs``, delivered). Set sizes are recomputed over the
    capped space so Jaccard stays a true set similarity there.

    The exploded shingle table feeds four consumers (df filter, per-doc
    sizes, both self-join sides), so the capped table is localCheckpoint'ed
    once — the same eager-driver-step pattern as connected_components —
    and per-doc sizes ride along as a window column so the self-join's
    groupBy carries them for free (no size-lookup joins).

    ``measure='containment'`` keeps the identical capped plan but divides
    by min(|A|,|B|) over the CAPPED space — note the recall tradeoff is
    sharper than for Jaccard: a short doc quoted inside boilerplate loses
    its (hot, capped) shingles and with them containment evidence. The
    cap is still the correct 100 TB lever; pick df_cap by the hottest
    boilerplate the corpus is expected to carry.
    """
    from pyspark.sql import Window

    sim_of, out_of, _ = _measure_exprs(measure)
    # `shingles`: the auto selector's persisted stats-pass table — accept
    # it like the dense/inverted branches so this regime doesn't pay a
    # second corpus shingling (ADVICE r8)
    sh = _shingle_table(docs, text_col, id_col, n) if shingles is None else shingles
    ex = sh.select("doc", F.explode("sh").alias("s")).select(
        "doc", F.xxhash64("s").alias("s")
    ).localCheckpoint()
    kept = ex.groupBy("s").agg(F.count("*").alias("df")).filter(
        F.col("df") <= df_cap
    )
    cex = (
        ex.join(kept.select("s"), "s")
        .withColumn("n", F.count("*").over(Window.partitionBy("doc")))
        .localCheckpoint()
    )
    a, b = cex.alias("a"), cex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sim = sim_of(F.col("inter"), F.col("na"), F.col("nb"))
    return inter.filter(sim >= threshold).select("doc_a", "doc_b", out_of(sim))


# Dense-path budget: use the broadcast-bitmap plan only while the full
# docs×vocab bit-matrix stays comfortably broadcastable (cells = docs*vocab;
# 1e8 cells ≈ 12.5 MB packed / 400 MB as float32 work matrix per executor).
_DENSE_MAX_CELLS = 100_000_000

def _popcount_inplace(x, t):
    """Elementwise SWAR popcount of uint64 array ``x``, IN PLACE (``x`` is
    destroyed and ends holding per-element bit counts). ``t`` is same-shape
    uint64 scratch. Used by the dense all-pairs matmul (numpy < 2 has no
    ``bitwise_count``)."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    np.right_shift(x, np.uint64(1), out=t)
    t &= m1
    x -= t
    np.right_shift(x, np.uint64(2), out=t)
    t &= m2
    x &= m2
    x += t
    np.right_shift(x, np.uint64(4), out=t)
    x += t
    x &= m4
    x *= h
    np.right_shift(x, np.uint64(56), out=x)


def _pack_bitmaps(sh: DataFrame, vocab: dict, nbytes: int) -> list:
    """Pack each doc's shingle set into a vocab-indexed little-endian bitmap
    and collect: one distributed pass, rows of ``(doc, n, bits)``. The caller
    bounds ``len(vocab) × docs`` (broadcast budget) before calling."""
    import numpy as np

    from pyspark.sql import types as T

    bc_vocab = sh.sparkSession.sparkContext.broadcast(vocab)

    def _pack(iterator):
        for pdf in iterator:
            v = bc_vocab.value
            dense = np.zeros((len(pdf), nbytes * 8), dtype=bool)
            sizes = np.zeros(len(pdf), dtype=np.int64)
            for i, shingles in enumerate(pdf["sh"]):
                if shingles is None:  # NULL text → empty shingle set
                    continue
                idx = [v[s] for s in shingles]
                sizes[i] = len(idx)
                dense[i, idx] = True
            out = np.packbits(dense, axis=1, bitorder="little")
            yield pd.DataFrame(
                {"doc": pdf["doc"], "n": sizes, "bits": [r.tobytes() for r in out]}
            )

    packed_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("bits", T.BinaryType()),
        ]
    )
    return sh.select("doc", "sh").mapInPandas(_pack, packed_schema).collect()


def ngram_jaccard_pairs_dense(
    docs: DataFrame,
    threshold: float,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via broadcast bitmap + blocked matmul.

    Physical fast path for the *dense* regime (small shingle vocabulary,
    e.g. templated/synthetic corpora): when nearly every pair of documents
    shares a shingle, the inverted-index self-join degenerates to Σ df(s)²
    rows (~36 M at sf0.1 here) through a skewed few-key shuffle. Instead:

    1. one distributed pass packs each doc's shingle set into a vocab-indexed
       bitmap (vocab collected once — it is small by precondition);
    2. the full (docs × vocab/8) packed matrix — KBs to a few MB — is
       broadcast like a broadcast-join build side;
    3. each task computes its *block* of the intersection matrix with
       bitwise AND + an 8-bit popcount lookup table (pure numpy elementwise
       — no BLAS, so 32 concurrent Python workers don't fight over BLAS
       thread pools), then filters by Jaccard.

    No shuffle at all; work is O(docs²·vocab/64) spread evenly over tasks
    (no key skew possible). Falls back to ``ngram_jaccard_pairs`` above this
    size — ``ngram_jaccard_pairs_auto`` chooses, the way Spark chooses
    broadcast vs shuffle joins.
    """
    import numpy as np

    from pyspark import StorageLevel
    from pyspark.sql import types as T

    _, out_of, _ = _measure_exprs(measure)
    containment = measure == "containment"
    spark = docs.sparkSession
    # One shingle computation feeds both driver-side jobs (vocab, pack).
    # A caller-provided table (the auto selector's, already persisted) is
    # used as-is; otherwise shingle + persist here and release in finally.
    owned = shingles is None
    sh = _shingle_table(docs, text_col, id_col, n) if owned else shingles
    if owned:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        vocab_rows = sh.select(F.explode("sh").alias("s")).distinct().collect()
        vocab = {s: i for i, s in enumerate(sorted(r["s"] for r in vocab_rows))}
        nbits = max(len(vocab), 1)
        # Pad packed rows to whole uint64 words for the SWAR popcount below.
        nbytes = ((nbits + 63) // 64) * 8
        # bounded by _DENSE_MAX_CELLS/8 bytes — broadcast-sized
        full = _pack_bitmaps(sh, vocab, nbytes)
    finally:
        if owned:
            sh.unpersist()

    n_docs = len(full)
    full_docs = np.array([r["doc"] for r in full], dtype=np.int64)
    full_n = np.array([r["n"] for r in full], dtype=np.int64)
    full_words = np.frombuffer(
        b"".join(r["bits"] for r in full), dtype=np.uint64
    ).reshape(n_docs, nbytes // 8)
    bc_full = spark.sparkContext.broadcast((full_docs, full_n, full_words))

    # The pair computation needs no further Spark input: every task slices
    # its row-block straight out of the broadcast matrix. range(n_blocks)
    # is just the work assignment. 2× parallelism keeps every core busy
    # with mild skew tolerance; an A/B against work-proportional task
    # counts (fewer, fatter blocks) measured ~2× WORSE wall-clock at
    # sf0.1 — the popcount inner loop parallelizes better than its
    # per-task overhead costs (NOTES.md r5).
    n_blocks = max(1, min(n_docs, spark.sparkContext.defaultParallelism * 2))
    block = (n_docs + n_blocks - 1) // n_blocks
    # Bound the per-task uint64 scratch (3 × rows × n_docs × 8 B) to ~64 MB
    # regardless of corpus size — at the _DENSE_MAX_CELLS ceiling a whole
    # block would otherwise allocate gigabytes.
    rows_cap = max(1, (64 << 20) // (max(n_docs, 1) * 8 * 3))

    def _block_pairs(iterator):
        f_docs, f_n, f_words = bc_full.value
        n_words = f_words.shape[1]
        for pdf in iterator:
            for bid in pdf["id"]:
                b_lo = int(bid) * block
                b_hi = min(b_lo + block, n_docs)
                for lo in range(b_lo, b_hi, rows_cap):
                    hi = min(lo + rows_cap, b_hi)
                    b = hi - lo
                    if b <= 0:
                        continue
                    # Loop over uint64 word-columns with preallocated
                    # scratch: peak temp = 3 × (b × n_docs × 8 B), instead
                    # of one giant b × n_docs × n_words cube that thrashes
                    # the allocator.
                    inter = np.zeros((b, n_docs), dtype=np.uint64)
                    x = np.empty((b, n_docs), dtype=np.uint64)
                    t = np.empty((b, n_docs), dtype=np.uint64)
                    for wi in range(n_words):
                        np.bitwise_and(
                            f_words[lo:hi, wi, None], f_words[None, :, wi], out=x
                        )
                        _popcount_inplace(x, t)
                        inter += x
                    inter_i = inter.astype(np.int64)
                    if containment:
                        den = np.minimum(f_n[lo:hi, None], f_n[None, :])
                    else:
                        den = f_n[lo:hi, None] + f_n[None, :] - inter_i
                    blk_doc = f_docs[lo:hi, None]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        jac = np.where(den > 0, inter_i / den, 0.0)
                    mask = (jac >= threshold) & (blk_doc < f_docs[None, :])
                    ai, bi = np.nonzero(mask)
                    if len(ai):
                        yield pd.DataFrame(
                            {
                                "doc_a": blk_doc[ai, 0],
                                "doc_b": f_docs[bi],
                                "jac_raw": jac[ai, bi],
                            }
                        )

    pair_schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jac_raw", T.DoubleType()),
        ]
    )
    blocks = spark.range(n_blocks, numPartitions=n_blocks)
    # Round JVM-side so rounding semantics match the SQL oracle exactly
    # (half-up F.round for jaccard, floor-form for containment).
    return blocks.mapInPandas(_block_pairs, pair_schema).select(
        "doc_a", "doc_b", out_of(F.col("jac_raw"))
    )


#: Inverted-index budget: the shingle self-join produces Σ df(s)² rows;
#: above this the exact join shuffle is the bottleneck and the selector
#: routes to MinHash-LSH (precision still 1.0 — candidates are verified
#: with exact Jaccard — only recall becomes probabilistic, ~0.99 at the
#: threshold with the default band geometry).
_INVERTED_MAX_ROWS = 2_000_000_000


def ngram_jaccard_pairs_auto(
    docs: DataFrame,
    threshold: float,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: dict | None = None,
    measure: str = "jaccard",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Cost-based strategy pick for n-gram pair generation (Jaccard or
    containment — the ``_measure_exprs`` hook; identical physical plans).

    ONE statistics pass over a persisted shingle table (docs, approx vocab,
    exact Σ df² join-row estimate), then three regimes — mirroring Spark's
    own broadcast-vs-shuffle join choice:

    1. **dense** broadcast-bitmap matmul while docs×vocab fits the
       broadcast budget (identical results, zero shuffle);
    2. **inverted index** exact self-join while the estimated join size
       Σ df(s)² fits ``_INVERTED_MAX_ROWS``;
    3. above that, the 100 TB regime where any exact all-pairs plan is
       join-bound: **MinHash-LSH** for Jaccard (precision stays 1.0 —
       exact verify — recall probabilistic); **df-capped inverted index**
       for containment — MinHash signatures estimate Jaccard, not
       containment (a short doc inside a long one agrees on few signature
       slots), so banding would lose exactly the asymmetric pairs the
       measure exists to find. The df-cap bounds every Σ df² term at
       df_cap² instead; recall cost documented on
       ``ngram_jaccard_pairs_dfcap``.

    The persisted stats-pass table is handed to the chosen strategy, and
    the strategy's ANSWER-SIZED pair output is checkpointed eagerly before
    the shingle frame is unpersisted — so the corpus is shingled exactly
    ONCE per execution (r14; the r13 shape unpersisted before returning a
    lazy plan, which re-tokenized the corpus a second time at execution in
    every one of this function's ~10 registered callers). No
    session-lifetime cache: the persist is released inside this call, and
    the checkpoint is freed with the returned DataFrame.
    ``stats``, when passed, records the decision for tests/observability.
    ``shingles``: optional caller-OWNED precomputed ``_shingle_table``
    frame (a composition sharing one persisted frame across member plans);
    when given, this function neither persists nor unpersists it — the
    caller keeps it alive until the returned plan (or its checkpoint) has
    materialized.
    """
    from pyspark import StorageLevel

    caller_owned = shingles is not None
    sh = (
        shingles
        if caller_owned
        else _shingle_table(docs, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    try:
        ex = sh.select("doc", F.explode_outer("sh").alias("s"))
        row = ex.agg(
            F.approx_count_distinct("doc").alias("docs"),
            F.approx_count_distinct("s").alias("vocab"),
        ).collect()[0]
        n_docs, vocab = row["docs"] or 0, row["vocab"] or 0
        decision = {"docs": n_docs, "vocab": vocab, "join_rows": None}
        if n_docs * vocab <= _DENSE_MAX_CELLS:
            decision["strategy"] = "dense"
            if stats is not None:
                stats.update(decision)
            # eager checkpoint of the answer-sized pair list WHILE sh is
            # still persisted: the one tokenize pass (the stats pass above)
            # serves the whole execution
            return ngram_jaccard_pairs_dense(
                docs, threshold, n, text_col, id_col, shingles=sh, measure=measure
            ).localCheckpoint()
        join_rows = (
            ex.groupBy("s")
            .agg(F.count("*").alias("df"))
            .agg(F.sum(F.col("df") * F.col("df")).alias("jr"))
            .collect()[0]["jr"]
        ) or 0
        decision["join_rows"] = int(join_rows)
        if join_rows <= _INVERTED_MAX_ROWS:
            decision["strategy"] = "inverted"
            if stats is not None:
                stats.update(decision)
            return ngram_jaccard_pairs(
                docs, threshold, n, text_col, id_col, shingles=sh, measure=measure
            ).localCheckpoint()
        if measure == "containment":
            decision["strategy"] = "dfcap"
            if stats is not None:
                stats.update(decision)
            return ngram_jaccard_pairs_dfcap(
                docs, threshold, n=n, text_col=text_col, id_col=id_col,
                measure=measure, shingles=sh,
            ).localCheckpoint()
        decision["strategy"] = "minhash_lsh"
        if stats is not None:
            stats.update(decision)
        # sh is safe to hand over even when auto owns it: the signature
        # table is checkpointed EAGERLY inside minhash_lsh_pairs (i.e.
        # before the finally-unpersist), and nothing else in the returned
        # plan references the shingle frame — so NO extra output checkpoint
        # is needed on this branch.
        return minhash_lsh_pairs(
            docs,
            threshold=threshold,
            n=n,
            text_col=text_col,
            id_col=id_col,
            shingles=sh,
        )
    finally:
        if not caller_owned:
            sh.unpersist()


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_j(x) = (a*x + b) mod p.

    a < 2^29 and x < 2^32 keep a*x + b < 2^62 — no int64 overflow under
    ANSI arithmetic (Spark 4 default), and the identical expression is
    safe in DuckDB BIGINT arithmetic (the SQL oracle embeds the same
    literals; see plans/dedup.py:_minhash_oracle_sql).
    """
    out = []
    for j in range(num_hashes):
        d = hashlib.sha256(f"minhash-{seed}-{j}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % ((1 << 29) - 1)) + 1
        b = int.from_bytes(d[8:16], "big") % (1 << 61)
        out.append((a, b))
    return out


def _shingle_hash_expr(col):
    """Engine-portable 32-bit shingle hash: first 8 hex chars of md5.

    Replaces the earlier murmur3 (``F.hash``) element hash so the ENTIRE
    MinHash pipeline — signatures, banding, screen, verify — is
    deterministically replayable in DuckDB SQL
    (``('0x' || substr(md5(s),1,8))::UBIGINT``), the same md5-replica
    pattern the SimHash oracle proved (plans/dedup.py dedup_simhash).
    h < 2^32 keeps h*a + b < 2^62 for the permutation arithmetic.
    Cross-shingle collisions (~|V|²/2³³) perturb a signature slot with
    vanishing probability and affect only recall, never the exact verify.
    """
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast(
        "bigint"
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: ``doc, sig`` (``sig`` = array of k longs).

    Shingles are exploded, hashed JVM-side with the md5-derived 32-bit
    element hash (``_shingle_hash_expr`` — deterministic across engines,
    so the DuckDB oracle replays the exact signatures), and the k
    universal-hash permutations fold as ``min()`` aggregates over the
    exploded rows, packed into ONE array column (r14 — the previous
    ``mh0..mh{k-1}`` scalar layout made every downstream projection
    k+1 columns wide; the widest dedup plans paid 36–45 s of cold
    whole-stage-codegen compilation for it, and the banding/screen plan
    text grew with k). The aggregation itself is unchanged — k partial
    (map-side) min aggregates, so the shuffle moves |docs| rows of k+1
    longs, never the exploded shingle stream — and every expression stays
    plain codegen'd arithmetic. Docs whose text yields no shingles
    (< n words) have no signature row — they cannot near-dup anything.
    (An Arrow/numpy formulation was also benchmarked and lost: the
    Python-worker round-trip cost more than the JVM kernel.)

    ``shingles``: optional precomputed ``_shingle_table`` output (a
    composition's shared frame) — short/null-text docs carry empty/null
    arrays there, which the explode drops, so signatures are identical to
    building from ``docs`` directly.
    """
    params = _minhash_params(num_hashes)
    sh = shingles if shingles is not None else _shingle_table(docs, text_col, id_col, n)
    ex = sh.select("doc", F.explode("sh").alias("s")).select(
        "doc", _shingle_hash_expr(F.col("s")).alias("h")
    )
    mins = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE))
        for a, b in params
    ]
    # nsh = |distinct shingle set| (one exploded row per array element —
    # word_ngrams arrays are array_distinct'ed) rides along for free in
    # the same aggregate; the verify stage's exact size-ratio prefilter
    # reads it instead of paying a size-lookup join.
    return ex.groupBy("doc").agg(
        F.array(*mins).alias("sig"), F.count("*").alias("nsh")
    )


def _verify_candidates(
    docs: DataFrame,
    cand: DataFrame,
    sigs: DataFrame,
    threshold: float,
    num_hashes: int,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Screen + exactly verify LSH candidate pairs → ``doc_a, doc_b, jaccard``.

    Two stages, both O(candidates), never O(corpus²):

    1. **Estimated-Jaccard prefilter** — sig agreement fraction ≈ Jaccard,
       and the signatures are already checkpointed by the caller, so
       screening the raw band-collision candidates costs two narrow joins
       + ``num_hashes`` equality terms, all codegen. A templated corpus
       floods the buckets with low-similarity collisions (367k candidates
       on 50k docs at sf0.1, ~0.1% precision); the screen drops the bulk
       of them before the expensive exact verify. The floor is set
       2.5 standard deviations below the threshold —
       ``threshold − 2.5·sqrt(s(1−s)/k)`` with k = num_hashes — so a true
       pair at exactly s = threshold survives w.p. ≈ Φ(2.5) ≈ 0.99 of the
       Binomial(k, s) agreement tail (k=32, s=0.5 → floor 0.28; a fixed
       −0.15 margin only gave ~0.94-0.95 survival there). Pairs above
       the threshold survive with higher probability still.
    2. **Exact shingle-Jaccard verify** — shingle ONLY the docs that
       appear in some surviving pair (id filter pushed into the scan; AQE
       broadcasts it when small), join each side's shingle set, and
       compute exact Jaccard with array_intersect. Shingles are
       xxhash64'd so set ops compare 8-byte ints, not strings (collision
       odds ~|V|²/2⁶⁴ — vanishing). Precision of the final output is 1.0.
    """
    est_floor = max(
        threshold - 2.5 * (threshold * (1 - threshold) / num_hashes) ** 0.5,
        0.0,
    )
    siga = sigs.select(
        F.col("doc").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("nsh").alias("nsh_a"),
    )
    sigb = sigs.select(
        F.col("doc").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("nsh").alias("nsh_b"),
    )
    # agreement fraction over the two k-long signature ARRAYS: the screen
    # joins now carry one array column per side instead of k scalar
    # columns (r14 — same count/k value as the old k-term when-sum, far
    # smaller generated code on the widest plan in the registry)
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(num_hashes)
    # EXACT size-ratio pre-drop, first conjunct so it short-circuits the
    # estimator for mismatched pairs: |A∩B| ≤ min ⟹ jaccard ≤ min/max, so
    # a pair with least/greatest < threshold can NEVER verify — dropping
    # it is output-neutral (measured: 26% of screened pairs on the sf0.1
    # templated corpus), and the screened checkpoint + exact verify
    # shrink by the same fraction.
    # (the 1e-9 slack guards the one-ulp boundary for non-dyadic
    # thresholds; at the registry's 0.5 the comparison is exact anyway)
    ratio_ok = F.least("nsh_a", "nsh_b") >= F.lit(threshold) * F.greatest(
        "nsh_a", "nsh_b"
    ) - F.lit(1e-9)
    screened = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .filter(ratio_ok & (est >= F.lit(est_floor)))
        .select("doc_a", "doc_b")
        # Materialize the screened pair list (small by construction — LSH
        # + the estimator filter exist to make it small): the exact verify
        # consumes it twice (pair list + doc-id filter), and without the
        # checkpoint each consumer would re-run the screening joins.
        .localCheckpoint()
    )
    cand_ids = screened.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    cand_docs = docs.join(cand_ids, id_col)
    # Checkpoint the candidate shingle table: BOTH legs of the pair
    # self-join below read it, and a self-join gets no ReuseExchange under
    # AQE — without the checkpoint the corpus scan + tokenize + xxhash64
    # of the candidate docs ran twice (r14; candidate-bounded by
    # construction, 8 B/shingle — the §5 cache-selection rule's "reduced
    # table").
    sh = (
        _shingle_table(cand_docs, text_col, id_col, n)
        .select("doc", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"))
        .localCheckpoint()
    )
    sa = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    # Engine-stable rounding (floor(x*1e4+0.5)/1e4 — see plans/rounding.py):
    # identical IEEE steps on Spark and DuckDB, so the oracle matches
    # bit-for-bit even at shortest-repr boundaries. Jaccard is non-negative.
    jac_r = F.floor(jac * 10000 + 0.5) / 10000
    return (
        sa.join(screened, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", jac_r.alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    rows-per-band r = num_hashes/bands; a pair with Jaccard s collides in
    ≥1 band with prob 1-(1-s^r)^bands (r=2, b=16 → 0.99 at s=0.5). The
    band shuffle moves |docs|·bands short rows — this is the 100 TB path
    where the exact inverted index (``ngram_jaccard_pairs``) gets too
    dense. Candidates are verified with exact Jaccard, so precision is
    1.0 and only recall is probabilistic. Two probabilistic stages
    compose the recall at s = threshold: band collision
    (1-(1-s^r)^b ≈ 0.99) × the verify stage's estimated-Jaccard screen
    (≈ 0.99 at its 2.5σ floor, see ``_verify_candidates``) ≈ 0.98;
    pairs above the threshold survive both with higher probability.
    Exact copies share every band key, pass the screen at agreement 1
    and verify at exactly 1.0, so every copy pair is found.

    One plan for every corpus, skew included: a bucket's pairs come from
    a shuffle self-join of the (band, bucket) rows, which AQE's skew
    split can cut at map-output boundaries. A hot template's m copies
    fill one bucket per band, so that join emits bands·C(m,2) rows before
    the ``distinct`` — spread over tasks, never built in one.

    Docs whose text has < n words produce no shingles and cannot pair
    (Jaccard on two empty sets is 0/0): excluded up front.

    ``shingles``: optional precomputed ``_shingle_table`` output shared by
    a composition (e.g. ``dedup_lsh_recall_eval`` runs this plan AND the
    exact-Jaccard plan over one persisted shingle frame) — signatures are
    built from it instead of re-tokenizing the corpus; results identical
    (empty/null shingle arrays explode away).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    docs = docs.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias(text_col)
    ).filter(F.size(F.split(F.col(text_col), " ")) >= F.lit(n))
    id_col = "doc"
    # The signature table is localCheckpoint'ed so the whole pipeline
    # computes it exactly ONCE (bucketing + the estimated-Jaccard filter
    # below both consume it); the earlier explicit persist leaked a
    # CacheManager entry for the session lifetime.
    sigs = minhash_signatures(
        docs, num_hashes, n, text_col, id_col, shingles=shingles
    ).localCheckpoint()
    # Exact band key (concat of the band's r signature slots) instead of a
    # murmur3 hash of them: grouping is identical-or-better (no bucket-hash
    # collisions) and the key is trivially reproducible in the SQL oracle.
    # The shuffle rows grow from 4-byte ints to ~2×20-char strings — still
    # short rows, |docs|×bands of them. Slots come out of the signature
    # ARRAY (element_at is 1-based); cast(bigint→string) matches the
    # implicit coercion the old scalar-column concat_ws applied.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.element_at("sig", bi * r + j + 1).cast("string")
                        for j in range(r)
                    ],
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    buckets = sigs.select("doc", F.explode(band_structs).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    # Candidate generation: a self-join of the bucket rows on (band, bh).
    # The join streams the short (band, bh, doc) rows from every mapper,
    # so AQE can split a hot bucket across tasks. Collecting a bucket's
    # docs into one row and exploding it would build all m² pairs in the
    # one task that owns that row (pinned by
    # tests/test_dedup.py::test_minhash_candidate_join_is_skew_splittable).
    # NOT checkpointed: the verify stage consumes the raw candidate list
    # exactly once (the screening join) and checkpoints only the much
    # smaller screened output.
    ba = buckets.select("band", "bh", F.col("doc").alias("doc_a"))
    bb = buckets.select("band", "bh", F.col("doc").alias("doc_b"))
    cand = (
        ba.join(bb, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_candidates(
        docs, cand, sigs, threshold, num_hashes, n, text_col, id_col
    )


_SIMHASH_BITS = 64


_TOKEN_HASH_CACHE: dict[str, int] = {}
# Bound the process-lifetime memo (VERDICT r10 #3): a long-lived worker
# scanning a 100 TB corpus can see GBs of unique tokens — at the cap the
# cache clears wholesale (cheaper than LRU bookkeeping per token; the md5
# recompute on a cold token is ~1 µs, so a rare full re-warm is noise).
# 2^18 entries ≈ tens of MB — covers the Zipf head, which is where all
# the hit-rate lives.
_TOKEN_HASH_CACHE_MAX = 1 << 18


def _token_hash_cache_trim() -> None:
    if len(_TOKEN_HASH_CACHE) > _TOKEN_HASH_CACHE_MAX:
        _TOKEN_HASH_CACHE.clear()


def _simhash_one(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-based (seed-free,
    deterministic everywhere). Reference semantics for tests; the hot path
    is the batch-vectorized ``_simhash_batch``."""
    import numpy as np

    hs = []
    for tok in text.split(" "):
        h = _TOKEN_HASH_CACHE.get(tok)
        if h is None:
            (h,) = struct.unpack(">Q", hashlib.md5(tok.encode()).digest()[:8])
            _TOKEN_HASH_CACHE[tok] = h
        hs.append(h)
    _token_hash_cache_trim()
    arr = np.array(hs, dtype=np.uint64)
    # bit i set in fp iff more tokens have bit i set than unset (tie → 0),
    # identical to the per-bit ±1 accumulator formulation
    bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).sum(axis=0)
    fp = 0
    for i in np.nonzero(2 * bits > len(hs))[0]:
        fp |= 1 << int(i)
    # wrap to signed 64-bit for Spark LongType
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Batch-vectorized SimHash: one md5 per *unique* token in the batch
    (memoized across batches), then a single reduceat bit-vote over the
    concatenated token stream — no per-document Python loop."""
    import numpy as np

    if not len(texts):
        return pd.Series([], dtype="int64")
    tok_lists = [(t or "").split(" ") for t in texts]
    counts = np.array([len(t) for t in tok_lists], dtype=np.int64)
    # factorize is hash-based O(n) on the Python strings; np.unique on an
    # object array is a comparison SORT of 10⁵⁺ boxed strings and was the
    # kernel's top cost at 500 k docs (sf10 probe: 156 s → 56 s for the
    # whole query after this + the int32 gather below).
    codes, uniq = pd.factorize(
        pd.Series([tok for toks in tok_lists for tok in toks]), sort=False
    )
    uh = np.empty(len(uniq), dtype=np.uint64)
    for i, tok in enumerate(uniq):
        h = _TOKEN_HASH_CACHE.get(tok)
        if h is None:
            (h,) = struct.unpack(">Q", hashlib.md5(tok.encode()).digest()[:8])
            _TOKEN_HASH_CACHE[tok] = h
        uh[i] = h
    # trim AFTER the batch fill: in-batch memoization stays intact, the
    # cross-batch memo just re-warms from empty past the cap
    _token_hash_cache_trim()
    shifts = np.arange(64, dtype=np.uint64)[None, :]
    # expand bits for UNIQUE tokens only (vocab × 64), then gather per
    # token — int32 keeps the big (n_tokens × 64) array 8× smaller than
    # the previous uint64 form and reduceat-safe for docs ≤ 2³¹ tokens
    bits_u = ((uh[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
    bits = bits_u[codes]  # n_tokens × 64, document order
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    votes = np.add.reduceat(bits, starts, axis=0)  # n_docs × 64
    fp_bits = (2 * votes.astype(np.int64) > counts[:, None]).astype(np.uint64)
    fps = (fp_bits << shifts).sum(axis=1, dtype=np.uint64)
    return pd.Series(fps.astype(np.int64))


def simhash_udf():
    """Arrow-vectorized SimHash UDF (built lazily — pandas_udf needs an
    active SparkSession to parse the return type)."""
    from pyspark.sql import types as T

    return F.pandas_udf(_simhash_batch, T.LongType())


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``doc_id, simhash`` — Arrow-vectorized pandas UDF (the one genuinely
    non-SQL piece: per-token bit voting)."""
    return docs.select(F.col(id_col), simhash_udf()(F.col(text_col)).alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup PAIRS at Hamming distance ≤ ``max_hamming`` (≤ 3
    with the default 4-band geometry) — X86, the relation form of the
    original Google web-dedup system.

    Pigeonhole banding: 4 disjoint 16-bit slices of the 64-bit
    fingerprint; any pair within Hamming 3 agrees exactly on ≥ 1 band, so
    candidates come from 4 short (band, value) shuffles — never all-pairs
    — and the exact popcount verify runs on candidates only.

    **Fingerprint canonicalization first** (ADVICE r7): m exact copies of
    one template share the SAME fingerprint, hence all 4 (band, bval)
    keys — banding raw docs pushes 4·C(m,2) join rows through one reduce
    key before the distinct. So the band self-join runs over one
    representative per DISTINCT fingerprint; identical-fingerprint
    (Hamming-0) pairs are reconstructed by a self-join of the pre-group
    (doc, fp) rows on the fingerprint digest. Those rows stay spread
    across all scan map tasks, and AQE's skew split can cut a reduce
    partition only at map-output boundaries, so the hot fingerprint's
    C(m,2) expansion fans out across tasks. Exploding a collected
    members array instead would emit the whole group from ONE mapper, a
    single block no skew split can cut. Cross-group pairs expand
    representative pairs over group members through two
    fingerprint-keyed joins.

    The fingerprint table is localCheckpoint'ed once: the Arrow-batched
    SimHash UDF scan is the dominant cost and feeds three consumers
    (rep table, both within-join sides); without the checkpoint a
    self-join recomputes the scan per side (self-joins get no
    ReuseExchange under AQE — NOTES.md round-2 lesson 4).

    Arithmetic-shift + mask band extraction and two's-complement popcount
    are engine-identical, so the DuckDB oracle replays the relation
    exactly (plans/dedup.py:dedup_simhash_hamming).
    """
    fps = simhash_fingerprints(docs, text_col, id_col).localCheckpoint()
    reps = fps.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", 16 * b)
                .bitwiseAND(F.lit(65535))
                .alias("bval"),
            )
            for b in range(4)
        ]
    )
    bands = reps.select(
        "rep", "simhash", F.explode(band_structs).alias("bv")
    ).select(
        "rep", "simhash",
        F.col("bv.band").alias("band"), F.col("bv.bval").alias("bval"),
    )
    a = bands.select(
        F.col("rep").alias("rep_a"), F.col("simhash").alias("fa"), "band", "bval"
    )
    c = bands.select(
        F.col("rep").alias("rep_b"), F.col("simhash").alias("fb"),
        F.col("band").alias("band_c"), F.col("bval").alias("bval_c"),
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    rep_pairs = (
        a.join(
            c,
            (F.col("band") == F.col("band_c"))
            & (F.col("bval") == F.col("bval_c"))
            & (F.col("rep_a") < F.col("rep_b")),
        )
        .select("rep_a", "rep_b", "fa", "fb")
        .distinct()
        .filter(ham <= max_hamming)
        .select("rep_a", "rep_b", ham.cast("bigint").alias("hamming"))
    )
    mem = fps.join(reps, "simhash").select(
        "rep", F.col(id_col).alias("m")
    )
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("rep_a"), F.col("m").alias("ma")),
            "rep_a",
        )
        .join(
            mem.select(F.col("rep").alias("rep_b"), F.col("m").alias("mb")),
            "rep_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "hamming",
        )
    )
    within = (
        fps.select("simhash", F.col(id_col).alias("doc_a"))
        .join(fps.select("simhash", F.col(id_col).alias("doc_b")), "simhash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("bigint").alias("hamming"))
    )
    return cross.union(within)


#: Edge-count budget below which components are solved by a driver-side
#: union-find instead of the distributed loop. 1 M edges ≈ 16 MB of ids —
#: the same bounded-driver-work posture as ``_DENSE_MAX_CELLS``: a near-dup
#: graph this small costs more in per-round Spark job overhead (3 jobs ×
#: O(log d) rounds) than one collect + linear union-find. Above the budget
#: the distributed pointer-jumping loop is the only shape that scales.
_SMALL_GRAPH_EDGES = 1_000_000


def _union_find_labels(a_ids, b_ids) -> dict[int, int]:
    """Union-find with path halving; returns node → min-node-id-in-component
    (the same fixpoint the distributed loop converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_ids, b_ids):
        a, b = int(a), int(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the root the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
        parent.setdefault(a, ra)
        parent.setdefault(b, ra)
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
    small_graph_edges: int = _SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Dedup *clustering*: connected components over a near-dup pair list.

    This is the step that turns pairwise dedup output into keep-groups
    (keep min doc per component). It is inherently iterative — no single
    SQL query expresses it at scale — so it runs as a driver-side loop of
    DataFrame joins (the Pregel pattern). Cost-based path choice first
    (mirroring the dense-vs-inverted Jaccard selector): the checkpointed
    pair list's count routes graphs under ``small_graph_edges`` pairs to
    a driver union-find — one collect of 16-byte id pairs, O(E α(E)),
    zero shuffle rounds, and no doubled-edge union+distinct shuffle at
    all — because below ~1 M pairs the distributed loop's cost is pure
    per-round job overhead, not data. Larger graphs take the distributed
    loop, whose scale decisions are:

    - **pairs are localCheckpoint'ed once, eagerly**: the pair list is the
      output of a whole near-dup pipeline (Jaccard / cosine); without the
      checkpoint every round (and the doubled-edge build) would re-execute
      that pipeline from the scan.
    - **min-label propagation + pointer jumping** per round: each node
      takes the min label over itself and its neighbors, then follows the
      label one hop (``comp ← label(comp)``, path halving). Jumping cuts
      convergence from O(diameter) rounds to O(log diameter) — on a
      100-node chain, 8 rounds instead of 99 (pinned by
      ``tests/test_dedup.py``). Same round bound as the published
      large-star/small-star alternating algorithm, with labels instead of
      edge rewrites, so the edge set stays immutable (checkpointed once).
    - **one Spark action per round**: the new label frame is marked for
      lazy localCheckpoint and the convergence count runs on top of it —
      that single job both materializes/truncates the lineage and returns
      the changed-row count.

    Deterministic: at fixpoint every label equals the min doc_id reachable
    (labels only move down, never leave the component, and the component
    min's label can never change). ``stats["rounds"]`` reports the round
    count when a dict is passed.
    """
    p = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).localCheckpoint()  # pair generation (the expensive part) runs ONCE
    n_pairs = p.count()  # cheap: counts the materialized checkpoint
    if n_pairs <= small_graph_edges:
        # Collect the RAW pair list — no doubled-edge union+distinct
        # shuffle on this path (union-find is direction-agnostic and
        # tolerates duplicates; both endpoints are seeded below). That
        # shuffle was pure overhead for the common small-graph case.
        pdf = p.toPandas()
        comp = _union_find_labels(pdf["a"].to_numpy(), pdf["b"].to_numpy())
        if stats is not None:
            stats["rounds"] = 0
            stats["path"] = "driver-union-find"
        out = pd.DataFrame(
            {
                "doc": pd.Series(list(comp.keys()), dtype="int64"),
                "comp": pd.Series(list(comp.values()), dtype="int64"),
            }
        )
        return pairs.sparkSession.createDataFrame(
            out, schema="doc bigint, comp bigint"
        )
    if stats is not None:
        stats["path"] = "distributed"
    edges = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()  # built from the checkpointed pairs, not the scan
    )
    labels = (
        edges.select("a")
        .distinct()
        .select(F.col("a").alias("node"), F.col("a").alias("comp"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("mid"),
        )
        # pointer jump: follow the candidate label one hop so long paths
        # halve every round (comp values are node ids by invariant)
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        updated = (
            prop.join(jump, prop.mid == jump.jnode, "left")
            .select(
                "node",
                "old_comp",
                F.least(F.col("mid"), F.coalesce("jcomp", F.col("mid"))).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        # the ONE action of the round: materializes the checkpoint and
        # returns the convergence signal together
        changed = updated.filter(F.col("comp") != F.col("old_comp")).count()
        labels = updated.select("node", "comp")
        if stats is not None:
            stats["rounds"] = it + 1
        if changed == 0:
            break
    else:
        # silently-wrong labels would poison the keep-list downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(cluster diameter exceeds max_iter) — raise max_iter"
        )
    return labels.select(F.col("node").alias("doc"), "comp")


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    The blocking key (cluster id / LSH bucket) turns the quadratic cross
    join into per-block joins — the only scalable shape. Pair cosine runs
    in an Arrow-batched numpy kernel (HOF lambdas are interpreted per
    element — see operators/similarity.py).
    """
    from .similarity import cosine_pairs_vectorized

    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("vec_a"),
        F.col(f"b.{id_col}").alias("vec_b"),
        F.col(f"a.{vec_col}").alias("emb_a"),
        F.col(f"b.{vec_col}").alias("emb_b"),
    )
    return (
        cosine_pairs_vectorized(pairs, "emb_a", "emb_b")
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
    )
