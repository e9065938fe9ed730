"""Dedup queries over ``documents``/``embeddings`` (operators/dedup.py).

Oracle coverage: every dedup query has a full DuckDB oracle, including
MinHash-LSH since round 6: the element hash is md5-derived
(``operators/dedup.py:_shingle_hash_expr``) and the band keys are exact
concats, so the ENTIRE pipeline — canonicalization, signatures, banding,
screen, exact verify, member expansion — replays deterministically in SQL
(``_minhash_oracle_sql`` below, the same md5-replica pattern the SimHash
oracle proved first).
"""

from __future__ import annotations

import os

from ..operators import dedup as D
from .registry import register


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup keep-list: one shuffle of 16-byte digests (never the "
    "text). operators/dedup.py:exact_dedup.",
    tags=("dedup",),
)
def dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS MATERIALIZED (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    sizes AS MATERIALIZED (SELECT doc, len(bg) AS n FROM sh),
    ex AS MATERIALIZED (SELECT doc, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    """,
    doc="Exact word-bigram Jaccard pairs ≥ 0.5; cost-based pick between the "
    "broadcast-bitmap matmul (dense vocab) and the shingle inverted index "
    "(sparse). operators/dedup.py:ngram_jaccard_pairs_auto.",
    tags=("dedup", "ngram"),
)
def dedup_ngram_jaccard(spark, sf_dir, docs=None, shingles=None):
    # ``docs``/``shingles``: optional shared frames a composition passes so
    # its members reuse one scan / one tokenize pass (results identical;
    # the standalone plan — both None — is unchanged).
    return D.ngram_jaccard_pairs_auto(
        docs if docs is not None else _docs(spark, sf_dir),
        threshold=0.5,
        n=2,
        shingles=shingles,
    )


def _minhash_oracle_sql(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 16, n: int = 2
) -> str:
    """DuckDB replica of the full ``minhash_lsh_pairs`` pipeline.

    Embeds the SAME (a, b) permutation literals as the Spark expressions
    (``D._minhash_params``) and replays every stage: md5-group
    canonicalization → md5-based 32-bit shingle hash → k min-hash
    aggregates → exact band-concat bucketing → band-collision candidate
    pairs → signature-agreement screen (same float floor literal) → exact
    shingle-Jaccard verify with engine-stable rounding → member expansion.
    The Spark plan never canonicalizes: it runs LSH over every document.
    The SQL's canonicalization gives the same output: identical texts have
    identical signatures, so they collide in every band, pass the screen
    at agreement 1 and verify at exactly 1.0, and a copy of a text pairs
    with whatever its representative pairs with, at the same Jaccard.
    """
    params = D._minhash_params(num_hashes)
    r = num_hashes // bands
    p = (1 << 61) - 1
    est_floor = max(
        threshold - 2.5 * (threshold * (1 - threshold) / num_hashes) ** 0.5, 0.0
    )
    mh_aggs = ",\n         ".join(
        f"min((h*{a} + {b}) % {p}) AS mh{j}" for j, (a, b) in enumerate(params)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc, {bi} AS band, {key} AS bh FROM sigs".format(
            bi=bi,
            key=" || ':' || ".join(
                f"CAST(mh{bi * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for bi in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    words = "string_split(text, ' ')"
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id AS doc, text FROM documents
      WHERE len({words}) >= {n}
    ),
    grp AS MATERIALIZED (
      SELECT md5(text) AS fp, min(doc) AS rep, list(doc) AS members
      FROM base GROUP BY 1
    ),
    reps AS (SELECT g.rep AS doc, b.text FROM grp g JOIN base b ON b.doc = g.rep),
    sh AS MATERIALIZED (
      SELECT doc,
             list_distinct(list_transform(range(1, len({words})),
                 i -> {words}[i] || ' ' || {words}[i+1])) AS bg
      FROM reps
    ),
    hx AS (
      SELECT doc,
             CAST(CAST('0x' || substr(md5(s), 1, 8) AS UBIGINT) AS BIGINT) AS h
      FROM (SELECT doc, unnest(bg) AS s FROM sh)
    ),
    sigs AS MATERIALIZED (
      SELECT doc,
         {mh_aggs}
      FROM hx GROUP BY doc
    ),
    buckets AS MATERIALIZED (
      {band_selects}
    ),
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    screened AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sigs sa ON sa.doc = c.doc_a
      JOIN sigs sb ON sb.doc = c.doc_b
      WHERE CAST({agree} AS DOUBLE) / {num_hashes} >= {est_floor!r}
    ),
    cids AS (
      SELECT DISTINCT doc FROM (
        SELECT doc_a AS doc FROM screened
        UNION ALL SELECT doc_b AS doc FROM screened
      )
    ),
    vsh AS (SELECT t.doc, unnest(t.bg) AS s FROM sh t JOIN cids USING (doc)),
    sizes AS (SELECT t.doc, len(t.bg) AS nsz FROM sh t JOIN cids USING (doc)),
    inter AS (
      SELECT pr.doc_a, pr.doc_b, count(*) AS i
      FROM screened pr
      JOIN vsh a ON a.doc = pr.doc_a
      JOIN vsh b ON b.doc = pr.doc_b AND b.s = a.s
      GROUP BY 1, 2
    ),
    repp AS (
      SELECT i.doc_a, i.doc_b,
             floor((CAST(i.i AS DOUBLE) / (sa.nsz + sb.nsz - i.i)) * 10000 + 0.5)
               / 10000 AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc = i.doc_a
      JOIN sizes sb ON sb.doc = i.doc_b
      WHERE CAST(i.i AS DOUBLE) / (sa.nsz + sb.nsz - i.i) >= {threshold!r}
    ),
    mem AS MATERIALIZED (SELECT fp, rep, unnest(members) AS m FROM grp),
    crossx AS (
      SELECT least(ma.m, mb.m) AS doc_a, greatest(ma.m, mb.m) AS doc_b, p.jaccard
      FROM repp p
      JOIN mem ma ON ma.rep = p.doc_a
      JOIN mem mb ON mb.rep = p.doc_b
    ),
    withinx AS (
      SELECT a.m AS doc_a, b.m AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
      FROM mem a JOIN mem b ON a.fp = b.fp AND a.m < b.m
    )
    SELECT doc_a, doc_b, jaccard FROM crossx
    UNION ALL
    SELECT doc_a, doc_b, jaccard FROM withinx
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle_sql(),
    doc="MinHash(32 hashes) + LSH banding (16 bands × 2 rows) candidate "
    "generation, exact-Jaccard verification ≥ 0.5 on candidates only. "
    "operators/dedup.py:minhash_lsh_pairs — the 100 TB near-dup path. "
    "Fully deterministic (md5-derived element hash + exact band keys) so "
    "the DuckDB oracle replays signatures→bands→screen→verify exactly.",
    tags=("dedup", "minhash", "approx"),
)
def dedup_minhash_lsh(spark, sf_dir, docs=None, shingles=None):
    # ``docs``/``shingles``: optional shared frames a composition passes so
    # its members reuse one scan / one tokenize pass (results identical;
    # the standalone plan — both None — is unchanged).
    return D.minhash_lsh_pairs(
        docs if docs is not None else _docs(spark, sf_dir),
        threshold=0.5,
        shingles=shingles,
    )


@register(
    "dedup_simhash",
    # Full SQL replica of the md5-based bit-voting fingerprint: token hash =
    # first 8 bytes of md5 (big-endian), bit i of fp set iff 2·ones > n.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok),1,16))::UBIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
             count(*) AS n
      FROM th, (SELECT unnest(range(64)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN 2*ones > n THEN (1::HUGEINT << CAST(bit AS INTEGER))
                      ELSE 0::HUGEINT END) AS fp_u
      FROM votes GROUP BY doc_id
    ),
    fps AS (
      SELECT doc_id,
             CAST(CASE WHEN fp_u >= (1::HUGEINT << 63) THEN fp_u - (1::HUGEINT << 64)
                       ELSE fp_u END AS BIGINT) AS simhash
      FROM fp
    )
    SELECT simhash, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keeper
    FROM fps GROUP BY simhash HAVING count(*) > 1
    """,
    doc="SimHash-64 fingerprints (Arrow-vectorized pandas UDF), grouped into "
    "identical-fingerprint clusters. operators/dedup.py:simhash_fingerprints.",
    tags=("dedup", "simhash", "udf"),
)
def dedup_simhash(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        D.simhash_fingerprints(_docs(spark, sf_dir))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").cast("bigint").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_clusters",
    # Oracle: transitive closure by recursive CTE over the same exact
    # n-gram-Jaccard edge list, component id = min reachable doc id.
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    sizes AS MATERIALIZED (SELECT doc, len(bg) AS n FROM sh),
    ex AS MATERIALIZED (SELECT doc, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc, CAST(least(src, min(dst)) AS BIGINT) AS comp
    FROM reach GROUP BY src
    """,
    doc="Near-dup clustering: connected components (iterative min-label "
    "propagation, Pregel-style driver loop) over the exact n-gram-Jaccard "
    "pair list — turns pairwise dedup into keep-groups. Oracle replays it "
    "as a recursive-CTE transitive closure. operators/dedup.py:"
    "connected_components.",
    tags=("dedup", "clustering", "iterative"),
)
def dedup_clusters(spark, sf_dir):
    pairs = D.ngram_jaccard_pairs_auto(_docs(spark, sf_dir), threshold=0.5, n=2)
    return D.connected_components(pairs)


@register(
    "embedding_clusters",
    # Connected components over the blocked-cosine near-dup pairs — the
    # embedding-modality twin of dedup_clusters.
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a
      JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.35
    ),
    edges AS (
      SELECT va AS a, vb AS b FROM pairs
      UNION
      SELECT vb, va FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc, CAST(least(src, min(dst)) AS BIGINT) AS comp
    FROM reach GROUP BY src
    """,
    doc="Embedding-modality near-dup clustering: connected components over "
    "the blocked-cosine pair list (embedding_neardup_pairs ≥ 0.35) — same "
    "min-label propagation operator, different edge generator. Oracle is "
    "the recursive-CTE closure over the same pairs.",
    tags=("dedup", "embedding", "clustering", "iterative"),
)
def embedding_clusters(spark, sf_dir):
    pairs = D.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.35)
    return D.connected_components(pairs, a_col="vec_a", b_col="vec_b")


@register(
    "dedup_keep_list",
    # Same recursive-closure components as dedup_clusters, left-joined back
    # to the corpus: keep = not a non-minimal member of any near-dup cluster.
    oracle="""
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    sizes AS MATERIALIZED (SELECT doc, len(bg) AS n FROM sh),
    ex AS MATERIALIZED (SELECT doc, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comps AS (
      SELECT src AS doc, least(src, min(dst)) AS comp
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS comp,
           (c.comp IS NULL OR c.comp = d.doc_id) AS keep
    FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc
    """,
    doc="The end artifact of the dedup pipeline: a corpus-wide keep/drop "
    "decision per document — keep the minimal member of each near-dup "
    "cluster (connected components over exact n-gram-Jaccard pairs) and "
    "every singleton. operators/dedup.py:connected_components joined back "
    "to the corpus.",
    tags=("dedup", "clustering", "keep-list"),
)
def dedup_keep_list(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs_auto(docs, threshold=0.5, n=2)
    comps = D.connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.doc, "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).cast("bigint").alias("comp"),
            (F.col("comp").isNull() | (F.col("comp") == F.col("doc_id"))).alias(
                "keep"
            ),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs, blocked on the label/cluster key "
    "to avoid the quadratic cross join. operators/dedup.py:"
    "embedding_neardup_pairs.",
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark, sf_dir):
    return D.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.35)


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH sh AS MATERIALIZED (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents
    ),
    sizes AS MATERIALIZED (SELECT doc, len(bg) AS n FROM sh WHERE len(bg) > 0),
    ex AS MATERIALIZED (SELECT doc, unnest(bg) AS s FROM sh),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor(CAST(i AS DOUBLE) / least(sa.n, sb.n) * 1e4 + 0.5) / 1e4
               AS containment
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    """,
    doc="X85: exact shingle-CONTAINMENT pairs (|A∩B| / min(|A|,|B|) >= "
    "0.8) — the asymmetric relation Jaccard misses: a short document "
    "embedded in a longer one (quoting, boilerplate wrapping, "
    "truncation) can have Jaccard ~0.2 while containment ~1.0; corpus "
    "curation drops or strips the contained copy. Routed through the "
    "SAME cost-based selector as dedup_ngram_jaccard "
    "(operators/dedup.py:ngram_jaccard_pairs_auto with "
    "measure='containment'): dense broadcast-bitmap matmul while "
    "docs×vocab is broadcast-sized, shingle inverted index while Σdf² "
    "is bounded, df-capped inverted index above that (MinHash bands "
    "estimate Jaccard, not containment, so the df-cap — not LSH — is "
    "the 100 TB lever here; recall tradeoff on ngram_jaccard_pairs_"
    "dfcap). Shingles come from the shared _shingle_table helper — all "
    "three regimes now consume the selector's ONE persisted stats-pass "
    "shingle table — so the bigram definition cannot drift from the "
    "Jaccard family. GATE EXPECTATION: this oracle is EXACT containment, "
    "which the dense and inverted regimes reproduce bit-identically; the "
    "df-cap regime (Σdf² > 2e9, far beyond every gated SF — sf10 measures "
    "Σdf² ~1e8) deliberately trades recall for a bounded join and would "
    "NOT hash-match this oracle. If a future gate scale crosses the "
    "inverted budget, the oracle must switch to the capped semantics "
    "(same df_cap filter in SQL) — do not 'fix' the mismatch by uncapping "
    "the join. Engine-stable floor rounding on the reported ratio.",
    tags=("dedup", "ngram", "containment"),
)
def dedup_containment_pairs(spark, sf_dir):
    return D.ngram_jaccard_pairs_auto(
        _docs(spark, sf_dir), threshold=0.8, n=2, measure="containment"
    )


@register(
    "dedup_simhash_hamming",
    # Full md5-bit-vote replica (the dedup_simhash oracle) extended to
    # PAIRS: 4×16-bit band pigeonhole (hamming<=3 implies >=1 equal band)
    # then exact popcount verify on the candidate set.
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    th AS MATERIALIZED (
      SELECT doc_id, ('0x' || substr(md5(tok),1,16))::UBIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
             count(*) AS n
      FROM th, (SELECT unnest(range(64)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    fp AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN fp_u >= (1::HUGEINT << 63) THEN fp_u - (1::HUGEINT << 64)
                       ELSE fp_u END AS BIGINT) AS simhash
      FROM (
        SELECT doc_id,
               sum(CASE WHEN 2*ones > n THEN (1::HUGEINT << CAST(bit AS INTEGER))
                        ELSE 0::HUGEINT END) AS fp_u
        FROM votes GROUP BY doc_id
      )
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, simhash, b.band,
             (simhash >> (16 * b.band)) & 65535 AS bval
      FROM fp, (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fa,
                      c.doc_id AS doc_b, c.simhash AS fb
      FROM bands a
      JOIN bands c ON a.band = c.band AND a.bval = c.bval
                  AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= 3
    """,
    doc="X86: SimHash near-dup PAIRS at Hamming distance <= 3 — turns "
    "the X4 fingerprints into an actual near-dup relation (the form the "
    "original Google web-dedup system ran). Pigeonhole banding: 4 "
    "disjoint 16-bit slices of the fingerprint; any pair within "
    "Hamming 3 agrees exactly on >= 1 band, so candidates come from 4 "
    "short (band, value) shuffles — never all-pairs — and the exact "
    "popcount verify runs on candidates only. Fingerprint "
    "canonicalization before banding (ADVICE r7): the band self-join "
    "sees one representative per DISTINCT fingerprint, so m template "
    "copies cannot push 4·C(m,2) rows through one reduce key; "
    "Hamming-0 pairs come from a skew-splittable pre-group self-join "
    "(operators/dedup.py:simhash_hamming_pairs). Arithmetic-shift + "
    "mask band extraction and two's-complement popcount are "
    "engine-identical (both engines arithmetic-shift int64; the 16-bit "
    "mask erases sign-fill). At 100 TB the band tables are the "
    "partition keys; re-rank/verify stays candidate-bounded exactly "
    "like MinHash-LSH.",
    tags=("dedup", "simhash", "pairs"),
)
def dedup_simhash_hamming(spark, sf_dir):
    return D.simhash_hamming_pairs(_docs(spark, sf_dir), max_hamming=3)


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT md5(ntext) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies,
           CAST(count(DISTINCT text) AS BIGINT) AS n_raw_variants
    FROM norm GROUP BY 1
    """,
    doc="X91: NORMALIZED exact dedup — case-fold, collapse whitespace "
    "runs, trim, THEN digest. Real crawled corpora carry trivially "
    "re-encoded copies (case changes, tab/space/newline drift) that "
    "byte-exact dedup (X1) misses and near-dup pipelines waste "
    "candidate budget rediscovering; normalization-first is the "
    "standard first pass (C4/CCNet shape). n_raw_variants > 1 marks "
    "groups that ONLY normalization merged. Same 100 TB shape as X1: "
    "the shuffle carries 16-byte digests, never text — normalization "
    "is a codegen'd scan projection.",
    tags=("dedup", "normalize"),
)
def dedup_exact_normalized(spark, sf_dir):
    from pyspark.sql import functions as F

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text", F.md5(F.encode(norm, "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.count_distinct("text").cast("bigint").alias("n_raw_variants"),
        )
    )
