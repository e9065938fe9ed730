"""Similarity search over embedding columns (``array<float>``).

BASELINE.json extension — absent from the reference. Two tiers:

- ``cosine_topk``: brute-force exact top-k against a query vector. One scan,
  per-partition TakeOrdered, no shuffle of the vectors themselves. This is
  the baseline and the verification oracle for the approximate tier.
- ``rp_lsh_buckets`` / ``rp_lsh_topk``: random-hyperplane (SimHash-family)
  LSH — deterministic seeded projections; candidates share the query's
  bucket (with multi-probe on Hamming-1 neighbors), exact cosine re-rank on
  the candidates only. At 100 TB the bucket id is the partition/cluster
  key, so a query touches a handful of partitions instead of the corpus.

Cosine is computed in Arrow-batched numpy kernels (one GEMM / rowwise dot
per batch). Spark's higher-order functions (zip_with + aggregate) express
the same math "JVM-side" but their lambdas are evaluated *interpreted, per
array element* — measured ~100× slower per row on 64-dim vectors — so for
vector math the vectorized-Python path is the scale path, not the
exception. The HOF forms are kept only for tiny candidate sets where a
pipeline breaker costs more than it saves.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_scores_to_query(
    emb: DataFrame,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, cos_sim)`` against a constant query vector — one numpy
    matrix-vector product per Arrow batch."""
    import pandas as pd

    from pyspark.sql import types as T

    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    def kernel(iterator):
        for pdf in iterator:
            pdf = pdf[pdf[vec_col].notna()]  # NULL embeddings: no score
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            cs = (V @ q) / (np.sqrt((V * V).sum(axis=1)) * qn)
            yield pd.DataFrame({id_col: pdf[id_col], "cos_sim": cs})

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    return emb.select(id_col, vec_col).mapInPandas(kernel, schema)


def cosine_pairs_vectorized(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "cos_sim"
) -> DataFrame:
    """Append the cosine of two array columns (dropping them) via a numpy
    kernel — the pair-scoring hot path for near-dup and k-NN joins."""
    import pandas as pd

    from pyspark.sql import types as T

    out_fields = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    keep = [f.name for f in out_fields]
    schema = T.StructType(out_fields + [T.StructField(out_col, T.DoubleType())])

    def kernel(iterator):
        for pdf in iterator:
            pdf = pdf[pdf[a_col].notna() & pdf[b_col].notna()]
            if not len(pdf):
                continue
            A = np.array(pdf[a_col].to_list(), dtype=np.float64)
            B = np.array(pdf[b_col].to_list(), dtype=np.float64)
            cs = (A * B).sum(axis=1) / (
                np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            )
            out = pdf[keep].copy()
            out[out_col] = cs
            yield out

    return df.mapInPandas(kernel, schema)


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k by cosine. Deterministic: ranked on the
    rounded score with the id as tie-break."""
    scored = cosine_scores_to_query(emb, query, id_col, vec_col).select(
        F.col(id_col), F.round("cos_sim", 4).alias("cos_sim")
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _rp_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed → reproducible buckets)."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((n_planes, dim))


def auto_n_planes(n_rows: int, target_occupancy: int = 64, floor: int = 8) -> int:
    """Occupancy-targeted plane count: 2^planes buckets sized so the
    EXPECTED bucket holds ~``target_occupancy`` vectors.

    Why this exists: any fixed plane count makes in-bucket pair work
    Σm² ≈ n²/2^planes — quadratic in the corpus (the sf1→sf10 probe
    regime shows it: 20k vecs / 256 buckets is fine, 200k is not; the
    fixed-8-plane form measured 12.9× per 10× data, round 9). With
    planes = log2(n / occupancy) the per-bucket pair cost stays constant
    and total pair work is O(n·occupancy) — linear. Since round 10 the
    registry's ``knn_graph_lsh`` applies this policy in a
    SQL-replayable form (16 static seeded planes, corpus-derived prefix
    length via integer indicator sum — see plans/similarity.py), and
    measured 1.67× per 10× at sf1→sf10. Scale deployments can call this
    helper directly with a cheap ``df.count()`` probe.
    """
    import math

    return max(floor, math.ceil(math.log2(max(n_rows, 1) / max(target_occupancy, 1) or 1)))


def rp_lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the deterministic LSH ``bucket`` column (2^n_planes buckets)
    with one numpy projection per Arrow batch. At scale:
    ``.repartition("bucket")`` / partitioned write by bucket, and pick
    ``n_planes`` with :func:`auto_n_planes` so bucket occupancy — and
    with it the in-bucket pair cost of any self-join built on top — stays
    bounded as the corpus grows."""
    import pandas as pd

    from pyspark.sql import types as T

    planes = _rp_planes(dim, n_planes, seed)
    schema = T.StructType(
        list(emb.schema.fields) + [T.StructField("bucket", T.StringType())]
    )

    def kernel(iterator):
        for pdf in iterator:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            bits = (V @ planes.T) >= 0  # B × n_planes
            out = pdf.copy()
            out["bucket"] = [
                "".join("1" if b else "0" for b in row) for row in bits
            ]
            yield out

    return emb.mapInPandas(kernel, schema)


def _hamming1_neighbors(bucket: str) -> list[str]:
    out = [bucket]
    for i in range(len(bucket)):
        flipped = bucket[:i] + ("1" if bucket[i] == "0" else "0") + bucket[i + 1 :]
        out.append(flipped)
    return out


def rp_lsh_topk(
    emb: DataFrame,
    query: list[float],
    k: int,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: restrict to the query's bucket plus Hamming-1
    neighbors (multi-probe), then exact cosine re-rank. Scans ~(n_planes+1)/
    2^n_planes of the corpus instead of all of it."""
    planes = _rp_planes(len(query), n_planes, seed)
    qv = np.asarray(query, dtype=np.float64)
    qbucket = "".join("1" if float(p @ qv) >= 0 else "0" for p in planes)
    probes = _hamming1_neighbors(qbucket)
    bucketed = rp_lsh_buckets(emb, n_planes, len(query), seed, vec_col)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query, k, id_col, vec_col, exclude_id)


def label_centroid_arrays(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "v",
    out_col: str = "centroid",
) -> DataFrame:
    """Per-label mean vector, re-assembled as an array column.

    The (label, pos) average is the dimension-bounded aggregate (map-side
    partial means — the shuffle carries |labels|×|dims| rows per task);
    the array re-assembly via array_sort(collect_list(struct)) runs over
    |labels| tiny groups. Shared by ``intra_label_cosine`` and
    ``nearest_centroid_confusion`` so centroid semantics can never
    silently diverge between them.
    """
    cm = (
        emb.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(label_col, "pos")
        .agg(F.avg("val").alias("c"))
    )
    return cm.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias(out_col)
    )
