"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring a production ANN stack:

- ``brute_force_topk``: exact cosine top-k against a query vector — the
  correctness baseline. One scan, per-row O(dim) arithmetic in codegen
  (zip_with/aggregate fold), TakeOrderedAndProject for the top-k: no
  shuffle of the vectors themselves.
- IVF-style two-stage search: coarse quantize by a partition key (here
  the ``label`` column plays the cluster id; a real deployment computes
  k-means centroids offline), pick the nearest centroid(s), then
  brute-force only inside those partitions. This is the 100 TB path:
  the scan prunes to the probed partitions.

Embedding near-dup pairs reuse the same cosine kernel within buckets.

All arithmetic is done in DOUBLE after casting the float arrays once —
identical left-fold order as the SQL oracle, so results are bit-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from venus_spark.functions import cosine, dot, dround, lit_doubles
from venus_spark.operators import vector_kernels


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def centroids(df: DataFrame, cluster_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-cluster mean vector, computed position-wise: posexplode ->
    groupBy (cluster, pos) -> exact decimal mean. Long-and-narrow beats
    array-of-structs aggregation for shuffle size and skew."""
    from venus_spark.functions import davg

    exploded = df.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "v"),
    )
    return exploded.groupBy("cluster", "pos").agg(davg("v").alias("centroid_v"))


def brute_force_topk(
    df: DataFrame,
    query_vec: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` over all rows."""
    sim = cosine(as_double(F.col(vec_col)), query_vec)
    return (
        df.select(F.col(id_col), dround(sim).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def centroid_arrays(
    df: DataFrame, cluster_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Centroids reassembled to one mean-vector array per cluster
    (collect_list over the long-form centroids, ordered by position).
    Output is n_clusters rows — trivially broadcastable."""
    return (
        centroids(df, cluster_col, vec_col)
        .groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))).alias("pv")
        )
        .select(
            "cluster", F.transform("pv", lambda s: s["centroid_v"]).alias("centroid")
        )
    )


def ivf_topk(
    df: DataFrame,
    query_vec: Column,
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF two-stage ANN: score the query against the (tiny) centroid
    table, keep the ``nprobe`` nearest clusters, then exact top-k only
    inside those clusters.

    At 100 TB the vectors are stored partitioned by cluster id, so the
    probe semi-join becomes partition pruning: the scan never touches
    unprobed clusters. The centroid table stays broadcast-sized by
    construction (n_clusters ≪ n_vectors).
    """
    probed = (
        centroid_arrays(df, cluster_col, vec_col)
        .select(
            "cluster",
            dround(cosine(F.col("centroid"), query_vec)).alias("centroid_sim"),
        )
        .orderBy(F.col("centroid_sim").desc(), F.col("cluster"))
        .limit(nprobe)
    )
    pruned = df.join(
        F.broadcast(probed), df[cluster_col] == probed["cluster"], "left_semi"
    )
    return brute_force_topk(pruned, query_vec, k=k, id_col=id_col, vec_col=vec_col)


# Random-hyperplane LSH: H pseudo-random ±1 hyperplanes over RP_DIM
# dimensions. The weight matrix is PRECOMPUTED at import from md5 of the
# (hyperplane, position) pair — deterministic, engine-independent, and
# embedded as literal arrays in both the Spark expression and the SQL
# oracle. An earlier affine-parity construction
# (parity of (A_h*i + B_h) mod P) was degenerate: hyperplane pairs whose
# A/B differences are both even have IDENTICAL parity sequences for all
# i, so the 8 planes collapsed to ~2 effective bits (4 occupied buckets
# out of 256, measured) and the "bucketed" pair join was quadratic in
# 500-vector buckets. md5 weights have no such linear structure.
# sign-bits concatenate into a bucket id in [0, 2^H).
RP_H = 8
RP_DIM = 64  # embeddings.embedding dimensionality (TESTDATA.md)


def _rp_weight_matrix() -> tuple[tuple[float, ...], ...]:
    import hashlib

    return tuple(
        tuple(
            1.0
            if int(hashlib.md5(f"rp-{h}-{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(1, RP_DIM + 1)
        )
        for h in range(RP_H)
    )


RP_W = _rp_weight_matrix()


def rp_projection(vec: Column, h: int) -> Column:
    """Signed projection of ``vec`` onto pseudo-random hyperplane ``h`` —
    a left fold over (value × ±1 weight), same order as the oracle."""
    # lit_doubles: ±1.0 weights in ONE py4j call — rp_bucket expands
    # RP_H of these projections, so the per-element form cost
    # RP_H × RP_DIM driver round-trips per plan build (r15).
    w = lit_doubles(RP_W[h])
    terms = F.zip_with(vec, w, lambda x, wi: x * wi)
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def rp_bucket(vec: Column) -> Column:
    """Random-hyperplane LSH bucket id: bit h set iff projection_h >= 0."""
    out = F.lit(0)
    for h in range(RP_H):
        out = out + F.when(rp_projection(vec, h) >= 0, F.lit(1 << h)).otherwise(0)
    return out


def _rp_w_sql(h: int) -> str:
    # double_array_sql, not str(x): ±1.0 converts exactly either way,
    # but the quoted strtod form is the PARITY.md-sanctioned literal
    # path and keeps the bare-float lint clean by construction.
    from venus_spark.functions.sqlgen import double_array_sql

    return double_array_sql(RP_W[h])


def rp_projection_sql(vec: str, h: int) -> str:
    """DuckDB twin of :func:`rp_projection` — same literal weights, same
    left-fold order."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE), "
        f"[({vec})[i] * ({_rp_w_sql(h)})[i] FOR i IN RANGE(1, LEN({vec}) + 1)]), "
        f"(acc, x) -> acc + x)"
    )


def rp_bucket_sql(vec: str) -> str:
    """DuckDB twin of :func:`rp_bucket`."""
    return " + ".join(
        f"(CASE WHEN {rp_projection_sql(vec, h)} >= 0 THEN {1 << h} ELSE 0 END)"
        for h in range(RP_H)
    )


def rp_lsh_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN with multi-probe: exact cosine top-k restricted
    to the query's sign-random-projection bucket PLUS the H buckets at
    hamming distance 1 (the sign most likely to flip for a true neighbor
    is one borderline projection). The bucket id is a pure column
    expression, so at scale it becomes a *storage partition key* — the
    probe reads H+1 partitions out of 2^H instead of the full table.
    Membership is one predicate (xor is 0 or a power of two), no probe
    list to explode. Recall is traded against the ~2^H/(H+1)-fold scan
    reduction; the exact ``brute_force_topk`` remains the ground-truth
    baseline."""
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", rp_bucket(F.col("v")))
    qrow = vecs.filter(F.col(id_col) == query_id).select(
        F.col("bucket").alias("q_bucket"), F.col("v").alias("q_vec")
    )
    xor = F.col("bucket").bitwiseXOR(F.col("q_bucket"))
    in_bucket = vecs.join(
        F.broadcast(qrow), (xor.bitwiseAND(xor - 1)) == 0
    )
    sim = cosine(F.col("v"), F.col("q_vec"))
    return (
        in_bucket.select(F.col(id_col), dround(sim).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


# Product quantization (PQ): split the vector into PQ_M subspaces of
# PQ_DSUB dims, encode each subspace as the id of its nearest codeword
# (PQ_KS per subspace), answer queries with an asymmetric-distance
# (ADC) lookup-sum over the codes (Jégou et al., TPAMI 2011). Codebooks
# are a deterministic coreset sample (every PQ_CB_MOD-th vec_id, first
# PQ_KS) so the whole path stays in-engine and parity-checkable;
# kmeans_refine demonstrates the Lloyd step a trained codebook adds.
PQ_M = 8
PQ_DSUB = 8  # embeddings are 64-dim (TESTDATA.md): 8 x 8
PQ_KS = 16
PQ_CB_MOD = 3


def pq_sub(vec: list, j: int) -> list:
    """Python-side subspace slice of a full-dim vector."""
    return vec[j * PQ_DSUB : (j + 1) * PQ_DSUB]


def pq_fold_l2sq(a: list, b: list) -> float:
    """Driver-side L2² with the exact left fold order of functions.l2sq
    (and the oracle's LIST_REDUCE) — IEEE double either way, so the
    Spark-literal LUT and the oracle's in-SQL LUT are bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc = acc + d * d
    return acc


def pq_codebook_rows(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """The deterministic codebook sample (<= PQ_KS rows collected —
    bounded like the query-vector fetches)."""
    rows = (
        df.filter(F.col(id_col) % PQ_CB_MOD == 0)
        .orderBy(id_col)
        .limit(PQ_KS)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _dlit(x: float) -> str:
    """Spark SQL double literal that parses (Double.parseDouble, the
    correctly-rounded strtod path) to exactly the Python float."""
    return f"{float(x)!r}D"


def pq_lut(q: list[float], codebook: list[list[float]]) -> list[list[float]]:
    """ADC lookup tables: lut[j][c] = L2²(q_j, codeword_jc)."""
    return [
        [pq_fold_l2sq(pq_sub(q, j), pq_sub(c, j)) for c in codebook]
        for j in range(PQ_M)
    ]


def pq_adc_dist(codes_name: str, lut: list[list[float]]) -> Column:
    """Approximate L2² from stored codes: an PQ_M-term sum of literal-
    array lookups, added left-to-right (the oracle folds the same order
    over LIST(ld ORDER BY j)). ``codes_name`` is the NAME of the
    array<int> codes column."""
    terms = [
        f"element_at(array({', '.join(_dlit(x) for x in lut[j])}), "
        f"element_at({codes_name}, {j + 1}) + 1)"
        for j in range(PQ_M)
    ]
    return F.expr("(" + " + ".join(terms) + ")")


def cosine_pairs_in_buckets(
    df: DataFrame,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, restricted to
    bucket_col partitions (the blocked/bucketed version of the quadratic
    problem — buckets come from LSH, IVF, or a coarse label).

    The bucket self-join stays JVM-side; the per-pair cosine runs in
    one Arrow-batched numpy pass (:func:`vector_kernels.cosine_pairs`,
    bit-identical fold order; the id columns must be integral, which
    every caller's vec/doc ids are). A pair with a NULL or mismatched
    vector gets a NULL similarity, which the threshold drops. Rounding
    and the threshold filter apply JVM-side to the materialized
    ``sim_raw`` column — MapInArrow is an optimizer barrier, so
    Catalyst cannot re-inline the kernel into the dround CASE or push
    the filter into the join."""
    t = df.select(
        F.col(id_col),
        F.col(bucket_col).alias("bucket"),
        F.col(vec_col).alias("v"),
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
    )
    scored = pairs.mapInArrow(
        vector_kernels.cosine_pairs(), "id_a long, id_b long, sim_raw double"
    )
    return scored.select(
        "id_a", "id_b", dround(F.col("sim_raw")).alias("cosine_sim")
    ).filter(F.col("cosine_sim") > threshold)
