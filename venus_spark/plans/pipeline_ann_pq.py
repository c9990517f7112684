"""Training-data pipeline plans: product quantization (PQ)
retrieval — the memory-bandwidth lever for ANN at 100 TB scale.

IVF (sim_ivf_topk) prunes WHICH vectors a query touches; PQ shrinks the
COST of each touched vector: encode every vector once at write time as
m subspace code ids, then answer queries with an asymmetric-distance
(ADC) scan — per subspace, look the code up in a k_s-entry table of
precomputed query-to-codeword distances and sum the m lookups. The scan
reads m bytes per vector instead of 4*dim and does m array lookups
instead of dim multiplies (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public literature; the reference
has no vector surface, SURVEY.md §2C).

Constants live in :mod:`venus_spark.operators.similarity`
(PQ_M/PQ_DSUB/PQ_KS/PQ_CB_MOD), the encode and scoring kernels in
:mod:`venus_spark.operators.vector_kernels`; the codebook is a
deterministic coreset sample rather than offline k-means — Lloyd
refinement is demonstrated separately by ``kmeans_refine``; sampling
keeps the whole plan in-engine and parity-checkable while preserving
the exact encode/ADC dataflow a trained codebook would use.

Parity discipline: all distances are the shared left-fold L2² kernel
(:func:`venus_spark.functions.l2sq` / ``l2sq_sql``) over doubles, ties
broken on the lower code id / vec_id in both engines, and the Spark
side's driver-computed ADC lookup tables use the same left-to-right
Python float fold (IEEE double) the oracle's LIST_REDUCE performs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark.functions import l2sq, dround, lit_doubles
from venus_spark.functions.sqlgen import dround_sql, l2sq_sql
from venus_spark.operators import similarity as sim
from venus_spark.operators import vector_kernels
from venus_spark.plans.registry import plan
from venus_spark.sources import load_table

_PQ_K = 10
_PQ_QUERY_ID = 0

_VDBL = "LIST_TRANSFORM({0}, x -> CAST(x AS DOUBLE))"


def _pq_cte_prefix() -> str:
    """Shared oracle CTEs: codebook sample, query, encode, LUT, ADC."""
    d = sim.PQ_DSUB
    sub = f"v[(CAST(j AS INT) * {d} + 1):(CAST(j AS INT) * {d} + {d})]"
    qsub = f"qv[(CAST(j AS INT) * {d} + 1):(CAST(j AS INT) * {d} + {d})]"
    csub = f"cv[(CAST(j AS INT) * {d} + 1):(CAST(j AS INT) * {d} + {d})]"
    return f"""
WITH cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cb_id,
         {_VDBL.format('embedding')} AS cv
  FROM (SELECT * FROM embeddings WHERE vec_id % {sim.PQ_CB_MOD} = 0
        ORDER BY vec_id LIMIT {sim.PQ_KS})
),
q AS (
  SELECT {_VDBL.format('embedding')} AS qv FROM embeddings
  WHERE vec_id = {_PQ_QUERY_ID}
),
subs AS (SELECT j FROM RANGE({sim.PQ_M}) t(j)),
-- encode: nearest codeword per (vector, subspace), lower cb_id on ties
enc AS (
  SELECT vec_id, j, cb_id,
         {l2sq_sql(sub, csub)} AS d
  FROM (SELECT vec_id, {_VDBL.format('embedding')} AS v FROM embeddings)
  CROSS JOIN subs CROSS JOIN cb
),
codes AS (
  SELECT vec_id, j, cb_id FROM enc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cb_id) = 1
),
-- ADC lookup table: query-to-codeword distance per (subspace, code)
lut AS (
  SELECT j, cb_id, {l2sq_sql(qsub, csub)} AS ld
  FROM cb CROSS JOIN subs CROSS JOIN q
),
adc AS (
  SELECT vec_id,
         LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
                                  LIST(ld ORDER BY j)),
                     (acc, x) -> acc + x) AS adist
  FROM codes JOIN lut USING (j, cb_id)
  GROUP BY vec_id
)"""


def _pq_oracle() -> str:
    return f"""{_pq_cte_prefix()},
exact AS (
  SELECT vec_id, {l2sq_sql('v', '(SELECT qv FROM q)')} AS edist
  FROM (SELECT vec_id, {_VDBL.format('embedding')} AS v FROM embeddings)
)
SELECT vec_id,
       {dround_sql('adist')} AS adc_l2sq,
       {dround_sql('edist')} AS exact_l2sq
FROM adc JOIN exact USING (vec_id)
ORDER BY adist, vec_id LIMIT {_PQ_K}
"""


def _pq_prepared_oracle() -> str:
    return f"""{_pq_cte_prefix()}
SELECT vec_id, {dround_sql('adist')} AS adc_l2sq
FROM adc ORDER BY adist, vec_id LIMIT {_PQ_K}
"""


def _adc_topk(codes_df: DataFrame, lut: list[list[float]]) -> DataFrame:
    """The ADC scan + top-k tail over a codes relation — ONE copy so a
    parity-relevant change (tie-break, rounding) cannot diverge between
    the prepared plan, its live twin and the IVF-PQ plan. Rows without
    codes (a NULL or wrong-length vector) are never ranked."""
    return (
        codes_df.filter(F.col("codes").isNotNull())
        .select("vec_id", sim.pq_adc_dist("codes", lut).alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(_PQ_K)
        .select("vec_id", dround("adist").alias("adc_l2sq"))
    )


def _query_vec(df: DataFrame) -> list[float]:
    qrow = (
        df.filter(F.col("vec_id") == _PQ_QUERY_ID).select("embedding").first()
    )
    return [float(x) for x in qrow["embedding"]]


@plan("sim_pq_adc_topk", oracle=_pq_oracle())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC top-k as ONE Arrow-batched scan pass.

    The codebook (<= 16 rows) and query vector are the only driver-side
    fetches — the same bounded pattern as the other query-vector plans.
    Encode, ADC and exact distance run in one vectorized numpy kernel
    over Arrow batches (:func:`vector_kernels.pq_scorer`, the encoder
    the write paths use, bit-identical to the oracle's op order). Only
    (vec_id, embedding) crosses the Python boundary; the only exchange
    is the final TakeOrderedAndProject merge. A NULL or wrong-length
    vector scores NULL and is never ranked. The exact_l2sq column is
    the per-row audit of how well ADC approximates the true
    distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = sim.pq_codebook_rows(emb)
    q = _query_vec(emb)
    lut = sim.pq_lut(q, codebook)

    scored = emb.select("vec_id", "embedding").mapInArrow(
        vector_kernels.pq_scorer(q, codebook, lut, sim.PQ_M),
        "vec_id long, adist double, edist double",
    )
    return (
        scored.filter(F.col("adist").isNotNull())
        .orderBy("adist", "vec_id")
        .limit(_PQ_K)
        .select(
            "vec_id",
            dround("adist").alias("adc_l2sq"),
            dround("edist").alias("exact_l2sq"),
        )
    )


@plan("sim_pq_adc_prepared", oracle=_pq_prepared_oracle())
def sim_pq_adc_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k served from the prepared PQ index
    (prepared.embeddings_pq): the encode half ran once at write time, so
    the query scans the 8-byte ``codes`` column — 32x less bandwidth
    than the float32 vectors — and does PQ_M literal-array lookups per
    row. This is the steady-state shape of a PQ deployment; the
    recompute twin (sim_pq_adc_topk) is the write-time audit. Same
    oracle pipeline: the layout changes the access path, not the
    answer."""
    from venus_spark.prepared import _collect_codebook, embeddings_pq

    codes_df, cb_df = embeddings_pq(spark, sf_dir)
    codebook = _collect_codebook(cb_df)
    q = _query_vec(load_table(spark, sf_dir, "embeddings"))
    return _adc_topk(codes_df, sim.pq_lut(q, codebook))


@plan("sim_pq_adc_live", oracle=_pq_prepared_oracle())
def sim_pq_adc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pq_adc_prepared over the LIVE vector set (VERDICT r10 #1,
    the PQ twin of ``sim_ivf_topk_live``): the prepared codes table ∪
    the streamed sink's PENDING batches (landed, not yet committed to
    the codes layout's abatch manifest — the crash window the
    checkpoint replay heals), the pending side encoded on the fly
    against the SAME immutable saturated codebook the write-time
    maintenance uses, so live encode == appended encode by
    construction. Quiescent dirs degrade to exactly the prepared
    codes-column scan; the pending union is micro-batch-sized and
    engages only when the manifest says a batch is in flight."""
    from venus_spark.plans.pipeline_ann import _live_vector_candidates
    from venus_spark.prepared import (
        _collect_codebook,
        _pq_code_rows,
        _pq_saturated_codebook,
        embeddings_pq,
    )

    codes_df, cb_df = embeddings_pq(spark, sf_dir)
    codebook = _collect_codebook(cb_df)
    q = _query_vec(load_table(spark, sf_dir, "embeddings"))
    lut = sim.pq_lut(q, codebook)

    def encode_pending(pend):
        # the saturation gate runs exactly when this plan ENCODES
        # (pending batches exist — review r11 pass-3 #6): an
        # unsaturated sample would make the live encode diverge from
        # what a rebuild would store, the same append != rebuild
        # hazard the write-time maintenance refuses; quiescent dirs
        # never reach here and keep the degrade-to-prepared contract
        # even on a corpus too small to saturate.
        if len(codebook) < sim.PQ_KS:
            _pq_saturated_codebook(spark, sf_dir, cb_df=cb_df)  # raises
        return _pq_code_rows(pend, codebook)

    live_codes = _live_vector_candidates(
        spark,
        sf_dir,
        codes_df.select("vec_id", "label", "codes"),
        "embeddings_pq_codes.parquet",
        probed_labels=None,
        project=encode_pending,
    )
    return _adc_topk(live_codes, lut)


# --------------------------------------------------------------------------
# IVF-PQ: the full FAISS-style ANN composition — coarse quantizer prunes
# WHICH cluster directories are read (IVF, static partition filter over
# the label-partitioned codes table), PQ shrinks the COST of each read
# row (8-byte codes + ADC lookup-sum). At 100 TB this is the deployed
# shape: nprobe/n_clusters of the corpus touched, 32x less bandwidth on
# what is touched, no vector arithmetic in the scan.
# --------------------------------------------------------------------------

# One probe width corpus-wide: drift between the IVF and IVF-PQ plans
# would make their recall numbers incomparable.
from venus_spark.plans.pipeline_ann import _NPROBE as _IVFPQ_NPROBE  # noqa: E402


def _ivfpq_oracle() -> str:
    from venus_spark.functions.sqlgen import cosine_sql, davg_sql

    return f"""{_pq_cte_prefix()},
long_cent AS (
  SELECT label AS cluster,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
         UNNEST({_VDBL.format('embedding')}) AS v
  FROM embeddings
),
cent AS (
  SELECT cluster, pos, {davg_sql('v')} AS centroid_v
  FROM long_cent GROUP BY cluster, pos
),
cent_arr AS (
  SELECT cluster, LIST(centroid_v ORDER BY pos) AS centroid
  FROM cent GROUP BY cluster
),
probed AS (
  SELECT cluster,
         {dround_sql(f'''{cosine_sql('cent_arr.centroid', 'q.qv')}''')} AS centroid_sim
  FROM cent_arr CROSS JOIN q
  ORDER BY centroid_sim DESC, cluster LIMIT {_IVFPQ_NPROBE}
)
SELECT a.vec_id, {dround_sql('a.adist')} AS adc_l2sq
FROM adc a JOIN embeddings e ON a.vec_id = e.vec_id
WHERE e.label IN (SELECT cluster FROM probed)
ORDER BY a.adist, a.vec_id LIMIT {_PQ_K}
"""


@plan("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over the prepared layouts: score the query against
    the materialized centroid table (broadcast-sized), collect the
    nprobe winning cluster ids (bounded driver fetch, same two-phase
    idiom as sim_ivf_topk_prepared — a literal IN beats hoping for DPP),
    plant them as a static partition filter on the label-partitioned
    codes table, and ADC-scan only those directories. The scan touches
    neither unprobed clusters nor any float vector; its physical plan
    shows PartitionFilters on label and a codes-only ReadSchema
    (shape-tested)."""
    from venus_spark.functions import cosine
    from venus_spark.prepared import _collect_codebook, embeddings_ivf, embeddings_pq

    codes_df, cb_df = embeddings_pq(spark, sf_dir)
    _, cents = embeddings_ivf(spark, sf_dir)
    codebook = _collect_codebook(cb_df)
    q = _query_vec(load_table(spark, sf_dir, "embeddings"))
    lut = sim.pq_lut(q, codebook)
    qlit = lit_doubles(q)

    probed = (
        cents.select(
            "cluster", dround(cosine(F.col("centroid"), qlit)).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("cluster"))
        .limit(_IVFPQ_NPROBE)
        .collect()
    )
    pruned = codes_df.filter(
        F.col("label").isin([r["cluster"] for r in probed])
    )
    return _adc_topk(pruned, lut)


# --------------------------------------------------------------------------
# IVF-PQ recall audit: does coarse pruning + 8-byte codes change the
# retrieved set? Recall@k of sim_ivfpq_topk against the exact float
# L2 top-k — the accept/reject gate for shipping the compressed index,
# composing quant_recall_topk's audit shape with the IVFPQ plan.
# --------------------------------------------------------------------------


def _ivfpq_recall_oracle() -> str:
    from venus_spark.functions.sqlgen import cosine_sql, davg_sql

    return f"""{_pq_cte_prefix()},
long_cent AS (
  SELECT label AS cluster,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
         UNNEST({_VDBL.format('embedding')}) AS v
  FROM embeddings
),
cent AS (
  SELECT cluster, pos, {davg_sql('v')} AS centroid_v
  FROM long_cent GROUP BY cluster, pos
),
cent_arr AS (
  SELECT cluster, LIST(centroid_v ORDER BY pos) AS centroid
  FROM cent GROUP BY cluster
),
probed AS (
  SELECT cluster,
         {dround_sql(f'''{cosine_sql('cent_arr.centroid', 'q.qv')}''')} AS centroid_sim
  FROM cent_arr CROSS JOIN q
  ORDER BY centroid_sim DESC, cluster LIMIT {_IVFPQ_NPROBE}
),
approx AS (
  SELECT a.vec_id
  FROM adc a JOIN embeddings e ON a.vec_id = e.vec_id
  WHERE e.label IN (SELECT cluster FROM probed)
  ORDER BY a.adist, a.vec_id LIMIT {_PQ_K}
),
exact AS (
  SELECT vec_id
  FROM (SELECT vec_id, {l2sq_sql('v', '(SELECT qv FROM q)')} AS edist
        FROM (SELECT vec_id, {_VDBL.format('embedding')} AS v FROM embeddings))
  ORDER BY edist, vec_id LIMIT {_PQ_K}
)
SELECT CAST({_PQ_K} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_common,
       CAST(((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) * 1000)
            // {_PQ_K} AS BIGINT) AS recall_permille
"""


@plan("sim_ivfpq_recall", oracle=_ivfpq_recall_oracle())
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the full IVF-PQ path (partition-pruned ADC scan over
    stored codes) against the exact float L2 top-k — the audit that
    decides nprobe and the PQ geometry before shipping the index. Two
    top-k scans plus a k-row join; at scale this runs per shard over a
    query sample, same shape."""
    from venus_spark.functions import l2sq

    approx = sim_ivfpq_topk(spark, sf_dir).select("vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(emb)
    qlit = lit_doubles(q)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exact = (
        emb.select("vec_id", l2sq(v, qlit).alias("edist"))
        .orderBy("edist", "vec_id")
        .limit(_PQ_K)
        .select("vec_id")
    )
    return exact.join(approx, "vec_id").agg(
        F.lit(_PQ_K).cast("long").alias("k"),
        F.count("*").alias("n_common"),
        F.expr(f"(count(*) * 1000) div {_PQ_K}").alias("recall_permille"),
    )



# --------------------------------------------------------------------------
# Embedding quantization: symmetric per-vector int8 — the storage/
# bandwidth lever for vector corpora at 100 TB scale. Codes are exact
# integers (parity-trivial); the reconstruction-error audit uses the
# same explicit floor(x + 0.5) rounding in both engines.
# --------------------------------------------------------------------------

_QUANT_ORACLE = f"""
WITH prepared AS (
  SELECT label,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scaled AS (
  SELECT label, v,
         LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) / 127 AS scale
  FROM prepared
),
coded AS (
  SELECT label, scale,
         LIST_TRANSFORM(v, x -> FLOOR(x / scale + 0.5)) AS codes,
         LIST_MAX(
           LIST_ZIP(v, LIST_TRANSFORM(v, x -> FLOOR(x / scale + 0.5)))
             .apply(p -> ABS(CAST(p[2] AS DOUBLE) * scale
                             - CAST(p[1] AS DOUBLE)))
         ) AS max_err
  FROM scaled
  WHERE scale > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(LIST_REDUCE(codes, (a, b) -> a + b) AS BIGINT))
            AS BIGINT) AS code_sum_total,
       {dround_sql('MAX(max_err)', 9)} AS max_abs_err
FROM coded
GROUP BY label
ORDER BY label
"""


@plan("embedding_quantize", oracle=_QUANT_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale = max|x|/127,
    code = floor(x/scale + 0.5) (explicit floor rounding — identical in
    both engines, unlike engine-native round()), reporting per label the
    integer code checksum and the max absolute reconstruction error.
    All math is higher-order array functions over one scan; the groupBy
    key (label) is 64-ary — partial-agg, no data movement beyond the
    final tiny exchange. At scale the codes column (4x smaller than
    float32, 8x than float64) is what you'd persist; this plan is the
    write-time audit that the error bound holds."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    prepared = emb.select("label", v.alias("v"))
    scale = F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)
    scaled = prepared.select("label", "v", scale.alias("scale"))
    codes = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
    )
    max_err = F.array_max(
        F.zip_with(
            F.col("v"),
            codes,
            lambda x, c: F.abs(c.cast("double") * F.col("scale") - x),
        )
    )
    coded = scaled.filter(F.col("scale") > 0).select(
        "label",
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "code_sum"
        ),
        max_err.alias("max_err"),
    )
    return (
        coded.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("code_sum").alias("code_sum_total"),
            dround(F.max("max_err"), 9).alias("max_abs_err"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Quantization recall audit: does int8 change retrieval answers? Exact
# float top-k vs top-k over dequantized vectors, reported as integer
# recall permille — the accept/reject gate for shipping the quantized
# index. Composes embedding_quantize's code math with sim_cosine_topk's
# retrieval shape; all constants shared with those plans.
# --------------------------------------------------------------------------

_QR_K = 10
_QR_QUERY_ID = 0


def _quant_recall_oracle() -> str:
    from venus_spark.functions.sqlgen import cosine_sql

    return f"""
WITH q AS (
  SELECT {_VDBL.format('embedding')} AS qv FROM embeddings
  WHERE vec_id = {_QR_QUERY_ID}
),
v AS (
  SELECT vec_id, {_VDBL.format('embedding')} AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) / 127 AS scale
  FROM v
),
dq AS (
  SELECT vec_id,
         LIST_TRANSFORM(v, x -> FLOOR(x / scale + 0.5) * scale) AS vq
  FROM s WHERE scale > 0
),
exact AS (
  SELECT vec_id FROM v CROSS JOIN q
  ORDER BY {dround_sql(f'''{cosine_sql('v', 'qv')}''')} DESC, vec_id LIMIT {_QR_K}
),
quant AS (
  SELECT vec_id FROM dq CROSS JOIN q
  ORDER BY {dround_sql(f'''{cosine_sql('vq', 'qv')}''')} DESC, vec_id LIMIT {_QR_K}
)
SELECT CAST({_QR_K} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN quant USING (vec_id)) AS BIGINT)
         AS n_common,
       CAST(((SELECT COUNT(*) FROM exact JOIN quant USING (vec_id)) * 1000)
            // {_QR_K} AS BIGINT) AS recall_permille
"""


@plan("quant_recall_topk", oracle=_quant_recall_oracle())
def quant_recall_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-quantized retrieval against the exact float
    baseline for the canonical query vector: quantize (same floor(x/
    scale + 0.5) codes as embedding_quantize), dequantize, rank by
    cosine with the sim_cosine_topk tie-break (sim DESC, vec_id), and
    intersect the two k-sets. Two TakeOrderedAndProject scans plus a
    k-row join — nothing driver-side but the one query-vector lookup;
    at scale this audit runs per shard on a sample of queries, same
    shape."""
    from venus_spark.functions import cosine
    from venus_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == _QR_QUERY_ID).select("embedding").first()
    )
    q = lit_doubles(qrow["embedding"])

    # Hoist v and scale into projections: referencing the scale
    # EXPRESSION inside the dequantize lambda would inline the whole
    # array_max fold per element — O(dim^2) per row instead of O(dim).
    prepared = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    scaled = prepared.select(
        "vec_id",
        "v",
        (F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    vq = F.transform(
        F.col("v"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale"),
    )

    exact = (
        prepared.select("vec_id", dround(cosine(F.col("v"), q)).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(_QR_K)
        .select("vec_id")
    )
    quant = (
        scaled.filter(F.col("scale") > 0)
        .select("vec_id", dround(cosine(vq, q)).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(_QR_K)
        .select("vec_id")
    )
    return exact.join(quant, "vec_id").agg(
        F.lit(_QR_K).cast("long").alias("k"),
        F.count("*").alias("n_common"),
        F.expr(f"(count(*) * 1000) div {_QR_K}").alias("recall_permille"),
    )
