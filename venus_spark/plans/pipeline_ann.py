"""Training-data pipeline plans: ANN similarity search — the IVF
two-stage search (probe centroids, then exact top-k in-cluster), its
prepared/live twins, and the random-hyperplane LSH-bucketed variant.

(Moved verbatim from the accreted pipeline_ops2 module in the r14
domain re-grouping; plan names unchanged.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from venus_spark.functions import cosine, davg, dround, lit_doubles
from venus_spark.functions.sqlgen import cosine_sql, davg_sql, dround_sql
from venus_spark.operators import similarity as sim
from venus_spark.plans.registry import plan
from venus_spark.sources import load_table

# --------------------------------------------------------------------------
# IVF two-stage ANN search (probe centroids, then exact top-k in-cluster)
# --------------------------------------------------------------------------

_QUERY_VEC_ID = 0
_TOPK = 10
_NPROBE = 2

_VD = "LIST_TRANSFORM({0}, x -> CAST(x AS DOUBLE))"


def ivf_probe_cte() -> str:
    """The oracle's probe pipeline as a reusable WITH-prefix ending in
    the ``probed`` CTE (centroid = per-(cluster,pos) davg; probe =
    top-nprobe clusters by rounded cosine) — ONE copy shared by the
    full oracle below and the streamed mirror's probe-set screen, so
    the screen can never desynchronize from the oracle it guards
    (review r11 pass-1 #4)."""
    return f"""
WITH q AS (
  SELECT {_VD.format('embedding')} AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
),
long_cent AS (
  SELECT label AS cluster,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
         UNNEST({_VD.format('embedding')}) AS v
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
  ORDER BY centroid_sim DESC, cluster LIMIT {_NPROBE}
)"""


def _ivf_topk_oracle() -> str:
    # Mirrors operators/similarity.py: probe CTE above; final = exact
    # top-k within probed clusters.
    return f"""{ivf_probe_cte()},
scored AS (
  SELECT e.vec_id,
         {dround_sql(f'''{cosine_sql(_VD.format('e.embedding'), 'q.qv')}''')} AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (SELECT cluster FROM probed)
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id LIMIT {_TOPK}
"""


def frozen_ivf_probe(spark: SparkSession, sf_dir: str, layout=None):
    """The PLANS' probe, driver-side: rank the prepared (frozen,
    base-trained) centroid table by rounded cosine to the query vector
    and split at nprobe. Returns ``(probed labels, query vector as
    floats, unprobed labels)`` — ONE copy shared by
    sim_ivf_topk_prepared / sim_ivf_topk_live, the streamed mirror's
    screen, and the e2e tests (review r11 pass-1 #4). ``layout`` lets
    the plans pass the ``(vecs, cents)`` pair their own
    ``embeddings_ivf`` call already ensured — one ensure per query,
    and the probe reads the SAME layout generation the scan reads
    (review r11 pass-2 #5)."""
    from venus_spark.operators.similarity import cosine

    if layout is None:
        from venus_spark.prepared import embeddings_ivf

        layout = embeddings_ivf(spark, sf_dir)
    vecs, cents = layout
    qrow = (
        vecs.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("embedding")
        .first()
    )
    qvec = [float(x) for x in qrow["embedding"]]
    query = lit_doubles(qvec)
    rows = (
        cents.select(
            "cluster",
            dround(cosine(F.col("centroid"), query)).alias("centroid_sim"),
        )
        # a few rows: sorted in one partition, without the sampling
        # job and shuffle of a global orderBy (same NULL/NaN order)
        .coalesce(1)
        .sortWithinPartitions(F.col("centroid_sim").desc(), F.col("cluster"))
        .collect()
    )
    return (
        [int(r["cluster"]) for r in rows[:_NPROBE]],
        qvec,
        [int(r["cluster"]) for r in rows[_NPROBE:]],
    )


@plan("sim_ivf_topk", oracle=_ivf_topk_oracle())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: centroid probe (tiny, broadcast) + exact top-k
    restricted to the probed clusters — the scan-pruning path that makes
    ANN tractable at 100 TB (vectors partitioned by cluster id)."""
    from venus_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").first()
    query = lit_doubles(qrow["embedding"])
    return ivf_topk(emb, query, k=_TOPK, nprobe=_NPROBE)


@plan("sim_ivf_topk_prepared", oracle=_ivf_topk_oracle())
def sim_ivf_topk_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_topk served from the prepared IVF layout
    (prepared.embeddings_ivf): centroids come from a materialized
    broadcast-sized table instead of a per-query aggregation over every
    vector, and the vector table is partitioned by cluster id so the
    probe semi-join prunes partition *directories* (dynamic partition
    pruning) — the index-at-write-time shape a 100 TB ANN deployment
    actually runs. Same oracle as sim_ivf_topk: the layout changes the
    access path, not the answer."""
    from venus_spark.operators.similarity import brute_force_topk

    from venus_spark.prepared import embeddings_ivf

    layout = embeddings_ivf(spark, sf_dir)
    vecs = layout[0]
    # Two-phase like the query-vector fetch above: the probe result is
    # nprobe rows of a broadcast-sized table, so collecting the cluster
    # ids and planting them as a literal partition filter gives *static*
    # directory pruning (PartitionFilters: label IN (...)) — Spark's
    # dynamic-pruning rule declines this join because of the limit, and
    # at 100 TB a guaranteed static prune beats hoping for DPP.
    labels, qvec, _ = frozen_ivf_probe(spark, sf_dir, layout=layout)
    query = lit_doubles(qvec)
    pruned = vecs.filter(F.col("label").isin(labels))
    return brute_force_topk(pruned, query, k=_TOPK)


# cap on the driver-side pending-id fetch of the live vector plans —
# the same bounded-collect discipline as venus_surface._KV_DF_CAP: the
# pending window is micro-batch-sized by construction (it exists only
# between a batch's sink write and its index append), so the inline
# NOT-IN literal keeps the healthy plan shuffle-free; a pathological
# backlog past the cap falls back to a vec_id dedup shuffle instead of
# an unbounded driver collect.
_PENDING_ID_CAP = 100_000


def _live_vector_candidates(
    spark: SparkSession,
    sf_dir: str,
    layout_rows: DataFrame,
    layout_file: str,
    probed_labels: list,
    project,
) -> DataFrame:
    """Shared live-union tail of the ``sim_*_live`` plans: the prepared
    layout's rows for the probed clusters ∪ the streamed sink's PENDING
    batches (landed in the sink, not yet committed to ``layout_file``'s
    abatch manifest — the crash window of ``start_embeddings_ingest``).
    ``project`` maps raw pending vector rows (vec_id, embedding, label)
    onto the layout's row shape (the PQ plan encodes codes here).

    Quiescent / drained dirs return ``layout_rows`` untouched — the
    live plans degrade to their prepared twins at zero cost beyond one
    listdir + manifest read. When pending batches exist, the union
    dedups by vec_id (a batch torn mid-append sits partially in BOTH
    relations): the pending ids are inlined as a literal anti-filter on
    the layout side — pending rows win, the healthy plan stays
    shuffle-free — with a dedup-shuffle fallback past ``_PENDING_ID_CAP``."""
    from venus_spark.prepared import _anti_vec_tombstones
    from venus_spark.streaming import (
        pending_vector_batches,
        read_pending_vectors,
    )

    sink, pending = pending_vector_batches(sf_dir, layout_file)
    if not pending:
        return layout_rows
    pend = _anti_vec_tombstones(
        spark, sf_dir, read_pending_vectors(spark, sink, pending)
    )
    if probed_labels is not None:  # PQ routes by codebook, probes nothing
        pend = pend.filter(F.col("label").isin(probed_labels))
    pend = project(pend)
    ids = [
        r["vec_id"]
        for r in pend.select("vec_id").limit(_PENDING_ID_CAP + 1).collect()
    ]
    if len(ids) <= _PENDING_ID_CAP:
        return layout_rows.filter(~F.col("vec_id").isin(ids)).unionByName(
            pend
        )
    return layout_rows.unionByName(pend).dropDuplicates(["vec_id"])


@plan("sim_ivf_topk_live", oracle=_ivf_topk_oracle())
def sim_ivf_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_topk over the LIVE vector set (VERDICT r10 #1): the
    prepared IVF layout ∪ the streamed sink's pending batches, so a
    vector ingested this minute is searchable even inside the
    sink-landed-but-not-yet-appended crash window that the checkpoint
    replay has not healed yet. The probe runs on the FROZEN prepared
    centroids (the standard IVF posture — centroids refresh by offline
    retrain, not per insert; streamed vectors arrive pre-assigned via
    their ``label``), so the quiescent plan is byte-identical to
    ``sim_ivf_topk_prepared``: static partition pruning on the probed
    cluster directories, one TakeOrderedAndProject, no shuffle. The
    pending union engages exactly when pending batches exist —
    detected in O(listdir + manifest read) — and stays micro-batch-
    sized. Reference analog: freshly-INSERTed rows are served by every
    index identically (migration 37716151a213 :35-37)."""
    from venus_spark.operators.similarity import brute_force_topk

    from venus_spark.prepared import embeddings_ivf

    layout = embeddings_ivf(spark, sf_dir)
    vecs = layout[0]
    labels, qvec, _ = frozen_ivf_probe(spark, sf_dir, layout=layout)
    query = lit_doubles(qvec)
    pruned = _live_vector_candidates(
        spark,
        sf_dir,
        vecs.filter(F.col("label").isin(labels)).select(
            "vec_id", "embedding", "label"
        ),
        "embeddings_ivf.parquet",
        labels,
        project=lambda pend: pend,
    )
    return brute_force_topk(pruned, query, k=_TOPK)


# --------------------------------------------------------------------------
# Random-hyperplane LSH-bucketed ANN (the non-IVF bucketing variant)
# --------------------------------------------------------------------------


def _rp_lsh_oracle() -> str:
    # Mirrors operators/similarity.py rp_bucket — the ±1 weight matrix is
    # a shared module constant with one Spark and one SQL generator.
    from venus_spark.operators.similarity import rp_bucket_sql as bucket

    return f"""
WITH v AS (
  SELECT vec_id, {_VD.format('embedding')} AS v FROM embeddings
),
b AS (
  SELECT vec_id, v, {bucket('v')} AS bucket FROM v
),
q AS (
  SELECT bucket AS q_bucket, v AS qv FROM b WHERE vec_id = {_QUERY_VEC_ID}
),
scored AS (
  SELECT b.vec_id,
         {dround_sql(f'''{cosine_sql('b.v', 'q.qv')}''')} AS cosine_sim
  FROM b JOIN q
    ON (XOR(b.bucket, q.q_bucket) & (XOR(b.bucket, q.q_bucket) - 1)) = 0
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id LIMIT {_TOPK}
"""


@plan("sim_rp_lsh_topk", oracle=_rp_lsh_oracle())
def sim_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-random-projection bucket as the blocking
    key, exact cosine top-k over the query's bucket plus its H
    hamming-distance-1 neighbors (multi-probe). The bucket id is a
    deterministic column expression, so at scale it doubles as the
    storage partition key (scan H+1 of 2^H partitions)."""
    from venus_spark.operators.similarity import rp_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_topk(emb, query_id=_QUERY_VEC_ID, k=_TOPK)




# --------------------------------------------------------------------------
# IVF nprobe sweep: recall@k vs probe width — the ANN tuning curve
# --------------------------------------------------------------------------

_SWEEP_QUERY_VEC_ID = 0
_SWEEP_K = 10
_SWEEP_NPROBES = (1, 2, 4)

_SWEEP_RECALL = f"{dround_sql(f'CAST(hits AS DOUBLE) / CAST({_SWEEP_K} AS DOUBLE)')}"

_VDL = "LIST_TRANSFORM({0}, x -> CAST(x AS DOUBLE))"


def _nprobe_sweep_oracle() -> str:
    from venus_spark.functions.sqlgen import davg_sql

    blocks, rows = [], []
    for n in _SWEEP_NPROBES:
        blocks.append(f"""
probed_{n} AS (
  SELECT cluster FROM cent_scored
  ORDER BY centroid_sim DESC, cluster LIMIT {n}
),
cand_{n} AS (
  SELECT vec_id, cosine_sim FROM scored_all
  WHERE label IN (SELECT cluster FROM probed_{n})
),
ivf_{n} AS (
  SELECT vec_id FROM cand_{n}
  ORDER BY cosine_sim DESC, vec_id LIMIT {_SWEEP_K}
),
row_{n} AS (
  SELECT {n} AS nprobe,
         (SELECT COUNT(*) FROM cand_{n}) AS n_candidates,
         (SELECT COUNT(*) FROM ivf_{n} JOIN exact USING (vec_id)) AS hits
)""")
        rows.append(f"SELECT * FROM row_{n}")
    union = " UNION ALL ".join(rows)
    return f"""
WITH q AS (
  SELECT {_VDL.format('embedding')} AS qv FROM embeddings
  WHERE vec_id = {_SWEEP_QUERY_VEC_ID}
),
long_cent AS (
  SELECT label AS cluster,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
         UNNEST({_VDL.format('embedding')}) AS v
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
cent_scored AS (
  SELECT cluster,
         {dround_sql(f'''{cosine_sql('cent_arr.centroid', 'q.qv')}''')} AS centroid_sim
  FROM cent_arr CROSS JOIN q
),
scored_all AS (
  SELECT e.vec_id, e.label,
         {dround_sql(f'''{cosine_sql(_VDL.format('e.embedding'), 'q.qv')}''')} AS cosine_sim
  FROM embeddings e CROSS JOIN q
),
exact AS (
  SELECT vec_id FROM scored_all ORDER BY cosine_sim DESC, vec_id
  LIMIT {_SWEEP_K}
),{",".join(blocks)}
SELECT nprobe, CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(hits AS BIGINT) AS hits, {_SWEEP_RECALL} AS recall_at_k
FROM ({union}) ORDER BY nprobe
"""


@plan("sim_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve: for each probe width, recall@k of the IVF
    search against the exact brute-force top-k, next to the candidate
    count the probe paid for it — the accuracy/cost trade every IVF
    deployment sweeps before fixing nprobe (recall rises toward 1.0 as
    the probe widens toward the full scan). Composes the production
    pieces: one centroid table scored once, per-width cluster
    restriction, exact ranking inside the probe, intersection with the
    exact set.

    Scale shape: two narrow passes over the vector table (per-cluster
    top-k digest; per-cluster counts), materialized ONCE via
    localCheckpoint into broadcast-sized tables — every derived
    quantity, including each width's top-k AND the exact global top-k
    (a global top-k vector is necessarily in its own cluster's top-k),
    re-ranks those tiny tables, so sweeping more widths never
    re-scans the corpus. Cluster probe order comes from the bounded
    collect-sort-posexplode aggregate (no single-partition WindowExec).
    No collect beyond the one-row query-vector fetch (the documented
    idiom)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == _SWEEP_QUERY_VEC_ID)
        .select("embedding")
        .first()
    )
    query = lit_doubles(qrow["embedding"])

    scored_all = emb.select(
        "vec_id",
        "label",
        dround(cosine(sim.as_double(F.col("embedding")), query)).alias(
            "cosine_sim"
        ),
    )
    # ONE corpus pass for BOTH derived tables (r15): the per-cluster
    # count rides the same label-partitioned window pass as the top-k
    # rank (two WindowExecs, one Exchange — same partitioning), so the
    # separate groupBy-count aggregation pass over the corpus is gone;
    # cluster sizes are recovered below from the digest (every
    # non-empty cluster has a rn=1 row carrying n_vecs).
    per_cluster = Window.partitionBy("label")
    per_cluster_rank = per_cluster.orderBy(F.col("cosine_sim").desc(), "vec_id")
    digest = (
        scored_all.withColumn("rn", F.row_number().over(per_cluster_rank))
        .withColumn("n_vecs", F.count("*").over(per_cluster).cast("long"))
        .filter(F.col("rn") <= _SWEEP_K)
        .drop("rn")
    )
    # Probe order of the clusters: rank centroids by cosine via the
    # bounded collect-sort aggregate (n_clusters rows — no WindowExec).
    cent_scored = sim.centroid_arrays(emb).select(
        "cluster",
        dround(cosine(F.col("centroid"), query)).alias("centroid_sim"),
    )
    cluster_rank = (
        cent_scored.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("centroid_sim")).alias("neg"), F.col("cluster")
                    )
                )
            ).alias("ordered")
        )
        .select(F.posexplode("ordered").alias("i", "s"))
        .select(
            F.col("s.cluster").alias("label"), (F.col("i") + 1).alias("crank")
        )
    )
    ranked = F.broadcast(cluster_rank)
    # Materialize the digest once (n_clusters × k rows): the sweep
    # branches below each reference it twice, and without this every
    # branch would re-run the corpus scan (Catalyst does not share
    # common subplans across a union). eager=False (r15): the
    # checkpoint materializes inside the query's own first job instead
    # of a separate driver-synchronous job at build time — every later
    # branch still reads the cached blocks.
    from venus_spark.lineage import ckpt

    dig = ckpt(digest.join(ranked, "label"))
    # n_clusters rows, deduped from the digest's window-carried counts —
    # no second corpus aggregation pass (r15).
    sized = dig.select("label", "n_vecs", "crank").distinct()
    dig = dig.drop("n_vecs")
    exact = (
        dig.orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(_SWEEP_K)
        .select("vec_id")
    )

    out = None
    for n in _SWEEP_NPROBES:
        ivf = (
            dig.filter(F.col("crank") <= n)
            .orderBy(F.col("cosine_sim").desc(), "vec_id")
            .limit(_SWEEP_K)
            .select("vec_id")
        )
        row = (
            sized.filter(F.col("crank") <= n)
            .agg(F.sum("n_vecs").cast("long").alias("n_candidates"))
            .crossJoin(
                ivf.join(exact, "vec_id").agg(
                    F.count("*").cast("long").alias("hits")
                )
            )
            .select(
                F.lit(n).cast("int").alias("nprobe"),
                "n_candidates",
                "hits",
                F.expr(_SWEEP_RECALL).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


