"""Training-data pipeline plans: scale-path near-dup dedup — the
bucketed zero-shuffle LSH layout and its live (pending-aware) twin.

(Moved verbatim from the accreted pipeline_ops8 module in the r14
domain re-grouping; plan names unchanged.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from venus_spark.functions import dround
from venus_spark.functions.sqlgen import (
    cosine_sql,
    dround_sql,
    hashed_shingles_sql,
    shingles_sql,
    token_hash31_sql,
)
from venus_spark.operators import similarity as sim
from venus_spark.plans.registry import plan
from venus_spark.sources import load_table

# --------------------------------------------------------------------------
# Zero-shuffle LSH candidate generation: the band self-join rides a
# bucketed layout. At 100 TB the band join is the dedup run's only
# corpus-sized shuffle; this variant removes it entirely.
# --------------------------------------------------------------------------


def _lsh_colocated_oracle() -> str:
    from venus_spark.plans.pipeline_dedup import _minhash_oracle

    return _minhash_oracle()


@plan("dedup_minhash_lsh_colocated", oracle=_lsh_colocated_oracle())
def dedup_minhash_lsh_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as dedup_minhash_lsh / _prepared, with the candidate
    self-join served from the bucketed band table
    (prepared.lsh_bands_bucketed): both join sides read the same
    band_hash buckets, so candidate generation needs NO exchange
    (shape-tested) — the only remaining shuffles are candidate-set
    sized (the pair distinct and the verify joins), which are orders
    of magnitude smaller than the corpus. The full prepared-layout
    posture for near-dup dedup: signatures materialized at ingest
    (documents_minhash), band keys bucketed at ingest (this table),
    query time pays only bucket-local joins + bounded verification."""
    from venus_spark.operators.dedup import (
        _verify_candidates,
        band_candidate_pairs,
    )
    from venus_spark.plans.pipeline_dedup import _JACCARD_T
    from venus_spark.prepared import documents_minhash, lsh_bands_bucketed

    bands = spark.table(lsh_bands_bucketed(spark, sf_dir))
    cands = band_candidate_pairs(bands)
    idx = documents_minhash(spark, sf_dir)
    toks = idx.select(F.col("doc_id"), F.col("_sh").alias("toks"))
    return _verify_candidates(cands, toks, "doc_id", _JACCARD_T)


@plan("dedup_minhash_lsh_colocated_live", oracle=_lsh_colocated_oracle())
def dedup_minhash_lsh_colocated_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_minhash_lsh_colocated``'s answer over the LIVE view —
    the liveness leg VERDICT r13 #2 asked for: a streamed document
    batch that has landed in the MinHash PENDING list but not yet been
    merged must be visible to the bucketed-layout dedup pass WITHOUT
    rebuilding the band table per micro-batch. Candidates come from
    three legs, each priced for what it is:

    1. merged × merged — the bucketed band self-join, zero exchange
       (identical to the steady-state plan);
    2. pending × merged — a cross-set band join with the O(batch)
       pending side BROADCAST against the bucketed table (the
       incremental-dedup shape: only the batch side is new work);
    3. pending × pending — a self-join over the tiny pending slice.

    Verification runs once over the union of candidates against the
    live index (base ∪ pending). On a quiescent corpus legs 2–3 vanish
    and the plan degrades to ``dedup_minhash_lsh_colocated`` under the
    same oracle; the with-pending half is pinned by the streamed
    agreement test against ``dedup_minhash_lsh_live``. Staleness of
    the bucketed table itself (a MERGE another process ran) is handled
    one level down by the band table's source fingerprint
    (prepared.buckets.lsh_bands_bucketed)."""
    from venus_spark.operators.dedup import (
        _verify_candidates,
        band_candidate_pairs,
        cross_candidate_pairs,
        lsh_bands,
    )
    from venus_spark.plans.pipeline_dedup import _JACCARD_T
    from venus_spark.prepared import (
        documents_minhash,
        documents_minhash_live,
        documents_minhash_pending,
        lsh_bands_bucketed,
    )

    bands_bkt = spark.table(lsh_bands_bucketed(spark, sf_dir))
    pend = documents_minhash_pending(spark, sf_dir)
    if pend is None:
        cands = band_candidate_pairs(bands_bkt)
        idx = documents_minhash(spark, sf_dir)
    else:
        pend_bands = lsh_bands(pend)
        mm = band_candidate_pairs(bands_bkt)
        pm = cross_candidate_pairs(
            F.broadcast(pend_bands), bands_bkt,
            left_out="id_p", right_out="id_m",
        ).select(
            F.least("id_p", "id_m").alias("id_a"),
            F.greatest("id_p", "id_m").alias("id_b"),
        )
        pp = band_candidate_pairs(pend_bands)
        cands = mm.unionByName(pm).unionByName(pp).distinct()
        idx = documents_minhash_live(spark, sf_dir)
    toks = idx.select(F.col("doc_id"), F.col("_sh").alias("toks"))
    return _verify_candidates(cands, toks, "doc_id", _JACCARD_T)


_VD = "LIST_TRANSFORM({0}, x -> CAST(x AS DOUBLE))"


# --------------------------------------------------------------------------
# Embedding-cosine near-dup at scale: RP-LSH bucket as the blocking key
# (the production path; sim_cosine_pairs' label-bucket version is the
#  verification baseline)
# --------------------------------------------------------------------------

# Same threshold as sim_cosine_pairs (the exact label-bucket baseline),
# so the two plans' outputs are directly comparable: pairs the LSH
# blocking recalls vs the baseline's. The synthetic embeddings are
# cluster draws, not literal duplicates, so "near" here is the corpus's
# own top similarity band.
_NEAR_THRESHOLD = 0.35


def _rp_bucket_sql(vec: str) -> str:
    # Generated from the SAME precomputed ±1 weight matrix as
    # similarity.rp_bucket — one constant set, two generators.
    return sim.rp_bucket_sql(vec)


_NEAR_ORACLE = f"""
WITH v AS (
  SELECT vec_id, {_VD.format('embedding')} AS v FROM embeddings
),
b AS (
  SELECT vec_id, v, {_rp_bucket_sql('v')} AS bucket FROM v
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       {dround_sql(f'''{cosine_sql('a.v', 'c.v')}''')} AS cosine_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {dround_sql(f'''{cosine_sql('a.v', 'c.v')}''')} > {_NEAR_THRESHOLD}
"""


@plan("dedup_embedding_near", oracle=_NEAR_ORACLE)
def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with the sign-random-projection
    LSH bucket as the blocking key: candidate pairs only form inside a
    bucket (2^H-fold reduction of the quadratic), then the exact cosine
    verifies. Unlike sim_cosine_pairs (label-bucketed baseline), the
    blocking key here is computable at ingest for any corpus — at scale
    it is the storage partition key and the self-join is co-partitioned,
    shuffle-free."""
    from venus_spark.operators.similarity import cosine_pairs_in_buckets, rp_bucket

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "_bucket", rp_bucket(sim.as_double(F.col("embedding")))
    )
    return cosine_pairs_in_buckets(
        emb, bucket_col="_bucket", threshold=_NEAR_THRESHOLD
    )


# --------------------------------------------------------------------------
# LSH bucket purity: how well the RP-LSH buckets align with labels — the
# diagnostic that decides whether the bucket key is a usable blocking /
# storage-partition key. Integer shares only; window partitions by
# bucket (bounded cardinality 2^RP_H), never a global sort.
# --------------------------------------------------------------------------


def _bucket_purity_oracle() -> str:
    from venus_spark.operators.similarity import rp_bucket_sql

    b = rp_bucket_sql(_VD.format("embedding"))
    return f"""
WITH b AS (
  SELECT CAST({b} AS BIGINT) AS bucket, label FROM embeddings
),
cnt AS (SELECT bucket, label, COUNT(*) AS c FROM b GROUP BY bucket, label),
ranked AS (
  SELECT bucket, label, c,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY c DESC, label) AS rn,
         SUM(c) OVER (PARTITION BY bucket) AS n_vecs,
         COUNT(*) OVER (PARTITION BY bucket) AS n_labels
  FROM cnt
)
SELECT bucket,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(n_labels AS BIGINT) AS n_labels,
       label AS top_label,
       CAST((c * 1000) // n_vecs AS BIGINT) AS top_share_permille
FROM ranked WHERE rn = 1
ORDER BY bucket
"""


@plan("lsh_bucket_purity", oracle=_bucket_purity_oracle())
def lsh_bucket_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-RP-LSH-bucket label mixture: size, distinct labels, dominant
    label and its integer permille share. The aggregation runs on the
    (bucket,label) pair table — already tiny after the first partial
    agg — and every window partitions by bucket, so the plan scales as
    one corpus scan regardless of corpus size."""
    from venus_spark.operators.similarity import as_double, rp_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = emb.select(
        rp_bucket(as_double(F.col("embedding"))).cast("long").alias("bucket"),
        "label",
    )
    cnt = pairs.groupBy("bucket", "label").agg(F.count("*").alias("c"))
    wb = Window.partitionBy("bucket")
    ranked = cnt.select(
        "bucket",
        "label",
        "c",
        F.row_number()
        .over(wb.orderBy(F.desc("c"), "label"))
        .alias("rn"),
        F.sum("c").over(wb).alias("n_vecs"),
        F.count("*").over(wb).alias("n_labels"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "bucket",
            "n_vecs",
            "n_labels",
            F.col("label").alias("top_label"),
            F.expr("(c * 1000) div n_vecs").alias("top_share_permille"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Near-dup rate per source: the corpus-quality league table
# --------------------------------------------------------------------------

_NDR_T = 0.8


def _ndr_oracle() -> str:
    from venus_spark.functions.sqlgen import hashed_shingles_sql

    return f"""
WITH toks AS (
  SELECT doc_id, lang, source, {hashed_shingles_sql('text')} AS t
  FROM documents
),
pairs AS (
  SELECT a.source AS source, COUNT(*) AS n_pairs
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE {dround_sql('''LEN(LIST_INTERSECT(a.t, b.t)) * CAST(1 AS DOUBLE) /
              (LEN(a.t) + LEN(b.t) - LEN(LIST_INTERSECT(a.t, b.t)))''')}
        > {_NDR_T}
  GROUP BY a.source
),
docs AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
SELECT d.source, d.n_docs,
       COALESCE(p.n_pairs, 0) AS n_dup_pairs,
       {dround_sql('COALESCE(p.n_pairs, 0) * CAST(1 AS DOUBLE) / d.n_docs')} AS dup_pair_rate
FROM docs d LEFT JOIN pairs p ON p.source = d.source
ORDER BY d.source
"""


@plan("near_dup_rate_by_source", oracle=_ndr_oracle())
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-quality league table: near-dup pair count and
    pairs-per-document rate PER SOURCE — the first chart a curation
    review asks for when deciding which source to down-weight or
    re-crawl (duplication concentrates by origin; Lee et al. 2022
    report per-split rates for the same reason). Pairs come from the
    same exact shingle-Jaccard kernel as dedup_jaccard_pairs, served
    from the prepared MinHash index and aggregated by the pair's
    bucket source; sources with zero pairs appear with rate 0 via the
    left join against the per-source doc counts. The doc-count
    denominator comes from the BASE table, not the index — the index
    inner-joins signatures and so omits token-free documents, which
    must still count as corpus members (a token-free doc can never
    pair, so the numerator is index-safe)."""
    from venus_spark.operators.dedup import jaccard_pairs_in_buckets
    from venus_spark.prepared import documents_minhash

    idx = documents_minhash(spark, sf_dir)
    pairs = jaccard_pairs_in_buckets(
        idx, bucket_cols=["lang", "source"], threshold=_NDR_T, toks_col="_sh_h"
    )
    src_of = idx.select(F.col("doc_id").alias("id_a"), "source")
    per_src = (
        pairs.join(src_of, "id_a")
        .groupBy("source")
        .agg(F.count("*").alias("n_pairs"))
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    rate = F.coalesce(F.col("n_pairs"), F.lit(0)) / F.col("n_docs")
    return (
        docs.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_dup_pairs"),
            dround(rate).alias("dup_pair_rate"),
        )
        .orderBy("source")
    )




# --------------------------------------------------------------------------
# Incremental dedup: a new batch screened against the EXISTING corpus
# through the stored MinHash index (the production ingest-time path)
# --------------------------------------------------------------------------

_INC_MOD = 3  # doc_id % 3 == 0 plays the "newly arrived batch"
_INC_T = 0.8  # same near-dup threshold as dedup_minhash_lsh


def _incremental_oracle() -> str:
    from venus_spark.functions import HASH_P31
    from venus_spark.operators import dedup as dd

    sh = shingles_sql("text")
    mins = ",\n         ".join(
        f"MIN(({dd.PERM_A[i]} * h + {dd.PERM_B[i]}) % {HASH_P31}) AS mh_{i}"
        for i in range(dd.N_PERM)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, MD5(CONCAT_WS('-', "
        + ", ".join(
            f"mh_{b * dd.ROWS_PER_BAND + r}" for r in range(dd.ROWS_PER_BAND)
        )
        + ")) AS band_hash FROM sig"
        for b in range(dd.N_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST({sh}) AS tok FROM documents
),
h AS (
  SELECT doc_id, {token_hash31_sql('tok')} AS h FROM toks
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM h GROUP BY doc_id
),
bands AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_doc
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} <> 0
),
hsets AS (
  SELECT doc_id, {hashed_shingles_sql('text')} AS t FROM documents
),
verified AS (
  SELECT c.new_doc, c.dup_doc,
         {dround_sql('''LEN(LIST_INTERSECT(x.t, y.t)) * CAST(1 AS DOUBLE) /
               (LEN(x.t) + LEN(y.t) - LEN(LIST_INTERSECT(x.t, y.t)))''')}
           AS jaccard_sim
  FROM cands c
  JOIN hsets x ON c.new_doc = x.doc_id
  JOIN hsets y ON c.dup_doc = y.doc_id
)
SELECT new_doc, dup_doc, jaccard_sim FROM verified
WHERE jaccard_sim > {_INC_T}
"""


@plan("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: which documents of a NEW batch
    duplicate the EXISTING corpus — the decision an ingest pipeline
    makes per batch, as opposed to the corpus-wide self-dedup of
    dedup_minhash_lsh. Both sides are served from the prepared MinHash
    index (stored signatures + hashed shingle sets, maintained O(batch)
    at INSERT by append_documents_batch / the streaming pending-list): query
    time pays band expressions, the new-vs-old band join, and exact
    Jaccard verification of candidates only. The batch here is the
    doc_id % 3 == 0 slice standing in for newly arrived documents.

    Scale shape: candidate generation is a hash join keyed on
    (band_idx, band_hash) where only the BATCH side is new work — the
    corpus side reads stored bands; no a<b self-join over the corpus,
    no corpus-wide signature recompute, verification touches candidate
    pairs only. This is exactly how the funnel stays O(batch) per
    ingest cycle at 100 TB."""
    from venus_spark.operators.dedup import incremental_near_dups
    from venus_spark.prepared import documents_minhash

    idx = documents_minhash(spark, sf_dir)
    is_new = (F.col("doc_id") % _INC_MOD) == 0
    return incremental_near_dups(
        idx.filter(is_new), idx.filter(~is_new), threshold=_INC_T
    )




# --------------------------------------------------------------------------
# Entity resolution: single-substitution identifier pairs via
# deletion-neighborhood (wildcard-mask) blocking
# --------------------------------------------------------------------------

_ER_DIGITS = 9  # c_name = 'Customer#' + 9 digits (TPC-H spec format)
_ER_PREFIX_LEN = 9  # len('Customer#')

# One shared mask string: wildcard position p of the digit tail. SUBSTR
# is 1-based with identical semantics in Spark SQL and DuckDB.
_ER_MASK = (
    f"CONCAT(SUBSTR(c_name, 1, {_ER_PREFIX_LEN} + p - 1), '?', "
    f"SUBSTR(c_name, {_ER_PREFIX_LEN} + p + 1))"
)

_ER_ORACLE = f"""
WITH named AS (
  SELECT c_custkey, c_name FROM customer
  WHERE REGEXP_MATCHES(c_name, '^Customer#[0-9]{{{_ER_DIGITS}}}$')
),
m AS (
  SELECT c_custkey, c_name, p, {_ER_MASK} AS mask
  FROM named CROSS JOIN (
    SELECT UNNEST(GENERATE_SERIES(1, {_ER_DIGITS})) AS p
  )
)
SELECT a.p AS pos, COUNT(*) AS n_pairs
FROM m a JOIN m b ON a.mask = b.mask AND a.c_custkey < b.c_custkey
WHERE LEVENSHTEIN(a.c_name, b.c_name) = 1
GROUP BY a.p ORDER BY pos
"""


@plan("er_hamming_pairs", oracle=_ER_ORACLE)
def er_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairing: customer identifiers within
    Hamming distance 1, found by deletion-neighborhood blocking — each
    name emits L variants with one position wildcarded, names agreeing
    on a variant differ in at most that position, and an edit-distance
    check verifies each candidate (the classic blocking→verify ER
    shape; the mask join is LSH for strings).

    Scale shape: the expansion is O(L·N) rows (L = 9, a constant), the
    self-join hashes on the mask key whose groups are bounded by the
    alphabet (≤ 10 names can share one wildcard mask), and verification
    touches candidates only — never the quadratic all-pairs. The verify
    itself exploits the blocking invariant: mask equality already
    proves the names agree at every non-wildcard position, so distance
    exactly 1 reduces to name inequality (an O(L) compare instead of
    the O(L²) levenshtein DP — measured 2.7 s → ~0.1 s over the 262k
    candidates at sf0.1; the oracle keeps the independent LEVENSHTEIN
    formulation, and the brute-force completeness test pins the
    equivalence). Reported as pairs-per-wildcard-position, the blocking
    audit an ER pipeline tracks.

    The equal-length fixed-format filter makes mask blocking EXACT for
    substitution distance; general edit distance ≤ k needs the
    partition-signature generalization (PassJoin) on the same plan
    shape."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .filter(F.col("c_name").rlike(f"^Customer#[0-9]{{{_ER_DIGITS}}}$"))
    )
    m = cust.select(
        "c_custkey",
        "c_name",
        F.explode(F.array(*[F.lit(p) for p in range(1, _ER_DIGITS + 1)])).alias("p"),
    ).select("c_custkey", "c_name", "p", F.expr(_ER_MASK).alias("mask"))
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.mask") == F.col("b.mask"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).filter(F.col("a.c_name") != F.col("b.c_name"))
    return (
        pairs.groupBy(F.col("a.p").alias("pos"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("pos")
    )




# --------------------------------------------------------------------------
# Semantic dedup keep-set (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space (the given `label` column plays the k-means
# cluster id, as in sim_cosine_pairs/sim_ivf_*), form near-dup pairs only
# WITHIN a cluster, and keep one representative per near-dup
# neighborhood — the greedy lowest-id rule: a vector is dropped iff a
# lower-id vector in its cluster sits above the cosine threshold. Same
# pair predicate and threshold as sim_cosine_pairs, so the two plans are
# the pairs view and the keep view of one operation.
# --------------------------------------------------------------------------

_SEM_T = 0.35  # = pipeline_ann_exact._COS_PAIR_T (one near-dup band corpus-wide)

_SEM_KEEP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, {_VD.format('embedding')} AS v FROM embeddings
),
p AS (
  SELECT b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {dround_sql(f'{{cos}}')} > {_SEM_T}
)
SELECT e.vec_id, e.label FROM e
WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.id_b = e.vec_id)
ORDER BY e.vec_id
"""


def _sem_keep_oracle() -> str:
    from venus_spark.functions.sqlgen import cosine_sql

    return _SEM_KEEP_ORACLE.format(cos=cosine_sql("a.v", "b.v"))


@plan("dedup_semantic_keep", oracle=_sem_keep_oracle())
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set: drop every vector with a lower-id
    above-threshold neighbor in its embedding cluster; emit the
    survivors. The pair join is confined to cluster buckets (at 100 TB
    the cluster id is the storage partition key, so it is
    co-partitioned and shuffle-free) and the drop side collapses to a
    distinct id set — the anti-join is on a uniform key. Within-cluster
    pair formation is quadratic in the bucket BY DESIGN (SemDeDup's own
    semantics); the paper-scale posture is a cluster count that grows
    with the corpus (k ~ 10^4-10^5 for web-scale sets), keeping buckets
    near-constant — the driver corpus fixes k=10, so this plan's bench
    cost overstates the production per-row cost. Composition:
    sim_cosine_pairs emits these pairs, this plan applies the keep
    policy; curated_corpus applies the same policy shape to MinHash
    clusters on the text side."""
    from venus_spark.operators.similarity import cosine_pairs_in_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    drops = (
        cosine_pairs_in_buckets(emb, threshold=_SEM_T)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        emb.join(drops, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


