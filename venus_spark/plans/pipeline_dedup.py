"""Training-data pipeline plans: text near-duplicate detection — exact
fingerprint groups, bucketed shingle-Jaccard pairs, the MinHash-LSH
family (recompute / prepared-index / live), and SimHash values.

Each plan's oracle SQL is *generated from the same constants* as the
Spark implementation (hash parameters, permutation tables, band
geometry), so the two sides cannot drift apart silently.

(Moved verbatim from the accreted pipeline_ops module in the r14
domain re-grouping; plan names unchanged.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (oracle helpers)

from venus_spark.functions import dround, tokens
from venus_spark.functions.sqlgen import (
    double_lit_sql,
    dround_sql,
    hashed_shingles_sql,
    shingles_sql,
    token_hash31_sql,
    tokens_sql,
)
from venus_spark.plans.pipeline_quality import _FINGERPRINT

_TOKS = tokens_sql("text")

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks
from venus_spark.plans.registry import plan
from venus_spark.sources import load_table

# --------------------------------------------------------------------------
# Exact dedup (fingerprint groups)
# --------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = f"""
SELECT {_FINGERPRINT} AS fingerprint, COUNT(*) AS n_copies,
       MIN(doc_id) AS keep_id
FROM documents
GROUP BY fingerprint
HAVING COUNT(*) > 1
"""


@plan("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on the canonical md5 fingerprint: one
    hash-partitioned aggregation; uniform hash keys mean no skew at any
    scale."""
    from venus_spark.operators.dedup import exact_dedup_keep_first

    return exact_dedup_keep_first(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Shingle-set Jaccard near-dup pairs within (lang, source) buckets
# --------------------------------------------------------------------------

_JACCARD_T = 0.8
_SHINGLES = shingles_sql("text")

_DEDUP_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, source, {hashed_shingles_sql('text')} AS t
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         {dround_sql('''LEN(LIST_INTERSECT(a.t, b.t)) * CAST(1 AS DOUBLE) /
               (LEN(a.t) + LEN(b.t) - LEN(LIST_INTERSECT(a.t, b.t)))''')}
           AS jaccard_sim
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard_sim FROM pairs WHERE jaccard_sim > {_JACCARD_T}
"""


@plan("dedup_jaccard_pairs", oracle=_DEDUP_JACCARD_ORACLE)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHINGLE-set Jaccard pairs above threshold within explicit
    (lang, source) buckets — the exhaustive verification baseline for
    the LSH path, on the SAME comparison set the LSH verify uses (word
    3-gram shingles; r3 compared word-token sets, a different metric
    than the one LSH approximates). Served from the prepared MinHash
    index's stored HASHED shingle sets (``_sh_h``) and covered bucket
    keys — one index scan, nothing re-tokenized, no join back to the
    base table, and the quadratic intersects run over int arrays
    instead of ~20-char strings (~3× cheaper per pair). hash31 is
    engine-portable, so the oracle builds the identical hashed sets.
    Bucket keys bound the quadratic pair expansion."""
    from venus_spark.operators.dedup import jaccard_pairs_in_buckets
    from venus_spark.prepared import documents_minhash

    return jaccard_pairs_in_buckets(
        documents_minhash(spark, sf_dir),
        bucket_cols=["lang", "source"],
        threshold=_JACCARD_T,
        toks_col="_sh_h",
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding candidate pairs
# --------------------------------------------------------------------------

def _minhash_oracle() -> str:
    from venus_spark.operators import dedup as dd
    from venus_spark.functions import HASH_P31
    from venus_spark.functions.sqlgen import token_hash31_sql

    mins = ",\n         ".join(
        f"MIN(({dd.PERM_A[i]} * h + {dd.PERM_B[i]}) % {HASH_P31}) AS mh_{i}"
        for i in range(dd.N_PERM)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, MD5(CONCAT_WS('-', "
        + ", ".join(f"mh_{b * dd.ROWS_PER_BAND + r}" for r in range(dd.ROWS_PER_BAND))
        + ")) AS band_hash FROM sig"
        for b in range(dd.N_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_SHINGLES}) AS tok FROM documents
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
docsets AS (
  SELECT doc_id, {_SHINGLES} AS t FROM documents
),
verified AS (
  SELECT c.id_a, c.id_b,
         {dround_sql('''LEN(LIST_INTERSECT(x.t, y.t)) * CAST(1 AS DOUBLE) /
               (LEN(x.t) + LEN(y.t) - LEN(LIST_INTERSECT(x.t, y.t)))''')}
           AS jaccard_sim
  FROM cands c
  JOIN docsets x ON c.id_a = x.doc_id
  JOIN docsets y ON c.id_b = y.doc_id
)
SELECT id_a, id_b, jaccard_sim FROM verified WHERE jaccard_sim > {_JACCARD_T}
"""


@plan("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature (a per-row MIN over
    the document's shingle hashes) -> band-bucket candidate join -> exact
    Jaccard verification. Only candidates are ever verified — the LSH
    trick that avoids the quadratic all-pairs pass at scale."""
    from venus_spark.operators.dedup import lsh_near_dup_pairs

    return lsh_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), threshold=_JACCARD_T
    )


@plan("dedup_minhash_lsh_prepared", oracle=_minhash_oracle())
def dedup_minhash_lsh_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as ``dedup_minhash_lsh``, produced from the PREPARED
    MinHash index (signatures + shingle arrays materialized at ingest
    time — venus_spark.prepared.documents_minhash): query time pays
    band expressions + the bucket join + candidate verification only,
    never the corpus-wide signature aggregation. The write-time-index
    posture of the reference's GIN indexes (migration :36-37) applied
    to near-dup search."""
    from venus_spark.operators.dedup import lsh_near_dup_pairs_from_index
    from venus_spark.prepared import documents_minhash

    return lsh_near_dup_pairs_from_index(
        documents_minhash(spark, sf_dir), threshold=_JACCARD_T
    )


@plan("dedup_minhash_lsh_live", oracle=_minhash_oracle())
def dedup_minhash_lsh_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide near-dup pass over the LIVE MinHash view (base ∪
    not-yet-merged streaming batches) — so a scheduled dedup run sees
    documents the ingest service landed minutes ago without waiting for
    the next VACUUM merge, completing the live read-path family (BM25 /
    phrase / proximity / boolean / fuzzy-trigram / near-dup all serve
    from base-plus-pending). Degrades to the prepared plan on a
    quiescent corpus under the same oracle; the with-pending half is
    covered by the streaming dedup tests' screen over the same view."""
    from venus_spark.operators.dedup import lsh_near_dup_pairs_from_index
    from venus_spark.prepared import documents_minhash_live

    return lsh_near_dup_pairs_from_index(
        documents_minhash_live(spark, sf_dir), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# SimHash per-document values
# --------------------------------------------------------------------------

def _simhash_oracle() -> str:
    from venus_spark.operators import dedup as dd
    from venus_spark.functions.sqlgen import token_hash31_sql

    sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(dd.SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s_{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_SHINGLES}) AS tok FROM documents
),
h AS (
  SELECT doc_id, {token_hash31_sql('tok')} AS h FROM toks
),
votes AS (
  SELECT doc_id,
         {sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {assemble} AS simhash FROM votes
"""


@plan("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash (bit-majority vote over shingle hashes).
    Near-dup pairs then reduce to hamming-distance joins on this value."""
    from venus_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents", fanned=True))



# --------------------------------------------------------------------------
# Duplicate-cluster resolution: near-dup PAIRS -> connected components ->
# one cluster id per document. The reference's dedup story stops at "find
# duplicates"; a pipeline must also decide which copy to KEEP, and that
# requires resolving the pair graph into clusters (A~B, B~C => {A,B,C}
# even when A~C was never emitted by LSH).
# --------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_oracle()})
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
SELECT l.id AS doc_id, l.cluster_id, s.n_members,
       (l.id = l.cluster_id) AS is_keeper
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS n_members FROM labels GROUP BY cluster_id) s
  USING (cluster_id)
ORDER BY doc_id
"""


@plan("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs resolved into duplicate clusters by
    iterative min-label propagation (operators.dedup.connected_components),
    with the min doc_id as the canonical keeper. The oracle computes the
    same components via a recursive CTE. The iteration count is bounded by
    the pair-graph diameter — small by construction for near-dup graphs —
    and each round is one shuffle join over the (tiny relative to corpus)
    edge set, never over the documents themselves. Pairs come from the
    prepared ingest-time signature index (same result as the recompute
    path — the oracle recomputes from scratch and still hash-matches)."""
    from venus_spark.operators.dedup import connected_components, lsh_near_dup_pairs_from_index
    from venus_spark.plans.pipeline_dedup import _JACCARD_T
    from venus_spark.prepared import documents_minhash

    pairs = lsh_near_dup_pairs_from_index(
        documents_minhash(spark, sf_dir), threshold=_JACCARD_T
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            "n_members",
            (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# The shipped corpus: documents minus every non-keeper cluster member —
# what the dedup stack exists to produce. Anti-join against the (tiny)
# drop list; the corpus itself is scanned exactly once.
# --------------------------------------------------------------------------

_KEEP_ORACLE = f"""
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN (
  {_CLUSTERS_ORACLE}
) c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.is_keeper
ORDER BY d.doc_id
"""


@plan("dedup_keep_corpus", oracle=_KEEP_ORACLE)
def dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus a training run actually reads: every
    document except non-keeper near-dup cluster members (min doc_id per
    cluster is kept). The drop list is orders of magnitude smaller than
    the corpus but still corpus-proportional, so the anti-join is left
    to AQE — broadcast while the list fits, shuffle on the uniform
    doc_id when (at 100 TB) it no longer does; all heavy lifting
    happened in the LSH/cluster stages over the pair graph."""
    from venus_spark.operators.dedup import connected_components, lsh_near_dup_pairs_from_index
    from venus_spark.plans.pipeline_dedup import _JACCARD_T
    from venus_spark.prepared import documents_minhash

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_dup_pairs_from_index(
        documents_minhash(spark, sf_dir), threshold=_JACCARD_T
    )
    labels = connected_components(pairs)
    drop = labels.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    return (
        docs.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Chunk-level duplicate detection: which fixed-size token windows recur
# across documents (Lee et al. 2022's substring dedup at window
# granularity — the pass that catches shared boilerplate/quotations
# exact-doc and near-doc dedup both miss). Reuses doc_chunking's
# geometry and fingerprints; only FULL windows participate (standard
# practice — short tail windows match trivially).
# --------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks,
         UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks), 1), {_CHUNK_STRIDE}))
           AS start_tok
  FROM t
),
chunks AS (
  SELECT doc_id,
         LEAST({_CHUNK_TOKENS}, LEN(toks) - start_tok + 1) AS n_tok,
         MD5(ARRAY_TO_STRING(toks[start_tok:start_tok + {_CHUNK_TOKENS} - 1], ' '))
           AS chunk_md5
  FROM starts
)
SELECT chunk_md5,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS keeper_doc
FROM chunks
WHERE n_tok = {_CHUNK_TOKENS}
GROUP BY chunk_md5
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_md5
"""


@plan("chunk_dedup_groups", oracle=_CHUNK_DEDUP_ORACLE)
def chunk_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate chunks: full {chunk}-token windows whose
    fingerprint occurs in >= 2 distinct documents, with the lowest
    doc_id as the canonical keeper — the window-granular substring
    dedup that catches shared boilerplate inside otherwise-distinct
    documents. One chunking scan (array expressions + explode, no
    Python) into one hash-partitioned aggregate on the uniform md5 key;
    at 100 TB this is the same single shuffle the exact-dedup pass
    runs, at chunk cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("toks"), F.lit(1)),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start_tok"),
        "toks",
    ).select(
        "doc_id",
        F.least(
            F.lit(_CHUNK_TOKENS), F.size("toks") - F.col("start_tok") + 1
        ).alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("start_tok"), F.lit(_CHUNK_TOKENS)))
        ).alias("chunk_md5"),
    )
    return (
        chunks.filter(F.col("n_tok") == _CHUNK_TOKENS)
        .groupBy("chunk_md5")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_md5")
    )


# --------------------------------------------------------------------------
# Containment near-dup pairs (asymmetric): excerpts and supersets that
# symmetric Jaccard misses when |B| >> |A|.
# --------------------------------------------------------------------------

_CONTAIN_T = 0.9
_HASHED_SHINGLES = hashed_shingles_sql("text")

_CONTAIN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, source, {_HASHED_SHINGLES} AS t
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         {dround_sql('LEN(LIST_INTERSECT(a.t, b.t)) * CAST(1 AS DOUBLE) / LEN(a.t)')}
           AS containment
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
)
SELECT id_a, id_b, containment FROM pairs WHERE containment > {_CONTAIN_T}
"""


@plan("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs C(A→B) = |A∩B|/|A| > 0.9 within
    (lang, source) buckets, served from the prepared MinHash index's
    stored hashed shingle sets — one index scan, nothing re-tokenized.
    Same inverted-postings join shape as dedup_jaccard_pairs (a pair
    costs one row per SHARED shingle, sets never ship whole), kept
    bidirectional because containment is asymmetric: a paragraph quoted
    inside a book scores ~1.0 here and ~0 on Jaccard. At 100 TB the
    posting key is a uniform 31-bit hash (no skew) and the one-sided
    size prune (C > t forces |B| > t·|A|) drops most cross-size pairs
    before the aggregation."""
    from venus_spark.operators.dedup import containment_pairs_in_buckets
    from venus_spark.prepared import documents_minhash

    return containment_pairs_in_buckets(
        documents_minhash(spark, sf_dir),
        bucket_cols=["lang", "source"],
        threshold=_CONTAIN_T,
        toks_col="_sh_h",
    )




# --------------------------------------------------------------------------
# MinHash estimator audit: signature-estimated vs exact Jaccard on the
# LSH candidate set — the index-quality audit (sim_ivfpq_recall's twin
# on the text side).
# --------------------------------------------------------------------------


def _mh_audit_oracle() -> str:
    from venus_spark.functions import HASH_P31
    from venus_spark.operators import dedup as dd

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
    matches = " + ".join(
        f"(CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(dd.N_PERM)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST({shingles_sql('text')}) AS tok FROM documents
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
hsets AS (
  SELECT doc_id, {_HASHED_SHINGLES} AS t FROM documents
),
scored AS (
  SELECT c.id_a, c.id_b,
         {dround_sql(f'({matches}) / {double_lit_sql(dd.N_PERM)}')} AS mh_est,
         {dround_sql('''LEN(LIST_INTERSECT(hx.t, hy.t)) * CAST(1 AS DOUBLE) /
               (LEN(hx.t) + LEN(hy.t) - LEN(LIST_INTERSECT(hx.t, hy.t)))''')}
           AS true_jac
  FROM cands c
  JOIN sig x ON c.id_a = x.doc_id
  JOIN sig y ON c.id_b = y.doc_id
  JOIN hsets hx ON c.id_a = hx.doc_id
  JOIN hsets hy ON c.id_b = hy.doc_id
)
SELECT id_a, id_b, mh_est, true_jac,
       {dround_sql('ABS(mh_est - true_jac)')} AS abs_err
FROM scored
"""


@plan("minhash_recall_audit", oracle=_mh_audit_oracle())
def minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit of the MinHash index: for every LSH
    candidate pair, the signature-estimated Jaccard (matching
    components / N_PERM — the unbiased MinHash estimator, Broder 1997)
    against the exact Jaccard of the stored hashed shingle sets, plus
    the absolute error. The write-time-index counterpart of
    sim_ivfpq_recall (which audits PQ the same way on the vector
    side): run it after tuning N_PERM/band geometry to see what the
    estimator actually resolves at the dedup threshold. Everything is
    served from the prepared index — signatures AND shingle sets are
    stored columns — so the audit costs the candidate join plus one
    row of arithmetic per candidate, never a corpus rescan."""
    from venus_spark.operators import dedup as dd
    from venus_spark.operators.dedup import band_candidate_pairs, jaccard, lsh_bands
    from venus_spark.prepared import documents_minhash

    idx = documents_minhash(spark, sf_dir)
    mh_cols = [f"mh_{i}" for i in range(dd.N_PERM)]
    cands = band_candidate_pairs(lsh_bands(idx.select("doc_id", *mh_cols)))
    side = idx.select("doc_id", F.col("_sh_h").alias("t"), *mh_cols)
    x, y = side.alias("x"), side.alias("y")
    matches = sum(
        F.when(F.col(f"x.mh_{i}") == F.col(f"y.mh_{i}"), 1).otherwise(0)
        for i in range(dd.N_PERM)
    )
    est = dround(matches / F.lit(float(dd.N_PERM)))
    true_jac = dround(jaccard(F.col("x.t"), F.col("y.t")))
    return (
        cands.join(x, F.col("id_a") == F.col("x.doc_id"))
        .join(y, F.col("id_b") == F.col("y.doc_id"))
        .select(
            "id_a",
            "id_b",
            est.alias("mh_est"),
            true_jac.alias("true_jac"),
        )
        .withColumn("abs_err", dround(F.abs(F.col("mh_est") - F.col("true_jac"))))
    )


