"""The row-local MinHash kernel: every signature is a projection of its
own row's shingle hashes, equal to the explode/groupBy/join form it
replaced, with no shuffle and no join in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MED


def _reference_signatures(df, id_col="doc_id", text_col="text"):
    """The explode -> groupBy(MIN) form of the signatures."""
    from venus_spark.functions import HASH_P31
    from venus_spark.operators import dedup as dd

    toks = dd.exploded_shingles(df, id_col, text_col)
    return toks.groupBy(id_col).agg(*[
        F.min((F.lit(dd.PERM_A[i]) * F.col("h") + F.lit(dd.PERM_B[i])) % F.lit(HASH_P31))
        .alias(f"mh_{i}")
        for i in range(dd.N_PERM)
    ])


def _reference_index_rows(docs):
    """The shingle side joined to the grouped signatures on doc_id."""
    from venus_spark.functions import shingles, token_hash31

    sh = docs.select(
        "doc_id", "lang", "source", shingles("text").alias("_sh")
    ).withColumn("_sh_h", F.array_distinct(F.transform("_sh", token_hash31)))
    return sh.join(_reference_signatures(docs), "doc_id")


def _docs_with_edge_texts(spark):
    from venus_spark.sources import load_table

    docs = load_table(spark, SF_DIR_MED, "documents")
    edge = [
        (10**9 + 1, None),  # NULL text: no shingle
        (10**9 + 2, ""),  # empty: no shingle
        (10**9 + 3, "   \t"),  # blank: no token, no shingle
        (10**9 + 4, "ab"),  # 2 chars, one token: one whole-text shingle
        (10**9 + 5, "hello world"),  # 2 tokens: one whole-text shingle
        (10**9 + 6, "a b c a b c a b c"),  # repeated shingles
    ]
    rows = [(i, t, "en", "edge", 0) for i, t in edge]
    return docs.unionByName(spark.createDataFrame(rows, docs.schema))


def _same_rows(got, want) -> None:
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    got, want = got.select(*cols), want.select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("form", ["signatures", "index_rows"])
def test_row_local_minhash_equals_the_grouped_form(spark, form):
    from venus_spark.operators.dedup import minhash_signatures
    from venus_spark.prepared import _minhash_rows

    docs = _docs_with_edge_texts(spark)
    if form == "signatures":
        got, want = minhash_signatures(docs), _reference_signatures(docs)
    else:
        got, want = _minhash_rows(docs), _reference_index_rows(docs)
    _same_rows(got, want)
    ids = {r[0] for r in got.filter(F.col("doc_id") > 10**9).select("doc_id").collect()}
    assert ids == {10**9 + 4, 10**9 + 5, 10**9 + 6}


def test_minhash_plans_have_no_exchange_and_no_join(spark):
    from venus_spark.operators.dedup import minhash_signatures
    from venus_spark.prepared import _minhash_rows
    from venus_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for df in (_minhash_rows(docs), minhash_signatures(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan, plan[:2000]
