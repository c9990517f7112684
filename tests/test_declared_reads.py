"""Declared-schema reads: base tables and prepared layouts are read with
schemas held in code, so a read starts no Spark job, and a file that
drifted from its declaration fails loudly instead of serving NULLs."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def test_load_table_and_layout_read_start_no_job(spark, sf_dir, jobs_in_group):
    from venus_spark import prepared
    from venus_spark.sources import load_table

    prepared.embeddings_pq(spark, sf_dir)  # built outside the counted group
    codes = prepared.prepared_path(sf_dir, "embeddings_pq_codes.parquet")

    def declared():
        load_table(spark, sf_dir, "documents")
        prepared.read_layout(spark, "embeddings_pq_codes.parquet", codes)

    assert jobs_in_group("declared-reads", declared) == 0
    # the counter sees the job an inferring read starts
    assert jobs_in_group("inferred-read", lambda: spark.read.parquet(codes)) >= 1


def _drifted_documents(src_sf: str, sf: str, column: str, new_type) -> None:
    t = pq.read_table(os.path.join(src_sf, "documents.parquet"))
    i = t.schema.get_field_index(column)
    t = t.remove_column(i) if new_type is None else t.set_column(
        i, column, t.column(column).cast(new_type))
    os.makedirs(sf)
    pq.write_table(t, os.path.join(sf, "documents.parquet"))


@pytest.mark.parametrize(
    "column,new_type,message",
    [("lang", None, "no column 'lang'"),
     ("n_chars", pa.int32(), "documents.n_chars is int, declared bigint")],
)
def test_load_table_names_a_missing_or_retyped_column(
        spark, sf_dir, tmp_path, column, new_type, message):
    from venus_spark.sources import load_table

    sf = str(tmp_path / "sf")
    _drifted_documents(sf_dir, sf, column, new_type)
    with pytest.raises(ValueError, match=message):
        load_table(spark, sf, "documents")


def test_every_layout_declares_what_spark_infers(spark, sf_dir):
    """Each built layout's declared schema is the one Spark infers from
    its files, column order and types alike."""
    from venus_spark import prepared

    prepared.prepare_all(spark, sf_dir)
    root = os.path.dirname(prepared.prepared_path(sf_dir, "x"))
    names = sorted(set(os.listdir(root)) & set(prepared.LAYOUT_SCHEMAS))
    assert len(names) >= 18, names
    for name in names:
        inferred = spark.read.parquet(os.path.join(root, name)).schema
        assert prepared.layout_schema(name).simpleString() == inferred.simpleString(), name


def test_spark_ltz_timestamp_footer_reads_as_timestamp(spark, tmp_path):
    """Spark writes a local-time-zone timestamp as INT96 by default,
    which pyarrow reports as ``timestamp[ns]`` like a TIMESTAMP(NANOS)
    column. Its footer schema is ``timestamp``, not the nanos bigint, so
    a read declaring it serves the values Spark wrote."""
    from venus_spark.sources import _footer_schema, read_parquet

    path = str(tmp_path / "ltz")
    df = spark.sql(
        "SELECT 1L AS id, "
        "CAST('2024-03-01 12:34:56.789' AS TIMESTAMP_LTZ) AS ts"
    )
    df.write.parquet(path)
    first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    leaves = pq.ParquetFile(os.path.join(path, first)).schema
    assert leaves.column(1).physical_type == "INT96"  # Spark's default
    schema = _footer_schema(path, os.stat(path).st_mtime_ns)
    assert schema.simpleString() == "struct<id:bigint,ts:timestamp>"
    assert read_parquet(spark, schema, path).collect() == df.collect()
