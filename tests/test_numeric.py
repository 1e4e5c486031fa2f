"""Half-way rounding agrees with the DuckDB oracle."""

import duckdb

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.functions.text import (
    quality_score,
)

import __spark_entry__ as entry


def test_quality_score_rounds_half_way_like_duckdb(spark):
    """64 tokens with 9 stopwords score exactly 139/160 = 0.86875, but
    the double sum is 0.86874999...: the score must round to 0.8688,
    as the text_stats oracle does, not down to 0.8687."""
    text = " ".join(["the"] * 9 + ["widget"] * 55)
    got = (
        spark.createDataFrame([(1, text)], "doc_id long, text string")
        .select(quality_score("text").alias("q"))
        .first()
        .q
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ?)", [text])
    want = con.sql(
        f"SELECT quality_score FROM ({entry.oracle_sql()['text_stats']})"
    ).fetchone()[0]
    con.close()
    assert got == want == 0.8688
