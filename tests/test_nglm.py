"""operators/nglm.py: the train/held split agrees between the Spark
engine and its DuckDB replay for every id form."""

import duckdb
from pyspark.sql import functions as F

from knowledgebase_processor_spark.operators.nglm import (
    _split_bucket, _split_bucket_sql)

# plain integers (signed, zero-padded), forms the two engines' casts read
# differently ('7.5', '7e1', '0x1F', padded), a BIGINT overflow, NULL
IDS = ["7", "-7", "007", "7.5", "7e1", "0x1F", " 7", "7\n", "", "abc",
       "99999999999999999999", None]


def test_split_bucket_agrees_across_engines(spark):
    rows = list(enumerate(IDS))
    df = spark.createDataFrame(rows, "i int, doc_id string")
    got = {r["i"]: r["b"] for r in df.select(
        "i", _split_bucket(F.col("doc_id"), 5).alias("b")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE ids (i INTEGER, doc_id VARCHAR)")
    con.executemany("INSERT INTO ids VALUES (?, ?)", rows)
    want = dict(con.execute(
        f"SELECT i, {_split_bucket_sql(5)} FROM ids").fetchall())
    assert got == want
    # plain integer strings keep id % train_mod; NULL stays unsplit
    assert (got[0], got[1], got[2]) == (2, -2, 2)
    assert got[len(IDS) - 1] is None

