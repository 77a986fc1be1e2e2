"""Small-file compaction tests: ``compact_parquet`` keeps every row and is a
no-op on an already compact directory. The runner's own bucket-overwrite
commits are tested in ``test_reprocess.py``."""


def test_compact_parquet_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from webextract.tableio import compact_parquet

    p = str(tmp_path / "many")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(24).write.parquet(p)
    before = compact_parquet(spark, p, target_mb=128)
    assert before["compacted"] and before["files_before"] == 24
    assert before["files_after"] < before["files_before"]
    back = spark.read.parquet(p)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(10_000))
    # second pass: already compact → no-op
    again = compact_parquet(spark, p, target_mb=128)
    assert not again["compacted"]
