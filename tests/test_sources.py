"""Catalog tests: reads apply the engine table's schema, and a
single-split scan is spread to the session's parallelism."""

from hogzilla_spark.sources import catalog

def test_schema_enforced_read(spark, tmp_path):
    from hogzilla_spark import datagen

    path = str(tmp_path / "mynets")
    datagen.mynets_df(spark).write.parquet(path)
    back = catalog.read_table(spark, path, "mynets")
    assert back.schema["prefix"].dataType.typeName() == "string"
    assert [r.prefix for r in back.collect()] == ["10.1."]

def test_spread_small_scan_floors_single_split_scan(spark):
    import __spark_entry__ as E

    docs = spark.read.parquet(f"{E.SF_DEFAULT}/documents.parquet").select(
        "doc_id", "text"
    )
    assert docs.rdd.getNumPartitions() == 1
    spread = catalog.spread_small_scan(docs)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # enough partitions already: the frame comes back unchanged
    assert catalog.spread_small_scan(spread) is spread
