"""Catalog tests: reads apply the engine table's schema."""

from hogzilla_spark.sources import catalog

def test_schema_enforced_read(spark, tmp_path):
    from hogzilla_spark import datagen

    path = str(tmp_path / "mynets")
    datagen.mynets_df(spark).write.parquet(path)
    back = catalog.read_table(spark, path, "mynets")
    assert back.schema["prefix"].dataType.typeName() == "string"
    assert [r.prefix for r in back.collect()] == ["10.1."]
