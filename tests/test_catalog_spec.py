"""S7: the ``iceberg.catalog.*`` property surface, reference names verbatim
(IcebergSinkConfig.java:61-99,256-257,278; data/Utilities.java:68-121)."""

from __future__ import annotations

import pytest

from iceberg_kafka_connect_spark.sinks.catalog import (
    Catalog,
    CatalogSpec,
    UnsupportedCatalogError,
    catalog_from_properties,
)


def test_hadoop_catalog_builds_from_reference_props(tmp_path):
    # file:///wh (tmp_path is absolute) and Iceberg-Java's file:/wh
    for scheme in ("file://", "file:"):
        props = {
            "iceberg.catalog": "demo",
            "iceberg.catalog.type": "hadoop",
            "iceberg.catalog.warehouse": f"{scheme}{tmp_path}/wh",
        }
        spec = CatalogSpec.from_properties(props)
        assert spec.name == "demo"
        assert spec.type == "hadoop"
        cat = spec.build()
        assert isinstance(cat, Catalog)
        assert cat.warehouse == f"{tmp_path}/wh"


def test_default_catalog_name_is_iceberg(tmp_path):
    spec = CatalogSpec.from_properties(
        {"iceberg.catalog.type": "hadoop", "iceberg.catalog.warehouse": str(tmp_path)}
    )
    assert spec.name == "iceberg"  # DEFAULT_CATALOG_NAME


def test_missing_catalog_props_fails_like_reference():
    with pytest.raises(ValueError, match="Must specify Iceberg catalog"):
        CatalogSpec.from_properties({"iceberg.tables": "default.t"})


def test_rest_catalog_parses_but_names_missing_runtime():
    spec = CatalogSpec.from_properties(
        {
            "iceberg.catalog.type": "rest",
            "iceberg.catalog.uri": "http://localhost:8181",
            "iceberg.catalog.credential": "user:pass",
        }
    )
    assert spec.type == "rest" and spec.uri == "http://localhost:8181"
    assert spec.props["credential"] == "user:pass"
    with pytest.raises(UnsupportedCatalogError, match="rest"):
        spec.build()


def test_hive_is_default_type_and_builds_lazily():
    spec = CatalogSpec.from_properties(
        {"iceberg.catalog.uri": "thrift://meta:9083"}
    )
    assert spec.type == "hive"  # CatalogUtil default
    # executable leg since round 10: builds without dialing the wire
    from iceberg_kafka_connect_spark.sinks.hive_catalog import HiveCatalog

    assert isinstance(spec.build(), HiveCatalog)
    # without a uri the missing-runtime contract still holds
    with pytest.raises(UnsupportedCatalogError, match="hive"):
        CatalogSpec.from_properties(
            {"iceberg.catalog.type": "hive"}
        ).build()


def test_catalog_impl_takes_precedence_over_type():
    spec = CatalogSpec.from_properties(
        {
            "iceberg.catalog.catalog-impl": "com.example.MyCatalog",
            "iceberg.catalog.type": "hadoop",
        }
    )
    assert spec.type == "custom"
    with pytest.raises(UnsupportedCatalogError, match="com.example.MyCatalog"):
        spec.build()


def test_hadoop_props_and_conf_dir_collected(tmp_path):
    spec = CatalogSpec.from_properties(
        {
            "iceberg.catalog.type": "hadoop",
            "iceberg.catalog.warehouse": str(tmp_path),
            "iceberg.hadoop.fs.s3a.endpoint": "http://minio:9000",
            "iceberg.hadoop-conf-dir": "/etc/hadoop/conf",
        }
    )
    assert spec.hadoop_props == {"fs.s3a.endpoint": "http://minio:9000"}
    assert spec.hadoop_conf_dir == "/etc/hadoop/conf"


def test_remote_warehouse_scheme_rejected_cleanly():
    spec = CatalogSpec.from_properties(
        {
            "iceberg.catalog.type": "hadoop",
            "iceberg.catalog.warehouse": "s3a://bucket/wh",
        }
    )
    with pytest.raises(UnsupportedCatalogError, match="s3a://bucket/wh"):
        spec.build()


def test_end_to_end_build_and_write(tmp_path, spark):
    from pyspark.sql import types as T

    cat = catalog_from_properties(
        {
            "iceberg.catalog.type": "hadoop",
            "iceberg.catalog.warehouse": str(tmp_path / "wh"),
        }
    )
    schema = T.StructType([T.StructField("id", T.LongType())])
    t = cat.create_table("default.t", schema)
    t.append(spark.createDataFrame([(1,), (2,)], schema))
    assert t.read(spark).count() == 2
