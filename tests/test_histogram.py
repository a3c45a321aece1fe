"""Histogram state-operator tests (SURVEY.md §2.9, Histograms.scala)."""

import math

import pyspark.sql.functions as F
import pytest

from hogzilla_spark.operators import histogram as H

@pytest.fixture()
def hdf(spark):
    return spark.createDataFrame(
        [({"a": 0.5, "b": 0.5}, 10, {"a": 0.2, "c": 0.8}, 2)],
        "old map<string,double>, old_size long, new map<string,double>, new_size long",
    )

def test_kl_divergence_guards(spark, hdf):
    # only keys with p>0 AND q>0 contribute (Histograms.scala:18-36)
    got = hdf.select(H.kl_divergence("new", "old").alias("kl")).collect()[0].kl
    assert got == pytest.approx(0.2 * math.log(0.2 / 0.5))

def test_atypical_typical(spark, hdf):
    r = hdf.select(
        H.atypical_keys("old", "new").alias("a"),
        H.is_typical("old", "a").alias("t"),
    ).collect()[0]
    assert r.a == ["c"] and r.t

def test_merge_weighted_mean(spark, hdf):
    m = hdf.select(
        H.merge_histograms("old", "old_size", "new", "new_size").alias("m")
    ).collect()[0].m
    assert m["a"] == pytest.approx((0.5 * 10 + 0.2 * 2) / 12)
    assert m["b"] == pytest.approx(5.0 / 12)
    assert m["c"] == pytest.approx(1.6 / 12)

def test_merge_decay_halves_old_weight(spark):
    # Histograms.scala:108-110: n1>1000 → old weight halved
    df = spark.createDataFrame(
        [({"a": 1.0}, 2000, {"b": 1.0}, 1000)],
        "old map<string,double>, old_size long, new map<string,double>, new_size long",
    )
    r = df.select(
        H.merge_histograms("old", "old_size", "new", "new_size").alias("m"),
        H.merged_size("old_size", "new_size").alias("s"),
    ).collect()[0]
    assert r.m["a"] == pytest.approx(0.5)  # 1000/(1000+1000)
    assert r.m["b"] == pytest.approx(0.5)
    assert r.s == 2000  # 2000/2 + 1000

def test_merge_max(spark, hdf):
    m = hdf.select(H.merge_max("old", "new").alias("m")).collect()[0].m
    assert m == {"a": 0.5, "b": 0.5, "c": 0.8}

def test_point_typicality(spark, hdf):
    r = hdf.select(
        H.is_typical("old", "a").alias("ta"),
        H.is_atypical("old", "c").alias("ac"),
    ).collect()[0]
    assert r.ta and r.ac

def test_build_histogram_shares(spark):
    df = spark.createDataFrame(
        [("h1", "80"), ("h1", "80"), ("h1", "443"), ("h2", "22")],
        "ip string, port string",
    )
    out = {r.ip: (r.values, r.size) for r in H.build_histogram(df, "ip", "port").collect()}
    assert out["h1"][0]["80"] == pytest.approx(2 / 3)
    assert out["h1"][0]["443"] == pytest.approx(1 / 3)
    assert out["h1"][1] == 3
    assert out["h2"][0] == {"22": 1.0} and out["h2"][1] == 1
