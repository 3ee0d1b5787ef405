"""Deterministic Spark job-count guards for the feature-store small-commit
path: building a read or a change feed, a merge, a delete, two
materialized-view refreshes (with and without an extremum recompute) and
one incremental online publish.  Job counts do not move with host speed,
so a rise here is a structural regression (an extra scan, a schema probe,
a second evaluation of a change window) that wall-clock timing would hide
in noise."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row

from databricks_feature_store_flight_school_spark.featurestore import (
    EmbeddedDerbySpec,
    FeatureStoreClient,
)

_groups = itertools.count()


def count_jobs(spark, fn):
    """(jobs ``fn`` launched, its result), counted per job group through
    ``statusTracker`` once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"job-count-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """A small table with a count/sum/max view and a Derby mirror, both
    bootstrapped, then one merge (update, group move, insert, an update of
    a column the view does not read) and one delete, whose job counts ride
    along.  Shared by the tests below: each advances a different consumer
    (the view, the mirror)."""
    tmp_path = tmp_path_factory.mktemp("job_counts")
    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    fs.create_feature_table(
        "svc", keys="customerID",
        df=spark.createDataFrame([
            Row(customerID=f"{i:07d}-CUST", plan=f"p{i % 3}",
                charges=float(i), tenure=i)
            for i in range(40)
        ]),
    )
    fs.create_materialized_view(
        "by_plan", "svc", "plan",
        {"n": ("count", "*"), "total": ("sum", "charges"),
         "top": ("max", "charges")},
    )
    fs.refresh_materialized_view("by_plan")
    spec = EmbeddedDerbySpec(str(tmp_path / "online_db"))
    fs.publish_table("svc", online_store=spec, mode="incremental")
    merge = spark.createDataFrame([
        Row(customerID="0000001-CUST", plan="p2", charges=100.0, tenure=1),
        Row(customerID="0000003-CUST", plan="p0", charges=3.0, tenure=77),
        Row(customerID="0000099-CUST", plan="p0", charges=1.0, tenure=1),
    ])
    gone = spark.createDataFrame([Row(customerID="0000002-CUST")])
    writes = {
        "merge": count_jobs(spark, lambda: fs.write_table("svc", merge))[0],
        "delete": count_jobs(spark, lambda: fs.delete_from_table("svc", gone))[0],
    }
    return fs, spec, writes


def test_read_table_build_launches_no_job(spark, cycle):
    fs, _spec, _writes = cycle
    jobs, df = count_jobs(spark, lambda: fs.read_table("svc"))
    assert jobs == 0
    assert df.columns == ["customerID", "plan", "charges", "tenure"]
    jobs, _df = count_jobs(spark, lambda: fs.read_table("svc", version=1))
    assert jobs == 0


def test_refresh_materialized_view_job_budget(spark, cycle):
    fs, _spec, _writes = cycle
    jobs, _meta = count_jobs(
        spark, lambda: fs.refresh_materialized_view("by_plan")
    )
    assert jobs <= 6
    got = {
        r["plan"]: (r["n"], r["total"], r["top"])
        for r in fs.read_materialized_view("by_plan").collect()
    }
    assert got == {
        "p0": (15, 274.0, 39.0),
        "p1": (12, 246.0, 37.0),
        "p2": (13, 358.0, 100.0),
    }


def test_refresh_recompute_branch_job_budget(spark, cycle):
    """A delete of a group's current max sends that group through the
    bounded recompute against the source: one broadcast of the affected
    keys and one more aggregate on top of the plain fold."""
    fs, _spec, _writes = cycle
    fs.delete_from_table(
        "svc", spark.createDataFrame([Row(customerID="0000001-CUST")])
    )
    jobs, _meta = count_jobs(
        spark, lambda: fs.refresh_materialized_view("by_plan")
    )
    assert jobs <= 7
    got = {
        r["plan"]: (r["n"], r["total"], r["top"])
        for r in fs.read_materialized_view("by_plan").collect()
    }
    assert got["p2"] == (12, 258.0, 38.0)


def test_table_changes_build_launches_no_job(spark, cycle):
    fs, _spec, _writes = cycle
    jobs, df = count_jobs(spark, lambda: fs.table_changes("svc", 1))
    assert jobs == 0
    assert df.columns[:2] == ["customerID", "_change_type"]


def test_incremental_publish_job_budget(spark, cycle):
    fs, spec, _writes = cycle
    jobs, _ = count_jobs(
        spark,
        lambda: fs.publish_table("svc", online_store=spec, mode="incremental"),
    )
    assert jobs <= 4
    url, props = spec.jdbc_options()
    mirror = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "svc").options(**props).load()
    )
    assert sorted(mirror.collect()) == sorted(fs.read_table("svc").collect())


def test_writer_job_budget(spark, cycle, tmp_path):
    """A validated merge fuses key validation into its staging write; a
    delete is one anti-join write; a first validated merge into a
    schema-only table pays one small key aggregate before its write."""
    fs, _spec, writes = cycle
    assert writes["merge"] <= 5
    assert writes["delete"] <= 4
    fs2 = FeatureStoreClient(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(40)]
    )
    fs2.create_feature_table("fresh", keys="k", schema=src.schema)
    jobs, _meta = count_jobs(spark, lambda: fs2.write_table("fresh", src))
    assert jobs <= 3
    assert fs2.read_table("fresh").count() == 40
