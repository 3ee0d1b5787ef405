"""Feature-store core: registry CRUD (D4-D6), merge semantics incl. schema
evolution (S8), lookup-join planner (J3), scoring path (J4) — the SURVEY.md §5
unit-test plan."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from databricks_feature_store_flight_school_spark.featurestore import (
    FeatureLookup,
    FeatureStoreClient,
    feature_table,
)
from databricks_feature_store_flight_school_spark.featurestore.scoring import (
    LinearThresholdModel,
)
from databricks_feature_store_flight_school_spark.functions import quote


@pytest.fixture()
def client(spark, tmp_path):
    return FeatureStoreClient(spark, str(tmp_path / "warehouse"))


def _demo_df(spark):
    return spark.createDataFrame(
        [
            Row(customer_id=1, gender="F", senior=True),
            Row(customer_id=2, gender="M", senior=False),
            Row(customer_id=3, gender="F", senior=False),
        ]
    )


# -- registry (D4-D6) -------------------------------------------------------

def test_registry_crud(spark, client):
    df = _demo_df(spark)
    meta = client.create_feature_table(
        "demographic_features", keys="customer_id", df=df, description="demo"
    )
    assert meta.current_version == 1
    got = client.get_feature_table("demographic_features")
    assert got.keys == ["customer_id"]
    assert got.description == "demo"
    assert client.list_feature_tables() == ["demographic_features"]

    with pytest.raises(ValueError, match="already exists"):
        client.create_feature_table("demographic_features", keys="customer_id", df=df)

    client.delete_feature_table("demographic_features")
    assert client.list_feature_tables() == []
    with pytest.raises(KeyError):
        client.get_feature_table("demographic_features")


def test_create_requires_key_in_schema(spark, client):
    with pytest.raises(ValueError, match="primary key"):
        client.create_feature_table("bad", keys="nope", df=_demo_df(spark))


# -- merge-upsert + schema evolution (S8, hard part #1) ---------------------

def test_merge_update_insert_and_schema_evolution(spark, client):
    client.create_feature_table("svc", keys="customer_id", df=_demo_df(spark))

    # v2 source: update id=1, insert id=4, and carry a brand-new column
    update = spark.createDataFrame(
        [
            Row(customer_id=1, gender="F", senior=False, num_services=5),
            Row(customer_id=4, gender="M", senior=True, num_services=2),
        ]
    )
    client.write_table("svc", update, mode="merge")

    out = {r["customer_id"]: r for r in client.read_table("svc").collect()}
    assert set(out) == {1, 2, 3, 4}
    # matched row: source wins in full
    assert out[1]["senior"] is False and out[1]["num_services"] == 5
    # unmatched insert
    assert out[4]["num_services"] == 2
    # untouched rows keep values; evolved column is null (FS:411-435 semantics)
    assert out[2]["gender"] == "M" and out[2]["num_services"] is None
    assert out[3]["num_services"] is None
    assert client.get_feature_table("svc").current_version == 2


def test_merge_source_missing_column_keeps_nulls_for_inserts(spark, client):
    client.create_feature_table("svc2", keys="customer_id", df=_demo_df(spark))
    # source missing 'senior' entirely: matched row's senior becomes null
    # (UPDATE SET * with an absent column == evolved union semantics)
    update = spark.createDataFrame([Row(customer_id=2, gender="X")])
    client.write_table("svc2", update, mode="merge")
    out = {r["customer_id"]: r for r in client.read_table("svc2").collect()}
    assert out[2]["gender"] == "X" and out[2]["senior"] is None
    assert out[1]["senior"] is True


def test_merge_requires_key_column(spark, client):
    client.create_feature_table("svc3", keys="customer_id", df=_demo_df(spark))
    with pytest.raises(ValueError, match="primary key"):
        client.write_table("svc3", _demo_df(spark).drop("customer_id"), mode="merge")


def test_overwrite_replaces(spark, client):
    client.create_feature_table("svc4", keys="customer_id", df=_demo_df(spark))
    two = _demo_df(spark).limit(2)
    client.write_table("svc4", two, mode="overwrite")
    assert client.read_table("svc4").count() == 2


def test_merge_idempotent_last_writer_wins(spark, client):
    """Property check: replaying the same merge twice == once."""
    client.create_feature_table("svc5", keys="customer_id", df=_demo_df(spark))
    upd = spark.createDataFrame([Row(customer_id=1, gender="Z", senior=True)])
    client.write_table("svc5", upd, mode="merge")
    once = sorted(map(tuple, client.read_table("svc5").collect()))
    client.write_table("svc5", upd, mode="merge")
    twice = sorted(map(tuple, client.read_table("svc5").collect()))
    assert once == twice


# -- @feature_table decorator (FS:102-111) ----------------------------------

def test_feature_table_decorator_direct_call_and_write(spark, client):
    @client.feature_table
    def compute_demo(df):
        return df.select("customer_id", "gender", (F.col("senior") == True).alias("is_senior"))  # noqa: E712

    df = _demo_df(spark)
    direct = compute_demo(df)  # plain call still returns the DataFrame
    assert direct.columns == ["customer_id", "gender", "is_senior"]

    client.create_feature_table("demo_feats", keys="customer_id", schema=direct.schema)
    compute_demo.compute_and_write(df, "demo_feats", mode="merge")
    assert client.read_table("demo_feats").count() == 3


def test_unbound_decorator_raises(spark):
    @feature_table
    def compute(df):
        return df

    with pytest.raises(RuntimeError, match="not bound"):
        compute.compute_and_write(_demo_df(spark), "x")


# -- lookup joins / training set (J3, hard part #2) -------------------------

@pytest.fixture()
def lookup_client(spark, client):
    client.create_feature_table(
        "demo_f",
        keys="customer_id",
        df=spark.createDataFrame(
            [Row(customer_id=1, age=30), Row(customer_id=2, age=40)]
        ),
    )
    client.create_feature_table(
        "spend_f",
        keys="customer_id",
        df=spark.createDataFrame(
            [Row(customer_id=1, total_spend=10.0), Row(customer_id=3, total_spend=30.0)]
        ),
    )
    return client


def test_training_set_left_join_missing_keys_null(spark, lookup_client):
    inference = spark.createDataFrame(
        [Row(customer_id=1, churn=True), Row(customer_id=2, churn=False), Row(customer_id=9, churn=True)]
    )
    ts = lookup_client.create_training_set(
        inference,
        [
            FeatureLookup("demo_f", "customer_id"),
            FeatureLookup("spend_f", "customer_id", ["total_spend"]),
        ],
        label="churn",
    )
    rows = {r["customer_id"]: r for r in ts.load_df().collect()}
    assert len(rows) == 3  # input rows always preserved
    assert rows[1]["age"] == 30 and rows[1]["total_spend"] == 10.0
    assert rows[2]["age"] == 40 and rows[2]["total_spend"] is None
    assert rows[9]["age"] is None and rows[9]["total_spend"] is None
    assert rows[1]["churn"] is True  # label passthrough


def test_training_set_exclude_columns(spark, lookup_client):
    inference = spark.createDataFrame([Row(customer_id=1, churn=True)])
    ts = lookup_client.create_training_set(
        inference, [FeatureLookup("demo_f", "customer_id")], label="churn",
        exclude_columns="customer_id",
    )
    assert ts.load_df().columns == ["churn", "age"]


def test_lookup_collision_raises(spark, lookup_client):
    inference = spark.createDataFrame([Row(customer_id=1, age=99)])
    ts = lookup_client.create_training_set(
        inference, [FeatureLookup("demo_f", "customer_id")]
    )
    with pytest.raises(ValueError, match="collide"):
        ts.load_df()


def test_lookup_key_rename(spark, lookup_client):
    """Input keyed by a different column name than the feature table's PK."""
    inference = spark.createDataFrame([Row(cust=1, churn=False)])
    ts = lookup_client.create_training_set(
        inference, [FeatureLookup("demo_f", "cust")], label="churn"
    )
    row = ts.load_df().collect()[0]
    assert row["cust"] == 1 and row["age"] == 30


# -- scoring (J4/U2) --------------------------------------------------------

def test_log_model_score_batch_roundtrip(spark, lookup_client, tmp_path):
    inference = spark.createDataFrame(
        [Row(customer_id=1, churn=True), Row(customer_id=2, churn=False)]
    )
    ts = lookup_client.create_training_set(
        inference, [FeatureLookup("demo_f", "customer_id", ["age"])], label="churn",
    )
    model = LinearThresholdModel(weights={"age": 1.0}, threshold=35.0)
    mpath = str(tmp_path / "model")
    lookup_client.log_model(mpath, model, ts)

    batch = spark.createDataFrame([Row(customer_id=1), Row(customer_id=2)])
    scored = lookup_client.score_batch(mpath, batch, result_type="boolean")
    out = {r["customer_id"]: r["prediction"] for r in scored.collect()}
    assert out == {1: False, 2: True}  # age 30 <= 35 < age 40

    as_str = lookup_client.score_batch(mpath, batch, result_type="string")
    vals = {r["customer_id"]: r["prediction"] for r in as_str.collect()}
    assert vals == {1: "False", 2: "True"}


# -- point-in-time lookups (timestamp_keys + timestamp_lookup_key) ----------

def _pit_client(spark, client):
    """Feature table with history: one row per (customer, observed_at)."""
    import datetime as dt

    d = dt.datetime
    hist = spark.createDataFrame(
        [
            Row(customer_id=1, observed_at=d(2024, 1, 1), balance=100.0),
            Row(customer_id=1, observed_at=d(2024, 2, 1), balance=150.0),
            Row(customer_id=1, observed_at=d(2024, 3, 1), balance=90.0),
            Row(customer_id=2, observed_at=d(2024, 1, 15), balance=500.0),
        ]
    )
    client.create_feature_table(
        "balance_history",
        keys="customer_id",
        timestamp_keys="observed_at",
        df=hist,
        description="PIT balances",
    )
    return client


def test_pit_lookup_asof_semantics(spark, client):
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    inputs = spark.createDataFrame(
        [
            Row(customer_id=1, event_ts=d(2024, 1, 20), label=True),   # -> 100.0
            Row(customer_id=1, event_ts=d(2024, 2, 1), label=False),   # exact match -> 150.0
            Row(customer_id=1, event_ts=d(2024, 6, 1), label=True),    # latest -> 90.0
            Row(customer_id=2, event_ts=d(2024, 1, 1), label=False),   # before history -> null
            Row(customer_id=3, event_ts=d(2024, 1, 1), label=True),    # unknown key -> null
        ]
    )
    ts = client.create_training_set(
        inputs,
        [
            FeatureLookup(
                "balance_history",
                lookup_key="customer_id",
                timestamp_lookup_key="event_ts",
            )
        ],
        label="label",
    )
    out = {
        (r["customer_id"], r["event_ts"]): r["balance"] for r in ts.load_df().collect()
    }
    assert out[(1, d(2024, 1, 20))] == 100.0
    assert out[(1, d(2024, 2, 1))] == 150.0  # inclusive: ts <= lookup_ts
    assert out[(1, d(2024, 6, 1))] == 90.0
    assert out[(2, d(2024, 1, 1))] is None
    assert out[(3, d(2024, 1, 1))] is None
    # input rows all preserved; label intact; no plumbing columns leak
    df = ts.load_df()
    assert df.count() == 5 and "label" in df.columns
    assert not [c for c in df.columns if c.startswith("__") or c.endswith("_right")]


def test_pit_merge_appends_history_rows(spark, client):
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    # a new observation for customer 1 and a correction of an existing one
    client.write_table(
        "balance_history",
        spark.createDataFrame(
            [
                Row(customer_id=1, observed_at=d(2024, 4, 1), balance=120.0),
                Row(customer_id=1, observed_at=d(2024, 3, 1), balance=95.0),
            ]
        ),
        mode="merge",
    )
    hist = client.read_table("balance_history")
    assert hist.count() == 5  # 4 original + 1 appended (1 updated in place)
    got = {
        (r["customer_id"], r["observed_at"]): r["balance"] for r in hist.collect()
    }
    assert got[(1, d(2024, 3, 1))] == 95.0  # corrected, not duplicated
    assert got[(1, d(2024, 4, 1))] == 120.0


def test_pit_lookup_requires_timestamp_keys(spark, client):
    df = _demo_df(spark)
    client.create_feature_table("plain", keys="customer_id", df=df)
    ts = client.create_training_set(
        df.select("customer_id"),
        [FeatureLookup("plain", "customer_id", timestamp_lookup_key="customer_id")],
    )
    with pytest.raises(ValueError, match="timestamp_keys"):
        ts.load_df()


def test_composite_key_feature_table(spark, client):
    """Multi-column primary keys: merge identity and lookup join both use
    the full key tuple."""
    df = spark.createDataFrame(
        [
            Row(region="eu", cust=1, score=0.5),
            Row(region="us", cust=1, score=0.7),
            Row(region="eu", cust=2, score=0.9),
        ]
    )
    client.create_feature_table("geo_scores", keys=["region", "cust"], df=df)
    # merge updates only the exact (region, cust) pair
    client.write_table(
        "geo_scores",
        spark.createDataFrame([Row(region="eu", cust=1, score=0.6)]),
        mode="merge",
    )
    got = {
        (r["region"], r["cust"]): r["score"]
        for r in client.read_table("geo_scores").collect()
    }
    assert got == {("eu", 1): 0.6, ("us", 1): 0.7, ("eu", 2): 0.9}

    inputs = spark.createDataFrame(
        [Row(region="eu", cust=1, y=True), Row(region="us", cust=2, y=False)]
    )
    ts = client.create_training_set(
        inputs,
        [FeatureLookup("geo_scores", lookup_key=["region", "cust"])],
        label="y",
    )
    out = {(r["region"], r["cust"]): r["score"] for r in ts.load_df().collect()}
    assert out == {("eu", 1): 0.6, ("us", 2): None}


def test_merge_rejects_duplicate_and_null_source_keys(spark, client):
    client.create_feature_table("vtab", keys="customer_id", df=_demo_df(spark))
    dup = spark.createDataFrame(
        [Row(customer_id=1, gender="F", senior=True)] * 2
    )
    with pytest.raises(ValueError, match="arbitrary"):
        client.write_table("vtab", dup, mode="merge")
    nullk = spark.createDataFrame(
        [(None, "F", True)], "customer_id bigint, gender string, senior boolean"
    )
    with pytest.raises(ValueError, match="null key"):
        client.write_table("vtab", nullk, mode="merge")
    # escape hatch still works
    client.write_table("vtab", dup, mode="merge", validate=False)
    assert client.read_table("vtab").where(F.col("customer_id") == 1).count() == 1
    nulldup = nullk.unionByName(nullk)
    for _ in range(2):  # a null key matches itself on the next merge
        client.write_table("vtab", nulldup, mode="merge", validate=False)
        assert client.read_table("vtab").where(F.col("customer_id").isNull()).count() == 1

    # a schema-only table: the first merge has no target to merge into
    import os

    client.create_feature_table("etab", keys="customer_id", schema=nullk.schema)
    tdir = client.registry.table_dir("etab")
    for src, match in ((dup, "arbitrary"), (nullk, "null key")):
        with pytest.raises(ValueError, match=match):
            client.write_table("etab", src, mode="merge")
        assert client.get_feature_table("etab").current_version == 0
        assert not [
            d for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
            if d.startswith(".staging-")
        ]
    client.write_table("etab", dup.unionByName(nulldup), mode="merge", validate=False)
    assert sorted(
        (r["customer_id"], r["n"]) for r in
        client.read_table("etab").groupBy("customer_id").agg(F.count("*").alias("n")).collect()
        if r["customer_id"] is not None
    ) == [(1, 1)]
    assert client.read_table("etab").where(F.col("customer_id").isNull()).count() == 1


def test_read_table_time_travel(spark, client):
    client.create_feature_table("ttab", keys="customer_id", df=_demo_df(spark))
    client.write_table(
        "ttab",
        spark.createDataFrame([Row(customer_id=1, gender="X", senior=False)]),
        mode="merge",
    )
    v1 = {r["customer_id"]: r["gender"] for r in client.read_table("ttab", version=1).collect()}
    v2 = {r["customer_id"]: r["gender"] for r in client.read_table("ttab").collect()}
    assert v1[1] == "F" and v2[1] == "X"
    with pytest.raises(ValueError, match="out of range"):
        client.read_table("ttab", version=9)


def test_time_travel_across_schema_evolving_merge(spark, client):
    """Every version reads back with the columns and types it was written
    with: the schema each publish records drives the read, and a version
    without a record (published before schemas were recorded) falls back to
    parquet inference."""
    client.create_feature_table(
        "evo", keys="k", df=spark.createDataFrame([Row(k=1, a=1), Row(k=2, a=2)])
    )
    client.write_table(  # adds b, widens a to double
        "evo", spark.createDataFrame([Row(k=2, a=2.5, b="x")]), mode="merge"
    )
    client.delete_from_table("evo", spark.createDataFrame([Row(k=1)]))

    def shape(version):
        df = client.read_table("evo", version=version)
        return df.dtypes, sorted(tuple(r) for r in df.collect())

    v1 = ([("k", "bigint"), ("a", "bigint")], [(1, 1), (2, 2)])
    v2 = (
        [("k", "bigint"), ("a", "double"), ("b", "string")],
        [(1, 1.0, None), (2, 2.5, "x")],
    )
    v3 = (v2[0], [(2, 2.5, "x")])
    assert [shape(v) for v in (1, 2, 3)] == [v1, v2, v3]
    # recorded where the schema changed, not per commit
    meta = client.get_feature_table("evo")
    assert sorted(meta.properties["version_schemas"]) == ["1", "2"]

    meta.properties.pop("version_schemas")
    client.registry.update(meta)
    assert [shape(v) for v in (1, 2, 3)] == [v1, v2, v3]


def test_partitioned_table_keeps_column_order(spark, client):
    """A partitioned table reads back with its partition columns last, as
    parquet discovery orders them, and with the types they were written
    with (discovery alone would read the bigint ``yr`` back as int)."""
    client.create_feature_table(
        "parts", keys="k",
        df=spark.createDataFrame([
            Row(k=1, region="a", yr=2020, x=1.5),
            Row(k=2, region="b", yr=2021, x=2.5),
        ]),
        partition_columns=["region", "yr"],
    )
    client.write_table(
        "parts",
        spark.createDataFrame([Row(k=3, region="a", yr=2022, x=3.5)]),
        mode="merge",
    )
    for version in (1, 2):
        df = client.read_table("parts", version=version)
        assert df.dtypes == [
            ("k", "bigint"), ("x", "double"), ("region", "string"),
            ("yr", "bigint"),
        ]
    assert sorted(tuple(r) for r in client.read_table("parts").collect()) == [
        (1, 1.5, "a", 2020), (2, 2.5, "b", 2021), (3, 3.5, "a", 2022),
    ]


def test_lookup_join_broadcasts_feature_table(spark, client):
    """The lookup planner must put the feature table on a broadcast exchange
    (the fact-side input never shuffles for retrieval)."""
    client.create_feature_table("bplan", keys="customer_id", df=_demo_df(spark))
    inputs = spark.range(100).select(F.col("id").alias("customer_id"))
    ts = client.create_training_set(inputs, [FeatureLookup("bplan", "customer_id")])
    plan = ts.load_df()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    analyzed = ts.load_df()._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in analyzed.lower(), analyzed
    # broadcast=False drops the explicit hint (the optimizer may still pick
    # a broadcast join on its own for tiny tables — that's AQE's call)
    ts2 = client.create_training_set(
        inputs, [FeatureLookup("bplan", "customer_id")], broadcast=False
    )
    analyzed2 = ts2.load_df()._jdf.queryExecution().analyzed().toString()
    assert "hint" not in analyzed2.lower(), analyzed2


def test_training_set_split_deterministic_partition(spark, lookup_client):
    inputs = spark.range(200).select(F.col("id").alias("customer_id"))
    ts = lookup_client.create_training_set(
        inputs, [FeatureLookup("demo_f", "customer_id")]
    )
    train, test = ts.split([0.8, 0.2], seed=7)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 200 and n_test > 0
    # same seed -> identical split
    train2, _ = ts.split([0.8, 0.2], seed=7)
    assert sorted(r["customer_id"] for r in train.collect()) == sorted(
        r["customer_id"] for r in train2.collect()
    )


def test_score_batch_string_result_type(spark, lookup_client, tmp_path):
    inputs = spark.range(10).select(F.col("id").alias("customer_id"))
    ts = lookup_client.create_training_set(
        inputs, [FeatureLookup("demo_f", "customer_id")]
    )
    model = LinearThresholdModel(weights={"age": 1.0}, threshold=35.0)
    model_dir = str(tmp_path / "strmodel")
    lookup_client.log_model(model_dir, model, ts)
    out = lookup_client.score_batch(model_dir, inputs, result_type="string")
    assert dict(out.dtypes)["prediction"] == "string"
    assert {r["prediction"] for r in out.collect()} <= {"True", "False"}


def test_compact_snapshot_preserves_rows_reduces_files(spark, client):
    import glob
    import os

    from databricks_feature_store_flight_school_spark.featurestore import writer

    df = spark.range(1000).select(
        F.col("id").alias("customer_id"), (F.col("id") % 7).alias("v")
    ).repartition(12)
    client.create_feature_table("ctab", keys="customer_id", df=df)
    before = client.read_table("ctab")
    vdir = os.path.join(client.registry.table_dir("ctab"), "v000001")
    n_before = len(glob.glob(os.path.join(vdir, "*.parquet")))
    assert n_before >= 12

    meta = writer.compact_snapshot(spark, client.registry, client.get_feature_table("ctab"), num_files=2)
    assert meta.current_version == 2
    after = client.read_table("ctab")
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, before.collect()))
    vdir2 = os.path.join(client.registry.table_dir("ctab"), "v000002")
    assert len(glob.glob(os.path.join(vdir2, "*.parquet"))) <= 2


def test_drop_warehouse_idempotent(spark, client):
    client.create_feature_table("w1", keys="customer_id", df=_demo_df(spark))
    client.create_feature_table("w2", keys="customer_id", df=_demo_df(spark))
    client.drop_warehouse()
    assert client.list_feature_tables() == []
    client.drop_warehouse()  # second call is a no-op


def test_pit_lookup_tolerance(spark, client):
    """PIT lookup with a freshness bound: observations older than the
    tolerance are treated as missing (no stale features at train time)."""
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    inputs = spark.createDataFrame(
        [
            Row(customer_id=1, event_ts=d(2024, 3, 2)),   # 1 day after 3/1 obs
            Row(customer_id=1, event_ts=d(2024, 6, 1)),   # 3 months stale
        ]
    )
    ts = client.create_training_set(
        inputs,
        [
            FeatureLookup(
                "balance_history",
                lookup_key="customer_id",
                timestamp_lookup_key="event_ts",
                lookup_tolerance_seconds=7 * 86400,  # one week
            )
        ],
    )
    out = {r["event_ts"]: r["balance"] for r in ts.load_df().collect()}
    assert out[d(2024, 3, 2)] == 90.0
    assert out[d(2024, 6, 1)] is None


def test_mixed_pit_and_plain_lookups_chain(spark, client):
    """A training set mixing a PIT lookup and a plain key lookup folds both
    join types into one plan with correct per-row results."""
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    client.create_feature_table(
        "static_profile",
        keys="customer_id",
        df=spark.createDataFrame(
            [Row(customer_id=1, tier="gold"), Row(customer_id=2, tier="basic")]
        ),
    )
    inputs = spark.createDataFrame(
        [
            Row(customer_id=1, event_ts=d(2024, 2, 15), y=1.0),
            Row(customer_id=2, event_ts=d(2024, 2, 1), y=0.0),
        ]
    )
    ts = client.create_training_set(
        inputs,
        [
            FeatureLookup(
                "balance_history",
                lookup_key="customer_id",
                timestamp_lookup_key="event_ts",
            ),
            FeatureLookup("static_profile", lookup_key="customer_id"),
        ],
        label="y",
    )
    out = {r["customer_id"]: (r["balance"], r["tier"]) for r in ts.load_df().collect()}
    assert out[1] == (150.0, "gold")   # as-of 2/15 -> 2/1 observation
    assert out[2] == (500.0, "basic")  # as-of 2/1 -> 1/15 observation


def test_pit_lookup_feature_subset(spark, client):
    """PIT lookup with explicit feature_names only attaches those columns."""
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    inputs = spark.createDataFrame([Row(customer_id=1, event_ts=d(2024, 2, 15))])
    ts = client.create_training_set(
        inputs,
        [
            FeatureLookup(
                "balance_history",
                lookup_key="customer_id",
                feature_names=["balance"],
                timestamp_lookup_key="event_ts",
            )
        ],
    )
    df = ts.load_df()
    assert set(df.columns) == {"customer_id", "event_ts", "balance"}
    assert df.collect()[0]["balance"] == 150.0


def test_log_model_preserves_pit_lookup_specs(spark, client, tmp_path):
    """PIT specs (timestamp_lookup_key, lookup_tolerance_seconds) must survive
    the log_model -> score_batch roundtrip.  Dropping them degrades scoring to
    a plain left join against FULL feature history: row fan-out (3 history
    rows for customer 1 -> 3 scored rows) and train/serve skew — the exact
    failure class PIT retrieval exists to prevent (FS:342-363)."""
    import datetime as dt

    d = dt.datetime
    client = _pit_client(spark, client)
    inputs = spark.createDataFrame(
        [
            Row(customer_id=1, event_ts=d(2024, 2, 15), churn=True),
            Row(customer_id=1, event_ts=d(2024, 6, 1), churn=False),
            Row(customer_id=2, event_ts=d(2024, 2, 1), churn=False),
        ]
    )
    ts = client.create_training_set(
        inputs,
        [
            FeatureLookup(
                "balance_history",
                lookup_key="customer_id",
                timestamp_lookup_key="event_ts",
                lookup_tolerance_seconds=365 * 86400,
            )
        ],
        label="churn",
    )
    # feature_names=None must resolve to non-key, non-timestamp columns only
    assert ts.feature_columns() == ["balance"]

    model = LinearThresholdModel(weights={"balance": 1.0}, threshold=120.0)
    mpath = str(tmp_path / "pit_model")
    client.log_model(mpath, model, ts)

    # the serialized graph carries the PIT fields verbatim
    import json as _json
    with open(f"{mpath}/lookup_graph.json") as fh:
        graph = _json.load(fh)
    lk = graph["feature_lookups"][0]
    assert lk["timestamp_lookup_key"] == "event_ts"
    assert lk["lookup_tolerance_seconds"] == 365 * 86400

    batch = spark.createDataFrame(
        [
            Row(customer_id=1, event_ts=d(2024, 2, 15)),  # as-of -> 150.0 > 120
            Row(customer_id=1, event_ts=d(2024, 6, 1)),   # as-of -> 90.0 <= 120
            Row(customer_id=2, event_ts=d(2024, 2, 1)),   # as-of -> 500.0 > 120
        ]
    )
    scored = client.score_batch(mpath, batch)
    rows = scored.collect()
    # no fan-out: one scored row per input row, despite 3 history rows for id 1
    assert len(rows) == 3
    out = {(r["customer_id"], r["event_ts"]): r["prediction"] for r in rows}
    assert out == {
        (1, d(2024, 2, 15)): True,
        (1, d(2024, 6, 1)): False,
        (2, d(2024, 2, 1)): True,
    }


def test_cluster_columns_sort_within_files(spark, client):
    """cluster_columns: every parquet file of the snapshot is sorted by the
    cluster key (footer min/max stats become selective)."""
    import glob
    import os

    df = spark.range(500).select(
        (F.col("id") * 37 % 500).alias("customer_id"), F.col("id").alias("v")
    ).repartition(6)
    client.create_feature_table(
        "clustered", keys="customer_id", df=df, cluster_columns="customer_id"
    )
    vdir = os.path.join(client.registry.table_dir("clustered"), "v000001")
    files = glob.glob(os.path.join(vdir, "*.parquet"))
    assert files
    seen = 0
    for f in files:
        vals = [r["customer_id"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals), f
        seen += len(vals)
    assert seen == 500
    # merge writes preserve the clustering
    client.write_table(
        "clustered",
        spark.createDataFrame([Row(customer_id=9999, v=1)]),
        mode="merge",
    )
    vdir2 = os.path.join(client.registry.table_dir("clustered"), "v000002")
    for f in glob.glob(os.path.join(vdir2, "*.parquet")):
        vals = [r["customer_id"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals), f


# -- trained model + registry URIs (FS:326-363) -----------------------------

def test_trained_model_registry_roundtrip(spark, client):
    """train -> log(registered_model_name) -> score via models:/name/version:
    cluster predictions must equal driver-side numpy predictions bit-for-bit,
    and versions must bump / resolve via 'latest'."""
    import numpy as np
    import pandas as pd

    from databricks_feature_store_flight_school_spark.featurestore.scoring import (
        TrainedLogisticModel,
        resolve_model_uri,
    )

    feat = spark.createDataFrame(
        [Row(customer_id=i, age=20 + i * 3, spend=float(100 - i * 7)) for i in range(20)]
    )
    client.create_feature_table("trainfeat", keys="customer_id", df=feat)
    inputs = spark.range(20).select(
        F.col("id").alias("customer_id"), (F.col("id") % 2 == 0).alias("label")
    )
    ts = client.create_training_set(
        inputs, [FeatureLookup("trainfeat", "customer_id")],
        label="label", exclude_columns="customer_id",
    )
    pdf = ts.load_df().orderBy("age").toPandas()
    model = TrainedLogisticModel.fit(pdf[["age", "spend"]], pdf["label"])

    uri1 = client.log_model(None, model, ts, registered_model_name="demo_logit")
    assert uri1 == "models:/demo_logit/1"
    uri2 = client.log_model(None, model, ts, registered_model_name="demo_logit")
    assert uri2 == "models:/demo_logit/2"
    assert resolve_model_uri(
        client.registry.warehouse, "models:/demo_logit/latest"
    ) == resolve_model_uri(client.registry.warehouse, uri2)
    with pytest.raises(FileNotFoundError):
        resolve_model_uri(client.registry.warehouse, "models:/demo_logit/9")
    with pytest.raises(FileNotFoundError):
        resolve_model_uri(client.registry.warehouse, "models:/nope/latest")

    batch = spark.range(20).select(F.col("id").alias("customer_id"))
    scored = client.score_batch(uri1, batch, result_type="boolean")
    got = {r["customer_id"]: r["prediction"] for r in scored.collect()}

    # driver-side truth on the same joined features
    feats_pdf = feat.toPandas().set_index("customer_id")
    want = model.predict(feats_pdf[["age", "spend"]])
    assert got == {cid: bool(want[cid]) for cid in feats_pdf.index}

    # training is deterministic: same sorted frame -> identical weights
    model2 = TrainedLogisticModel.fit(pdf[["age", "spend"]], pdf["label"])
    assert np.array_equal(model.weights, model2.weights) and model.bias == model2.bias
    # the fit actually learned signal: even ids (label=True) score higher
    proba = model.predict_proba(feats_pdf[["age", "spend"]])
    assert proba[[i for i in range(20) if i % 2 == 0]].mean() > proba[
        [i for i in range(20) if i % 2 == 1]
    ].mean()


def test_log_model_requires_path_or_name(spark, client):
    feat = _demo_df(spark)
    client.create_feature_table("lmreq", keys="customer_id", df=feat)
    ts = client.create_training_set(
        spark.range(3).select(F.col("id").alias("customer_id")),
        [FeatureLookup("lmreq", "customer_id")],
    )
    with pytest.raises(ValueError, match="path= or registered_model_name"):
        client.log_model(None, LinearThresholdModel(weights={}), ts)


# -- optimistic concurrency (S8 writer race) --------------------------------

def test_concurrent_merge_writers_cas(spark, client):
    """Two writers that read the same current_version: the second to publish
    must raise ConcurrentWriteError — not silently drop the winner's upserts
    — and the winner's committed snapshot must survive untouched."""
    from databricks_feature_store_flight_school_spark.featurestore import writer as W
    from databricks_feature_store_flight_school_spark.featurestore.registry import (
        ConcurrentWriteError,
    )

    client.create_feature_table("race", keys="customer_id", df=_demo_df(spark))
    # both writers snapshot table state at v1
    stale_meta = client.get_feature_table("race")

    # writer A commits first: customer 1 -> gender 'A'
    client.write_table(
        "race",
        spark.createDataFrame([Row(customer_id=1, gender="A", senior=True)]),
        mode="merge",
    )
    assert client.get_feature_table("race").current_version == 2

    # writer B (holding the stale v1 meta) now tries to publish its merge
    with pytest.raises(ConcurrentWriteError, match="moved from v1 to v2"):
        W.write_snapshot(
            client.registry,
            stale_meta,
            spark.createDataFrame([Row(customer_id=2, gender="B", senior=True)]),
            mode="merge",
        )

    # winner's write intact, loser applied nothing, no staging junk left
    rows = {r["customer_id"]: r["gender"] for r in client.read_table("race").collect()}
    assert rows[1] == "A" and rows[2] == "M"
    assert client.get_feature_table("race").current_version == 2
    import os
    leftovers = [
        d for d in os.listdir(client.registry.table_dir("race"))
        if d.startswith(".staging")
    ]
    assert leftovers == []

    # the loser retries against fresh state and succeeds
    client.write_table(
        "race",
        spark.createDataFrame([Row(customer_id=2, gender="B", senior=True)]),
        mode="merge",
    )
    rows = {r["customer_id"]: r["gender"] for r in client.read_table("race").collect()}
    assert rows[1] == "A" and rows[2] == "B"


def test_delete_matches_null_key(spark, client):
    """A NULL key written by a validate=False merge is deleted by a NULL
    key, the same null-safe match merge uses."""
    client.create_feature_table(
        "nk", keys="k", df=spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    client.write_table(
        "nk", spark.createDataFrame([(None, "n")], "k int, v string"), validate=False
    )
    assert client.read_table("nk").count() == 3
    client.delete_from_table(
        "nk", spark.createDataFrame([(None,), (None,), (2,)], "k int")
    )
    assert {tuple(r) for r in client.read_table("nk").collect()} == {(1, "a")}


def test_racing_deletes_stage_apart(spark, client, monkeypatch):
    """Two deletes from the same base version in one process: the loser
    stages its rows between the winner's staging write and the winner's
    publish.  Each writer stages into its own directory, so the winner
    publishes its own result, not the loser's."""
    from databricks_feature_store_flight_school_spark.featurestore import writer as W
    from databricks_feature_store_flight_school_spark.featurestore.registry import (
        ConcurrentWriteError,
    )

    client.create_feature_table(
        "drace", keys="k", df=spark.createDataFrame([Row(k=i) for i in range(4)])
    )
    loser_meta = client.get_feature_table("drace")
    real_publish = client.registry.publish_version
    calls = []

    def publish(name, expected_version, staging_dir, *args, **kwargs):
        calls.append(staging_dir)
        if len(calls) == 2:  # the loser, staged while the winner waits
            raise ConcurrentWriteError("lost the race")
        if len(calls) == 1:
            with pytest.raises(ConcurrentWriteError):
                W.delete_keys(
                    client.registry, loser_meta, spark.createDataFrame([Row(k=2)])
                )
        return real_publish(name, expected_version, staging_dir, *args, **kwargs)

    monkeypatch.setattr(client.registry, "publish_version", publish)
    meta = client.delete_from_table("drace", spark.createDataFrame([Row(k=1)]))
    assert sorted(r["k"] for r in client.read_table("drace").collect()) == [0, 2, 3]
    assert meta.current_version == 2
    assert len(calls) == 2 and calls[0] != calls[1]


def test_merge_into_delta_contract(spark, monkeypatch):
    """delta-spark is absent here, so pin the Delta MERGE wiring with a fake
    module: condition string, updateAll/insertAll chain, execute, and the
    schema.autoMerge conf must all fire exactly as a real DeltaTable would
    see them."""
    import sys
    import types

    from databricks_feature_store_flight_school_spark.featurestore.writer import (
        merge_into_delta,
    )

    calls = {}

    class FakeMerge:
        def whenMatchedUpdateAll(self):
            calls["matched"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["not_matched"] = True
            return self

        def execute(self):
            calls["executed"] = True

    class FakeTable:
        def alias(self, a):
            calls["target_alias"] = a
            return self

        def merge(self, src, cond):
            calls["condition"] = cond
            calls["source"] = src
            return FakeMerge()

    class FakeDeltaTable:
        @staticmethod
        def forPath(s, path):
            calls["path"] = path
            return FakeTable()

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)

    src = spark.createDataFrame([Row(customer_id=1, v=2)])
    merge_into_delta(spark, "/tmp/delta/tbl", src, ["customer_id", "obs_ts"])

    assert calls["path"] == "/tmp/delta/tbl"
    assert calls["condition"] == "t.customer_id <=> s.customer_id AND t.obs_ts <=> s.obs_ts"
    assert calls["matched"] and calls["not_matched"] and calls["executed"]
    assert calls["target_alias"] == "t"
    assert spark.conf.get("spark.databricks.delta.schema.autoMerge.enabled") == "true"


def test_merge_into_delta_raises_without_package(spark):
    from databricks_feature_store_flight_school_spark.featurestore.writer import (
        merge_into_delta,
    )

    with pytest.raises(RuntimeError, match="delta-spark is not installed"):
        merge_into_delta(
            spark, "/tmp/x", spark.createDataFrame([Row(customer_id=1)]), ["customer_id"]
        )


def test_vacuum_snapshots_retention(spark, client):
    """vacuum_snapshots: old version dirs are removed, the retained window
    still time-travels, reading a vacuumed version fails, and the current
    pointer is always kept (keep_last clamps to >= 1)."""
    import os

    from databricks_feature_store_flight_school_spark.featurestore.writer import (
        vacuum_snapshots,
    )
    from pyspark.sql import Row

    df1 = spark.createDataFrame([Row(k=1, v=1.0)])
    client.create_feature_table("vac", keys="k", df=df1)
    for i in range(2, 6):  # versions 2..5
        client.write_table("vac", spark.createDataFrame([Row(k=1, v=float(i))]), mode="merge")
    meta = client.get_feature_table("vac")
    assert meta.current_version == 5

    removed = vacuum_snapshots(client.registry, meta, keep_last=2)
    assert removed == [1, 2, 3]
    tdir = client.registry.table_dir("vac")
    assert sorted(d for d in os.listdir(tdir) if d.startswith("v")) == [
        "v000004", "v000005",
    ]
    # retained window still time-travels; current read unaffected
    assert client.read_table("vac", version=4).collect()[0]["v"] == 4.0
    assert client.read_table("vac").collect()[0]["v"] == 5.0
    import pytest as _pytest

    with _pytest.raises(Exception):
        client.read_table("vac", version=2).collect()

    # keep_last clamps: the current version can never be vacuumed
    assert vacuum_snapshots(client.registry, meta, keep_last=0) == [4]
    assert client.read_table("vac").collect()[0]["v"] == 5.0


def test_incremental_refresh_only_recomputes_changed_keys(spark, client):
    """incremental.refresh_changed_keys: (a) results always equal the full
    recompute, (b) only changed keys are recomputed (unchanged keys keep the
    row written by the PREVIOUS refresh batch), (c) the watermark advances
    and an empty delta is a no-op."""
    import datetime as dt

    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore.incremental import (
        refresh_changed_keys,
    )

    def ts(day):
        return dt.datetime(2024, 1, day)

    batch = {"n": 0}

    def compute(src):
        # per-key aggregate + a batch tag proving WHEN the row was computed
        return src.groupBy("k").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v"), 2).alias("total"),
            F.lit(batch["n"]).alias("computed_in_batch"),
        )

    rows1 = [Row(k=1, v=1.0, ts=ts(1)), Row(k=1, v=2.0, ts=ts(2)),
             Row(k=2, v=5.0, ts=ts(2))]
    src1 = spark.createDataFrame(rows1)
    client.create_feature_table(
        "inc", keys="k", schema=compute(src1).schema, description="incremental"
    )

    batch["n"] = 1
    stats1 = refresh_changed_keys(client, "inc", src1, "ts", compute)
    assert stats1["full_refresh"] and stats1["changed_keys"] == 2

    got1 = {r["k"]: r for r in client.read_table("inc").collect()}
    assert got1[1]["n_events"] == 2 and got1[1]["total"] == 3.0
    assert got1[2]["n_events"] == 1

    # second batch touches ONLY key 1 (new row after the watermark)
    rows2 = rows1 + [Row(k=1, v=10.0, ts=ts(5))]
    src2 = spark.createDataFrame(rows2)
    batch["n"] = 2
    stats2 = refresh_changed_keys(client, "inc", src2, "ts", compute)
    assert not stats2["full_refresh"] and stats2["changed_keys"] == 1

    got2 = {r["k"]: r for r in client.read_table("inc").collect()}
    # changed key: recomputed over FULL history in batch 2
    assert got2[1]["n_events"] == 3 and got2[1]["total"] == 13.0
    assert got2[1]["computed_in_batch"] == 2
    # unchanged key: untouched row still from batch 1
    assert got2[2]["computed_in_batch"] == 1 and got2[2]["total"] == 5.0

    # equals the full recompute (cost changed, results did not)
    full = {r["k"]: (r["n_events"], r["total"]) for r in compute(src2).collect()}
    assert {k: (r["n_events"], r["total"]) for k, r in got2.items()} == full

    # empty delta -> no-op, watermark stays
    batch["n"] = 3
    stats3 = refresh_changed_keys(client, "inc", src2, "ts", compute)
    assert stats3["changed_keys"] == 0 and stats3["watermark"] == stats2["watermark"]
    got3 = {r["k"]: r["computed_in_batch"] for r in client.read_table("inc").collect()}
    assert got3 == {1: 2, 2: 1}


def test_feature_function_on_demand_and_log_score_roundtrip(spark, client, tmp_path):
    """FeatureFunction: on-demand features computed at retrieval time from
    looked-up + request columns, applied after lookups in list order (later
    functions see earlier outputs), and REPLAYED identically through
    log_model -> score_batch (no train/serve skew)."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        FeatureFunction,
        FeatureLookup,
    )
    from databricks_feature_store_flight_school_spark.featurestore.scoring import (
        LinearThresholdModel,
        log_model,
    )

    feats = spark.createDataFrame(
        [Row(cid=1, monthly=50.0), Row(cid=2, monthly=80.0)]
    )
    client.create_feature_table("ff_monthly", keys="cid", df=feats)
    inp = spark.createDataFrame(
        [Row(cid=1, months=4, label=False), Row(cid=2, months=2, label=True)]
    )
    ts = client.create_training_set(
        inp,
        [
            FeatureLookup("ff_monthly", lookup_key="cid"),
            FeatureFunction("total_spend", "monthly * months"),
            FeatureFunction("log_spend", "round(ln(total_spend), 6)"),
        ],
        label="label",
    )
    got = {r["cid"]: r for r in ts.load_df().collect()}
    assert got[1]["total_spend"] == 200.0 and got[2]["total_spend"] == 160.0
    import math

    assert got[1]["log_spend"] == round(math.log(200.0), 6)
    assert ts.feature_columns() == ["monthly", "total_spend", "log_spend"]

    # roundtrip: the functions must replay inside score_batch
    model = LinearThresholdModel(
        weights={"total_spend": 1.0}, threshold=180.0
    )
    mpath = str(tmp_path / "ff_model")
    log_model(mpath, model, ts)
    scored = {
        r["cid"]: r["prediction"]
        for r in client.score_batch(mpath, inp.drop("label")).collect()
    }
    assert scored == {1: True, 2: False}  # 200 > 180 > 160


def test_delete_from_table_keys(spark, client):
    """Row-level DELETE: matching keys vanish from the new version, history
    keeps them (time travel), nonexistent keys are a committed no-op, and a
    keys_df without the key column is rejected."""
    df = _demo_df(spark)
    client.create_feature_table("del_demo", keys="customer_id", df=df)
    client.write_table("del_demo", df, mode="overwrite")
    base_version = client.get_feature_table("del_demo").current_version

    keys = spark.createDataFrame([Row(customer_id=2)])
    meta = client.delete_from_table("del_demo", keys)
    assert meta.current_version == base_version + 1
    left = {r["customer_id"] for r in client.read_table("del_demo").collect()}
    assert left == {1, 3}
    # history intact
    old = {
        r["customer_id"]
        for r in client.read_table("del_demo", version=base_version).collect()
    }
    assert old == {1, 2, 3}
    # deleting a key that does not exist still commits, data unchanged
    meta = client.delete_from_table(
        "del_demo", spark.createDataFrame([Row(customer_id=99)])
    )
    assert meta.current_version == base_version + 2
    assert {r["customer_id"] for r in client.read_table("del_demo").collect()} == {1, 3}
    # wrong keys_df shape is rejected
    with pytest.raises(ValueError, match="missing key column"):
        client.delete_from_table(
            "del_demo", spark.createDataFrame([Row(other=1)])
        )


def test_write_expectations_enforced(spark, client):
    """CHECK-constraint expectations: a violating write fails atomically
    (no version committed, per-expectation counts reported); clean writes
    pass; NULLs in a predicate count as violations."""
    df = spark.createDataFrame(
        [Row(customer_id=1, balance=10.0), Row(customer_id=2, balance=5.0)]
    )
    client.create_feature_table(
        "exp_demo", keys="customer_id", df=df,
        expectations={"non_negative": "balance >= 0", "has_id": "customer_id IS NOT NULL"},
    )
    v0 = client.get_feature_table("exp_demo").current_version

    bad = spark.createDataFrame(
        [Row(customer_id=3, balance=-1.0), Row(customer_id=4, balance=None)]
    )
    with pytest.raises(ValueError, match="non_negative"):
        client.write_table("exp_demo", bad, mode="merge")
    assert client.get_feature_table("exp_demo").current_version == v0  # nothing landed

    ok = spark.createDataFrame([Row(customer_id=3, balance=7.5)])
    client.write_table("exp_demo", ok, mode="merge")
    assert client.read_table("exp_demo").count() == 3


def test_write_expectations_merged_frame_and_bad_predicate(spark, client):
    """Expectations evaluate against the MERGED result (Delta CHECK shape):
    a schema-evolving merge source that omits a constrained column no longer
    dies with an opaque AnalysisException — the predicate resolves via the
    target schema, and because source-wins-in-full merge semantics null the
    omitted column for touched keys, the violation reports as a clear
    per-expectation ValueError.  A predicate referencing a column that exists
    nowhere also rejects with a clear ValueError naming the expectation."""
    df = spark.createDataFrame(
        [Row(customer_id=1, balance=10.0), Row(customer_id=2, balance=5.0)]
    )
    client.create_feature_table(
        "exp_evolve", keys="customer_id", df=df,
        expectations={"non_negative": "balance >= 0"},
    )
    v0 = client.get_feature_table("exp_evolve").current_version

    # evolving source WITHOUT balance: merge would null it for key 1 ->
    # checked against the merged frame and rejected with the expectation name
    evolved_bad = spark.createDataFrame([Row(customer_id=1, tier="gold")])
    with pytest.raises(ValueError, match="non_negative"):
        client.write_table("exp_evolve", evolved_bad, mode="merge")
    assert client.get_feature_table("exp_evolve").current_version == v0

    # evolving source that keeps balance valid passes; new column lands
    evolved_ok = spark.createDataFrame([Row(customer_id=1, balance=11.0, tier="gold")])
    client.write_table("exp_evolve", evolved_ok, mode="merge")
    got = {r["customer_id"]: r["tier"] for r in client.read_table("exp_evolve").collect()}
    assert got == {1: "gold", 2: None}

    # register schema-only (no initial write), with a predicate no frame can
    # resolve: the FIRST write rejects with the expectation name, not an
    # AnalysisException
    client.create_feature_table(
        "exp_badpred", keys="customer_id",
        schema=spark.createDataFrame([Row(customer_id=1, balance=1.0)]).schema,
        expectations={"ghost": "no_such_column > 0"},
    )
    with pytest.raises(ValueError, match="ghost"):
        client.write_table(
            "exp_badpred",
            spark.createDataFrame([Row(customer_id=2, balance=2.0)]),
            mode="merge",
        )


def test_mlflow_predictor_contract_without_mlflow(spark):
    """Ungated half of the MLflow adapter contract: pickling carries ONLY the
    model URI (no loaded model object crosses to workers), and predict
    without mlflow installed raises a clear RuntimeError, not ImportError
    spaghetti."""
    import pickle as _pickle

    import pandas as pd

    from databricks_feature_store_flight_school_spark.featurestore.scoring import (
        MlflowPredictor,
    )

    p = MlflowPredictor(model_uri="models:/demo/1")
    p2 = _pickle.loads(_pickle.dumps(p))
    assert p2.model_uri == "models:/demo/1"
    assert p2.__getstate__() == {"model_uri": "models:/demo/1"}

    try:
        import mlflow  # noqa: F401

        have_mlflow = True
    except ImportError:
        have_mlflow = False
    if not have_mlflow:
        with pytest.raises(RuntimeError, match="mlflow is not installed"):
            p2.predict(pd.DataFrame({"age": [1.0]}))


def test_mlflow_pyfunc_score_batch_roundtrip(spark, lookup_client, tmp_path):
    """Env-gated (arms when mlflow appears, like the protobuf/TWS test): log
    a pyfunc model with REAL mlflow, wrap it in MlflowPredictor, and score
    through the engine's log_model -> score_batch path — the reference's
    FS:342-363 interop, not just its shape."""
    mlflow = pytest.importorskip("mlflow")

    class AgeOver35(mlflow.pyfunc.PythonModel):
        def predict(self, context, model_input, params=None):
            return (model_input["age"] > 35.0).astype(bool)

    with mlflow.start_run():
        info = mlflow.pyfunc.log_model(python_model=AgeOver35(), name="m")

    from databricks_feature_store_flight_school_spark.featurestore.scoring import (
        MlflowPredictor,
    )

    inference = spark.createDataFrame(
        [Row(customer_id=1, churn=True), Row(customer_id=2, churn=False)]
    )
    ts = lookup_client.create_training_set(
        inference, [FeatureLookup("demo_f", "customer_id", ["age"])], label="churn",
    )
    mpath = str(tmp_path / "mlflow_model")
    lookup_client.log_model(mpath, MlflowPredictor(info.model_uri), ts)
    batch = spark.createDataFrame([Row(customer_id=1), Row(customer_id=2)])
    scored = lookup_client.score_batch(mpath, batch, result_type="boolean")
    out = {r["customer_id"]: r["prediction"] for r in scored.collect()}
    assert out == {1: False, 2: True}  # age 30 <= 35 < age 40


def test_delta_merge_real_roundtrip(spark, tmp_path):
    """Env-gated (arms when delta-spark appears): run merge_into_delta
    against a REAL Delta table — upsert + schema evolution through the ACID
    path that the parquet-snapshot CAS writer mirrors.  Skips with a clear
    reason when the lib or the session's Delta extensions are absent."""
    pytest.importorskip("delta")
    from databricks_feature_store_flight_school_spark.featurestore.writer import (
        merge_into_delta,
    )

    path = str(tmp_path / "delta_tbl")
    base = spark.createDataFrame(
        [Row(customer_id=1, balance=10.0), Row(customer_id=2, balance=5.0)]
    )
    try:
        base.write.format("delta").save(path)
    except Exception as exc:  # session built without Delta extensions
        pytest.skip(f"delta-spark importable but session lacks Delta support: {exc}")

    src = spark.createDataFrame([Row(customer_id=2, balance=7.0, tier="gold"),
                                 Row(customer_id=3, balance=1.0, tier="new")])
    merge_into_delta(spark, path, src, ["customer_id"])
    got = {
        r["customer_id"]: (r["balance"], r["tier"])
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {1: (10.0, None), 2: (7.0, "gold"), 3: (1.0, "new")}


def test_expectation_actions_drop_and_warn(spark, client):
    """DLT-style expectation actions: 'drop' removes violating rows from the
    written snapshot (write succeeds), 'warn' surfaces a RuntimeWarning and
    writes everything, plain-string form still fails atomically."""
    import warnings as _warnings

    df = spark.createDataFrame(
        [Row(customer_id=1, balance=10.0), Row(customer_id=2, balance=-4.0),
         Row(customer_id=3, balance=None)]
    )
    client.create_feature_table(
        "exp_actions", keys="customer_id", schema=df.schema,
        expectations={
            "non_negative": {"predicate": "balance >= 0", "action": "drop"},
            "small": {"predicate": "balance < 100", "action": "warn"},
        },
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        client.write_table("exp_actions", df, mode="merge")
    # NULL balance fails 'small' too (unknown-as-fail) -> warn fired
    assert any("small" in str(w.message) for w in caught)
    got = {r["customer_id"] for r in client.read_table("exp_actions").collect()}
    assert got == {1}  # -4.0 and NULL dropped by 'non_negative'

    with pytest.raises(ValueError, match="unknown action"):
        client.create_feature_table(
            "exp_badaction", keys="customer_id", schema=df.schema,
            expectations={"x": {"predicate": "balance >= 0", "action": "quarantine"}},
        )
        client.write_table("exp_badaction", df, mode="merge")


def test_timestamp_as_of_time_travel(spark, client):
    """timestampAsOf analog: read_table(as_of=...) resolves the newest
    version published at or before the instant from the registry's
    per-version publish history."""
    import time as _time

    client.create_feature_table(
        "tt", keys="customer_id",
        df=spark.createDataFrame([Row(customer_id=1, balance=1.0)]),
    )
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    client.write_table(
        "tt", spark.createDataFrame([Row(customer_id=1, balance=2.0)]),
        mode="merge",
    )

    v1 = client.read_table("tt", as_of=t_after_v1).collect()[0]["balance"]
    now = client.read_table("tt", as_of=_time.time()).collect()[0]["balance"]
    assert (v1, now) == (1.0, 2.0)

    with pytest.raises(ValueError, match="no version of tt existed"):
        client.read_table("tt", as_of=t_after_v1 - 3600)
    with pytest.raises(ValueError, match="not both"):
        client.read_table("tt", version=1, as_of=t_after_v1)
    # ISO string form parses as UTC
    with pytest.raises(ValueError, match="no version of tt existed"):
        client.read_table("tt", as_of="2001-01-01")


def test_restore_version(spark, client):
    """RESTORE analog: an earlier snapshot's rows come back as a NEW version
    (auditable, re-restorable), and time travel still reaches every state."""
    client.create_feature_table(
        "rst", keys="customer_id",
        df=spark.createDataFrame([Row(customer_id=1, balance=1.0)]),
    )
    client.write_table(
        "rst", spark.createDataFrame([Row(customer_id=1, balance=2.0)]),
        mode="merge",
    )
    meta = client.restore_table("rst", version=1)
    assert meta.current_version == 3
    assert client.read_table("rst").collect()[0]["balance"] == 1.0
    # all three states remain readable by version
    assert client.read_table("rst", version=2).collect()[0]["balance"] == 2.0
    assert client.read_table("rst", version=3).collect()[0]["balance"] == 1.0


def test_merge_type_widening(spark, client):
    """Schema evolution widens types through the merge (Delta autoMerge
    upcast analog): an int feature merged with a double source lands as
    double, existing rows upcast losslessly."""
    client.create_feature_table(
        "widen", keys="customer_id",
        df=spark.createDataFrame([Row(customer_id=1, x=1)]),  # x: bigint
    )
    client.write_table(
        "widen", spark.createDataFrame([Row(customer_id=2, x=2.5)]),
        mode="merge",
    )
    out = client.read_table("widen")
    assert dict(out.dtypes)["x"] == "double"
    got = {r["customer_id"]: r["x"] for r in out.collect()}
    assert got == {1: 1.0, 2: 2.5}


def test_read_vacuumed_version_clear_error(spark, client):
    from databricks_feature_store_flight_school_spark.featurestore.writer import (
        vacuum_snapshots,
    )

    client.create_feature_table(
        "vac2", keys="customer_id",
        df=spark.createDataFrame([Row(customer_id=1, x=1)]),
    )
    for v in (2.0, 3.0):
        client.write_table(
            "vac2", spark.createDataFrame([Row(customer_id=1, x=v)]), mode="merge"
        )
    meta = client.get_feature_table("vac2")
    removed = vacuum_snapshots(client.registry, meta, keep_last=1)
    assert removed == [1, 2]
    with pytest.raises(ValueError, match="retired by"):
        client.read_table("vac2", version=1)
    assert client.read_table("vac2").count() == 1  # current still fine


def test_table_changes_insert_update_delete_and_unchanged_dropped(spark, client):
    """Delta-CDF analog: diff two versions, classify per key, drop unchanged."""
    base = spark.createDataFrame(
        [Row(k=1, v="a", n=1), Row(k=2, v="b", n=2), Row(k=3, v="c", n=3)]
    )
    client.create_feature_table("cdf", keys="k", df=base)
    client.write_table(
        "cdf",
        spark.createDataFrame([Row(k=2, v="B", n=2), Row(k=4, v="d", n=4)]),
        mode="merge",
    )
    client.delete_from_table("cdf", spark.createDataFrame([Row(k=3)]))

    rows = {r["k"]: r for r in client.table_changes("cdf", 1).collect()}
    assert set(rows) == {2, 3, 4}  # k=1 unchanged -> dropped
    assert rows[2]["_change_type"] == "update"
    assert rows[2]["old_v"] == "b" and rows[2]["new_v"] == "B"
    assert rows[3]["_change_type"] == "delete"
    assert rows[3]["old_v"] == "c" and rows[3]["new_v"] is None
    assert rows[4]["_change_type"] == "insert"
    assert rows[4]["old_v"] is None and rows[4]["new_v"] == "d"


def test_table_changes_schema_evolution_old_column_null(spark, client):
    """A column the older snapshot lacked shows old_<c> = NULL, and a
    bounded to_version pins the diff window (v1 -> v2, ignoring v3)."""
    client.create_feature_table(
        "cdf2", keys="k", df=spark.createDataFrame([Row(k=1, v="a")])
    )
    client.write_table(
        "cdf2", spark.createDataFrame([Row(k=1, v="a", extra=7)]), mode="merge"
    )
    client.write_table(
        "cdf2", spark.createDataFrame([Row(k=1, v="z", extra=8)]), mode="merge"
    )

    chg = client.table_changes("cdf2", 1, 2).collect()
    assert len(chg) == 1 and chg[0]["_change_type"] == "update"
    assert chg[0]["old_extra"] is None and chg[0]["new_extra"] == 7
    # null-safe compare: v unchanged between v1 and v2, extra NULL -> 7 differs
    assert chg[0]["old_v"] == "a" and chg[0]["new_v"] == "a"


def test_table_changes_old_image_of_new_column_is_typed(spark, client):
    """For a column the older snapshot lacks, old_<c> is a NULL of the
    newer column's type, not a NULL of type void, so a consumer can union
    or compare the two images without a cast."""
    client.create_feature_table(
        "cdf3", keys="k", df=spark.createDataFrame([Row(k=1, a=1)])
    )
    client.write_table(
        "cdf3",
        spark.createDataFrame([Row(k=1, a=1, b="x"), Row(k=2, a=2, b="y")]),
        mode="merge",
    )
    chg = client.table_changes("cdf3", 1)
    assert chg.schema["old_b"].dataType == chg.schema["new_b"].dataType
    assert chg.schema["old_b"].dataType == StringType()
    got = {r["k"]: (r["_change_type"], r["old_b"], r["new_b"]) for r in chg.collect()}
    assert got == {1: ("update", None, "x"), 2: ("insert", None, "y")}


def test_change_window_plans_quote_identifiers(spark, client):
    """Key, group and measure names holding a space, a dot and a backtick
    survive the SQL-string plans: table_changes and an incremental
    count/sum/max view refresh (including a delete of a group's current
    max) both equal a from-scratch recompute."""
    key, grp, amt = "cust id.`k", "pay.`m ethod", "amt .`x"
    schema = StructType([
        StructField(key, IntegerType()), StructField(grp, StringType()),
        StructField(amt, DoubleType()),
    ])
    rows = {i: (f"g{i % 3}", float(i)) for i in range(10)}
    client.create_feature_table(
        "odd", keys=key,
        df=spark.createDataFrame([(k, *v) for k, v in rows.items()], schema),
    )
    client.create_materialized_view(
        "odd_mv", "odd", grp,
        {"n": ("count", "*"), "total": ("sum", amt), "top": ("max", amt)},
    )
    client.refresh_materialized_view("odd_mv")
    # update moving key 1 to g2, insert key 20, delete key 9 (g0's max)
    client.write_table(
        "odd", spark.createDataFrame([(1, "g2", 50.0), (20, "g0", 3.0)], schema)
    )
    client.delete_from_table(
        "odd", spark.createDataFrame([(9,)], StructType([schema[key]]))
    )

    chg = {
        r[key]: (r["_change_type"], r[f"old_{grp}"], r[f"new_{amt}"])
        for r in client.table_changes("odd", 1).collect()
    }
    assert chg == {
        1: ("update", "g1", 50.0), 9: ("delete", "g0", None),
        20: ("insert", None, 3.0),
    }

    client.refresh_materialized_view("odd_mv")
    got = {
        r[grp]: (r["n"], r["total"], r["top"])
        for r in client.read_materialized_view("odd_mv").collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in client.read_table("odd").groupBy(F.col(quote(grp)))
        .agg(F.count(F.lit(1)), F.sum(F.col(quote(amt))), F.max(F.col(quote(amt))))
        .collect()
    }
    assert got == want == {
        "g0": (4, 12.0, 6.0), "g1": (2, 11.0, 7.0), "g2": (4, 65.0, 50.0),
    }


def test_lookups_quote_identifiers(spark, client):
    """A lookup key holding a dot and a feature name holding a space
    survive both retrieval paths: the plain left join and the
    point-in-time as-of join."""
    import datetime as dt

    d = dt.datetime
    key, feat, ts = "cust.id", "f x", "obs.at"
    client.create_feature_table(
        "plain_f", keys=key,
        df=spark.createDataFrame([(1, 10.0), (2, 20.0)], f"`{key}` int, `{feat}` double"),
    )
    client.create_feature_table(
        "pit_f", keys=key, timestamp_keys=ts,
        df=spark.createDataFrame(
            [(1, d(2024, 1, 1), 1.0), (1, d(2024, 2, 1), 2.0)],
            f"`{key}` int, `{ts}` timestamp, `{feat}` double",
        ),
    )
    inputs = spark.createDataFrame(
        [(1, d(2024, 1, 15)), (3, d(2024, 3, 1))], f"`{key}` int, `ev.ts` timestamp"
    )
    plain = client.create_training_set(
        inputs, [FeatureLookup("plain_f", key)], label=None,
        exclude_columns=["ev.ts"],
    ).load_df()
    assert plain.columns == [key, feat]
    assert sorted(tuple(r) for r in plain.collect()) == [(1, 10.0), (3, None)]
    pit = client.create_training_set(
        inputs, [FeatureLookup("pit_f", key, timestamp_lookup_key="ev.ts")],
        label=None,
    ).load_df()
    assert pit.columns == [key, "ev.ts", feat]
    assert sorted((r[0], r[2]) for r in pit.collect()) == [(1, 1.0), (3, None)]


def test_consume_changes_offsets_and_redelivery(spark, client):
    """Change-feed consumption: bootstrap delivers the snapshot as inserts,
    an UNcommitted consume re-delivers (at-least-once), a committed one
    advances, and caught-up consumers get None."""
    client.create_feature_table(
        "feed", keys="k", df=spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    )

    first = client.consume_changes("feed", "sink")
    assert first is not None
    changes, version, commit = first
    got = {r["k"]: r for r in changes.collect()}
    assert version == 1 and set(got) == {1, 2}
    assert all(r["_change_type"] == "insert" and r["old_v"] is None for r in got.values())

    # not committed -> same window re-delivered
    again, version2, commit2 = client.consume_changes("feed", "sink")
    assert version2 == 1 and again.count() == 2
    commit2()
    assert client.consume_changes("feed", "sink") is None

    # a second consumer has its own offset
    assert client.consume_changes("feed", "other")[1] == 1

    # new version -> only the diff is delivered
    client.write_table("feed", spark.createDataFrame([Row(k=2, v="B")]), mode="merge")
    changes3, version3, commit3 = client.consume_changes("feed", "sink")
    rows3 = changes3.collect()
    assert version3 == 2 and len(rows3) == 1
    assert rows3[0]["k"] == 2 and rows3[0]["_change_type"] == "update"
    commit3()
    assert client.consume_changes("feed", "sink") is None


def test_materialized_view_validation_and_exactly_once(spark, client):
    """MV facade contract: spec validation rejects unknown fns, key-column
    grouping, and bare '*' outside count; the applied-source-version marker
    flips atomically with the state publish (same registry write), a
    caught-up refresh is a version no-op, and re-applying the same window is
    impossible because the offset rides the state snapshot itself."""
    client.create_feature_table(
        "src", keys="id",
        df=spark.createDataFrame(
            [Row(id=i, grp=i % 2, val=float(i)) for i in range(6)]
        ),
    )
    with pytest.raises(ValueError, match="unknown fn"):
        client.create_materialized_view("v1", "src", "grp", {"x": ("median", "val")})
    with pytest.raises(ValueError, match="primary key"):
        client.create_materialized_view("v1", "src", "id", {"x": ("sum", "val")})
    with pytest.raises(ValueError, match="only valid with count"):
        client.create_materialized_view("v1", "src", "grp", {"x": ("sum", "*")})
    with pytest.raises(ValueError, match="not in source"):
        client.create_materialized_view("v1", "src", "grp", {"x": ("sum", "nope")})

    client.create_materialized_view(
        "v1", "src", "grp", {"total": ("sum", "val"), "n": ("count", "*")}
    )
    with pytest.raises(ValueError, match="not a materialized view"):
        client.read_materialized_view("src")

    client.refresh_materialized_view("v1")
    meta = client.get_feature_table("v1")
    # marker and state committed together: same registry document
    assert meta.properties["mv_applied_version"] == 1
    assert meta.current_version == 1

    # caught-up refresh: no new version published
    client.refresh_materialized_view("v1")
    assert client.get_feature_table("v1").current_version == 1

    # two source commits, one refresh: single window (1, 3] applied once
    client.write_table("src", spark.createDataFrame([Row(id=0, grp=1, val=10.0)]))
    client.write_table("src", spark.createDataFrame([Row(id=7, grp=0, val=3.0)]))
    client.refresh_materialized_view("v1")
    meta = client.get_feature_table("v1")
    assert meta.properties["mv_applied_version"] == 3
    got = {r["grp"]: (r["total"], r["n"])
           for r in client.read_materialized_view("v1").collect()}
    assert got == {0: (2.0 + 4.0 + 3.0, 3), 1: (1.0 + 3.0 + 5.0 + 10.0, 4)}


def test_materialized_view_over_join(spark, client):
    """Join materialized view (dim=/join_on=): per-nation averages over
    orders ⨝ custdim maintained from BOTH change feeds — dimension
    re-assignment moves every fact of that customer, two-sided deletes
    retire contributions, both applied versions flip atomically with the
    state, and a caught-up refresh publishes nothing."""
    import math

    client.create_feature_table(
        "jmv_orders", keys="oid",
        df=spark.createDataFrame(
            [Row(oid=i, cust=i % 4, amount=float(10 * (i + 1))) for i in range(8)]
        ),
    )
    client.create_feature_table(
        "jmv_cust", keys="cust",
        df=spark.createDataFrame(
            [Row(cust=c, nation=c % 2) for c in range(4)]
        ),
    )
    with pytest.raises(ValueError, match="requires join_on"):
        client.create_materialized_view(
            "jv", "jmv_orders", "nation", {"t": ("sum", "amount")}, dim="jmv_cust"
        )
    with pytest.raises(ValueError, match="exactly the primary key"):
        client.create_materialized_view(
            "jv", "jmv_orders", "nation", {"t": ("sum", "amount")},
            dim="jmv_cust", join_on="nation",
        )
    client.create_materialized_view(
        "jv", "jmv_orders", "nation",
        {"total": ("sum", "amount"), "n": ("count", "*"),
         "mean": ("avg", "amount"), "sd": ("stddev_samp", "amount"),
         "lo": ("min", "amount"), "hi": ("max", "amount")},
        dim="jmv_cust", join_on="cust",
    )

    def check():
        client.refresh_materialized_view("jv")
        got = {
            r["nation"]: (r["total"], r["n"], r["mean"], r["sd"],
                          r["lo"], r["hi"])
            for r in client.read_materialized_view("jv").collect()
        }
        want = {
            r["nation"]: (r["total"], r["n"], r["mean"], r["sd"],
                          r["lo"], r["hi"])
            for r in client.read_table("jmv_orders")
            .join(client.read_table("jmv_cust"), on="cust")
            .groupBy("nation")
            .agg(
                F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"),
                F.avg("amount").alias("mean"), F.stddev_samp("amount").alias("sd"),
                F.min("amount").alias("lo"), F.max("amount").alias("hi"),
            ).collect()
        }
        assert set(got) == set(want), (got, want)
        for k in got:
            for a, b in zip(got[k], want[k]):
                if a is None or b is None:
                    assert a == b, (k, got[k], want[k])
                else:
                    assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), (
                        k, got[k], want[k])

    check()
    meta = client.get_feature_table("jv")
    assert meta.properties["mv_applied_version"] == 1
    assert meta.properties["mv_applied_dim_version"] == 1

    # both sides change in one window: re-price order 0, move cust 1 to the
    # other nation (its two orders follow), insert order 8
    client.write_table("jmv_orders", spark.createDataFrame(
        [Row(oid=0, cust=0, amount=99.0), Row(oid=8, cust=3, amount=5.0)]
    ))
    client.write_table("jmv_cust", spark.createDataFrame([Row(cust=1, nation=0)]))
    check()

    # two-sided deletes: drop order 2 and the whole customer 3
    client.delete_from_table("jmv_orders", spark.createDataFrame([Row(oid=2)]))
    client.delete_from_table("jmv_cust", spark.createDataFrame([Row(cust=3)]))
    check()

    # caught-up: no new version
    v = client.get_feature_table("jv").current_version
    client.refresh_materialized_view("jv")
    assert client.get_feature_table("jv").current_version == v


def test_materialized_view_refresh_crash_injection(spark, client):
    """Exactly-once under a crash in the sharpest window: the state snapshot
    is already STAGED on disk but the registry CAS (which flips the state
    version and the applied-offset marker together) never ran.  The claim
    (refresh_materialized_view docstring): a crash before the publish
    re-applies the identical window onto the OLD state — no double-applied
    window, ever.  Injected for both the plain and the join view by making
    ``registry.publish_version`` raise once, which fires strictly after
    ``writer.parquet(staging)``."""
    import os

    client.create_feature_table(
        "csrc", keys="id",
        df=spark.createDataFrame(
            [Row(id=i, grp=i % 2, val=float(i)) for i in range(6)]
        ),
    )
    client.create_feature_table(
        "cdim", keys="grp",
        df=spark.createDataFrame([Row(grp=0, region=0), Row(grp=1, region=0)]),
    )
    client.create_materialized_view(
        "cmv", "csrc", "grp",
        {"total": ("sum", "val"), "n": ("count", "*"),
         "lo": ("min", "val"), "hi": ("max", "val")},
    )
    client.create_materialized_view(
        "cjv", "csrc", "region",
        {"total": ("sum", "val"), "n": ("count", "*"), "hi": ("max", "val")},
        dim="cdim", join_on="grp",
    )
    client.refresh_materialized_view("cmv")
    client.refresh_materialized_view("cjv")

    def crash_refresh(view):
        """Run a refresh whose registry CAS raises; assert nothing became
        visible (no new version, offsets unmoved) though the staged state
        snapshot was already written."""
        before = client.get_feature_table(view)
        orig = client.registry.publish_version

        def crashing(*a, **k):
            raise RuntimeError("injected crash: state staged, CAS not run")

        client.registry.publish_version = crashing
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                client.refresh_materialized_view(view)
        finally:
            client.registry.publish_version = orig
        staged = [
            d for d in os.listdir(client.registry.table_dir(view))
            if d.startswith(".staging-")
        ]
        assert staged, "crash must land AFTER the state snapshot write"
        after = client.get_feature_table(view)
        assert after.current_version == before.current_version
        assert after.properties.get("mv_applied_version") == before.properties.get(
            "mv_applied_version"
        )
        assert after.properties.get("mv_applied_dim_version") == before.properties.get(
            "mv_applied_dim_version"
        )

    def check_plain():
        got = {
            r["grp"]: (r["total"], r["n"], r["lo"], r["hi"])
            for r in client.read_materialized_view("cmv").collect()
        }
        want = {
            r["grp"]: (r["total"], r["n"], r["lo"], r["hi"])
            for r in client.read_table("csrc").groupBy("grp").agg(
                F.sum("val").alias("total"), F.count(F.lit(1)).alias("n"),
                F.min("val").alias("lo"), F.max("val").alias("hi"),
            ).collect()
        }
        assert got == want

    def check_join():
        got = {
            r["region"]: (r["total"], r["n"], r["hi"])
            for r in client.read_materialized_view("cjv").collect()
        }
        want = {
            r["region"]: (r["total"], r["n"], r["hi"])
            for r in client.read_table("csrc")
            .join(client.read_table("cdim"), on="grp")
            .groupBy("region")
            .agg(
                F.sum("val").alias("total"), F.count(F.lit(1)).alias("n"),
                F.max("val").alias("hi"),
            ).collect()
        }
        assert got == want

    # window with an update (group move), an insert, and a delete — the mix
    # whose double-application is detectable in every aggregate
    client.write_table("csrc", spark.createDataFrame(
        [Row(id=0, grp=1, val=100.0), Row(id=9, grp=0, val=7.0)]
    ))
    client.delete_from_table("csrc", spark.createDataFrame([Row(id=5)]))
    crash_refresh("cmv")
    # recovery: plain re-run applies the SAME window once onto the old state
    client.refresh_materialized_view("cmv")
    check_plain()
    src_v = client.get_feature_table("csrc").current_version
    assert client.get_feature_table("cmv").properties["mv_applied_version"] == src_v

    # join view: crash while BOTH feeds have pending windows (dim move too)
    client.write_table("cdim", spark.createDataFrame([Row(grp=1, region=1)]))
    client.write_table("csrc", spark.createDataFrame([Row(id=10, grp=1, val=2.0)]))
    crash_refresh("cjv")
    client.refresh_materialized_view("cjv")
    check_join()
    meta = client.get_feature_table("cjv")
    assert meta.properties["mv_applied_version"] == client.get_feature_table(
        "csrc"
    ).current_version
    assert meta.properties["mv_applied_dim_version"] == client.get_feature_table(
        "cdim"
    ).current_version

    # and the recovered state keeps maintaining: one more window each side
    client.delete_from_table("csrc", spark.createDataFrame([Row(id=0)]))
    client.refresh_materialized_view("cmv")
    client.refresh_materialized_view("cjv")
    check_plain()
    check_join()


def test_materialized_view_refresh_auto_vacuum(spark, client):
    """vacuum_keep on refresh retires old state snapshots without touching
    the exactly-once marker: after several refreshes only keep_last version
    dirs remain, the current state still reads, and a retired version fails
    with the clear vacuum error."""
    import os

    client.create_feature_table(
        "vsrc", keys="id",
        df=spark.createDataFrame([Row(id=1, g=0, v=1.0)]),
    )
    client.create_materialized_view("vmv", "vsrc", "g", {"t": ("sum", "v")})
    for i in range(2, 6):
        client.write_table("vsrc", spark.createDataFrame([Row(id=i, g=0, v=float(i))]))
        client.refresh_materialized_view("vmv", vacuum_keep=2)
    meta = client.get_feature_table("vmv")
    vdirs = [
        d for d in os.listdir(client.registry.table_dir("vmv"))
        if d.startswith("v")
    ]
    assert len(vdirs) == 2, vdirs
    got = {r["g"]: r["t"] for r in client.read_materialized_view("vmv").collect()}
    assert got == {0: 1.0 + 2 + 3 + 4 + 5}
    assert meta.properties["mv_applied_version"] == 5
    with pytest.raises(ValueError, match="vacuum"):
        client.read_table("vmv", version=1)


# -- dedup-index lineage (round 9: the auditable ingestion log) --------------

def test_dedup_index_as_feature_table_lineage(spark, client):
    """The persisted dedup index rides the feature-store control plane
    (VERDICT r8 next-round #6): register build_dedup_index's output as a
    feature table keyed by doc_id, merge each increment's accepted index
    rows, and the CAS-versioned history becomes an auditable ingestion log —
    table_changes(v_n, v_n+1) lists exactly which documents increment n+1
    admitted (all inserts, never updates), time travel replays any past
    corpus state, and a replayed increment admits nothing (no new version
    needed)."""
    from databricks_feature_store_flight_school_spark.operators import (
        build_dedup_index,
        incremental_dedup,
    )

    base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(8))
    other = " ".join(f"delta{i} eps{i} phi{i}" for i in range(8))
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    index = build_dedup_index(corpus, "doc_id", "text")
    meta = client.create_feature_table(
        "dedup_index", keys="doc_id", df=index,
        description="incremental-dedup corpus index (content_hash + MinHash sig)",
    )
    v0 = meta.current_version

    fresh1 = " ".join(f"zeta{i} eta{i} theta{i}" for i in range(8))
    inc1 = spark.createDataFrame(
        [(10, base), (11, fresh1)], "doc_id long, text string"  # replay + novel
    )
    acc1, acc1_idx = incremental_dedup(
        inc1, client.read_table("dedup_index"), "doc_id", "text", threshold=0.7
    )
    assert {r["doc_id"] for r in acc1.collect()} == {11}
    meta = client.write_table("dedup_index", acc1_idx, mode="merge")
    v1 = meta.current_version
    assert v1 == v0 + 1

    # the change feed IS the admission log for increment 1
    log1 = client.table_changes("dedup_index", v0, v1).collect()
    assert {(r["doc_id"], r["_change_type"]) for r in log1} == {(11, "insert")}

    # increment 2: replay of increment 1's doc + a perturbed near-dup of the
    # original corpus + one genuinely new doc
    fresh2 = " ".join(f"mu{i} nu{i} xi{i}" for i in range(8))
    inc2 = spark.createDataFrame(
        [(20, fresh1), (21, base + " zq wv"), (22, fresh2)],
        "doc_id long, text string",
    )
    acc2, acc2_idx = incremental_dedup(
        inc2, client.read_table("dedup_index"), "doc_id", "text", threshold=0.7
    )
    assert {r["doc_id"] for r in acc2.collect()} == {22}
    meta = client.write_table("dedup_index", acc2_idx, mode="merge")
    v2 = meta.current_version
    log2 = client.table_changes("dedup_index", v1, v2).collect()
    assert {(r["doc_id"], r["_change_type"]) for r in log2} == {(22, "insert")}

    # replayability: time travel to v1 reproduces the exact index increment 2
    # was deduped against
    as_of_v1 = client.read_table("dedup_index", version=v1)
    assert {r["doc_id"] for r in as_of_v1.collect()} == {1, 2, 11}
    replay, _ = incremental_dedup(inc2, as_of_v1, "doc_id", "text", threshold=0.7)
    assert {r["doc_id"] for r in replay.collect()} == {22}

    # idempotent re-ingest: against the CURRENT index, increment 2 admits
    # nothing — no write, no new version, the log stays truthful
    again, again_idx = incremental_dedup(
        inc2, client.read_table("dedup_index"), "doc_id", "text", threshold=0.7
    )
    assert again.count() == 0 and again_idx.count() == 0

    # the parameter contract survives the feature-store round-trip: a caller
    # with different num_hashes is rejected by the stored columns
    acc_bad, _ = incremental_dedup(
        inc2, client.read_table("dedup_index"), "doc_id", "text", num_hashes=32
    )
    with pytest.raises(Exception, match="parameter mismatch"):
        acc_bad.collect()
