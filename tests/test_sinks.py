"""Sink-side operator coverage (SURVEY.md §2.1 S5-S7, S10): temp views,
CTAS, saveAsTable overwrite semantics, partitioned path writes with
partition pruning on read-back."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_feature_store_flight_school_spark.sources import load_table


def test_temp_view_sink_and_sql_roundtrip(spark, sf_dir):
    """S5: createOrReplaceTempView registers a PLAN (lazy), queryable via
    SQL, replaceable in place."""
    load_table(spark, sf_dir, "region").createOrReplaceTempView("vw_region")
    assert spark.sql("SELECT count(*) AS n FROM vw_region").collect()[0]["n"] == 5
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("vw_region")
    assert spark.sql("SELECT count(*) AS n FROM vw_region").collect()[0]["n"] == 25
    spark.catalog.dropTempView("vw_region")


def test_ctas_sink(spark, sf_dir):
    """S6: CREATE TABLE AS SELECT through the session catalog."""
    spark.sql("DROP TABLE IF EXISTS ctas_nations")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("vw_nation_src")
    try:
        spark.sql(
            "CREATE TABLE ctas_nations USING PARQUET AS "
            "SELECT n_regionkey, count(*) AS n FROM vw_nation_src GROUP BY n_regionkey"
        )
        got = {r["n_regionkey"]: r["n"] for r in spark.table("ctas_nations").collect()}
        assert sum(got.values()) == 25 and len(got) == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS ctas_nations")
        spark.catalog.dropTempView("vw_nation_src")


def test_save_as_table_overwrite(spark, sf_dir):
    """S7: saveAsTable mode=overwrite replaces both data and schema."""
    spark.sql("DROP TABLE IF EXISTS sat_regions")
    try:
        load_table(spark, sf_dir, "region").write.format("parquet").mode(
            "overwrite"
        ).saveAsTable("sat_regions")
        assert spark.table("sat_regions").count() == 5
        load_table(spark, sf_dir, "region").select("r_name").limit(2).write.format(
            "parquet"
        ).mode("overwrite").saveAsTable("sat_regions")
        after = spark.table("sat_regions")
        assert after.columns == ["r_name"] and after.count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS sat_regions")


def test_partitioned_path_write_prunes(spark, sf_dir, tmp_path):
    """S10 + partition layout: partitionBy on write, and a partition filter
    on read-back scans only the matching directory (PartitionFilters)."""
    out = str(tmp_path / "orders_by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    want = (
        load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").count()
    )
    assert back.count() == want
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan


def test_publish_table_jdbc_roundtrip(spark, tmp_path):
    """S9 online publish, VERIFIED against a real RDBMS: publish a feature
    table over JDBC to embedded Derby (the in-JVM stand-in for the
    reference's AmazonRdsMySqlSpec target, Sean_Original.py:374-387), read it
    back over JDBC, and compare rows.  Re-publish must replace (the online
    mirror tracks the offline table)."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        FeatureStoreClient,
    )

    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [
            Row(customer_id=1, churn_risk=0.25, segment="consumer", senior=True),
            Row(customer_id=2, churn_risk=0.75, segment="corporate", senior=False),
        ]
    )
    fs.create_feature_table("online_feat", keys="customer_id", df=df)

    url = f"jdbc:derby:{tmp_path}/online_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    fs.publish_table("online_feat", url, properties=props)

    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "online_feat").options(**props).load()
    )
    key = lambda r: r["customer_id"]  # noqa: E731
    assert sorted(back.collect(), key=key) == sorted(df.collect(), key=key)

    # offline update -> re-publish replaces the online mirror
    fs.write_table(
        "online_feat",
        spark.createDataFrame([Row(customer_id=1, churn_risk=0.9)]),
        mode="merge",
    )
    fs.publish_table("online_feat", url, properties=props)
    back2 = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "online_feat").options(**props).load()
    )
    got = {r["customer_id"]: r["churn_risk"] for r in back2.collect()}
    assert got == {1: 0.9, 2: 0.75}


def test_multi_format_roundtrip(spark, sf_dir, tmp_path):
    """sources/io.py: every Spark-native format round-trips values and — for
    the self-describing columnar ones — the exact schema."""
    from databricks_feature_store_flight_school_spark.sources.io import (
        read_files,
        write_files,
    )

    src = load_table(spark, sf_dir, "nation")
    want = sorted(r["n_name"] for r in src.collect())

    for fmt in ("parquet", "orc"):
        p = str(tmp_path / fmt)
        write_files(src, p, fmt=fmt)
        back = read_files(spark, p, fmt=fmt)
        assert back.schema == src.schema, fmt  # columnar formats carry schema
        assert sorted(r["n_name"] for r in back.collect()) == want, fmt

    # CSV: declared schema (scale path) must round-trip values and types
    p = str(tmp_path / "csv")
    write_files(src, p, fmt="csv")
    back = read_files(spark, p, fmt="csv", schema=src.schema)
    assert back.schema == src.schema
    assert sorted(r["n_name"] for r in back.collect()) == want
    # CSV: reference-shaped inferring read (SU:206) recovers the values
    inferred = read_files(spark, p, fmt="csv", infer=True)
    assert sorted(r["n_name"] for r in inferred.collect()) == want

    # JSON: schema-less read must be an explicit opt-in (it costs a scan)
    p = str(tmp_path / "json")
    write_files(src, p, fmt="json")
    back = read_files(spark, p, fmt="json", schema=src.schema)
    assert sorted(r["n_name"] for r in back.collect()) == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="infer=True"):
        read_files(spark, p, fmt="json")

    # text: one string column named value
    p = str(tmp_path / "text")
    write_files(src.select(F.col("n_name").alias("value")), p, fmt="text")
    back = read_files(spark, p, fmt="text")
    assert sorted(r["value"] for r in back.collect()) == want


def test_orc_filter_pushdown(spark, sf_dir, tmp_path):
    """ORC scans take Catalyst filter pushdown exactly like parquet: the
    predicate must appear as a pushed filter in the physical scan."""
    from databricks_feature_store_flight_school_spark.sources.io import (
        read_files,
        write_files,
    )

    p = str(tmp_path / "orc_push")
    write_files(load_table(spark, sf_dir, "orders"), p, fmt="orc")
    df = read_files(spark, p, fmt="orc").where(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_totalprice"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:200]


def test_partitioned_write_prunes_across_formats(spark, sf_dir, tmp_path):
    """partition_by produces the col=value layout whose pruning works the
    same for parquet and ORC: reading one partition must not scan the rest."""
    from databricks_feature_store_flight_school_spark.sources.io import (
        read_files,
        write_files,
    )

    src = load_table(spark, sf_dir, "orders")
    for fmt in ("parquet", "orc"):
        p = str(tmp_path / f"{fmt}_parts")
        write_files(src, p, fmt=fmt, partition_by=["o_orderstatus"])
        one = read_files(spark, p, fmt=fmt).where(F.col("o_orderstatus") == "F")
        want = src.where(F.col("o_orderstatus") == "F").count()
        assert one.count() == want
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "o_orderstatus=F" in plan or "PartitionFilters" in plan, fmt


def test_python_datasource_jsonl_docs(spark, tmp_path):
    """Custom Python DataSource (Spark 4 V2 API): partition-per-file reads,
    schema-first, and EqualTo('source') pushdown prunes whole files before
    tasks launch (observed via the partition count)."""
    import json

    from databricks_feature_store_flight_school_spark.sources.pydatasource import (
        JsonlDocsDataSource,
        JsonlDocsReader,
    )

    d = tmp_path / "docs"
    d.mkdir()
    for src, ids in {"web": [1, 2], "books": [3], "code": [4, 5, 6]}.items():
        with open(d / f"{src}.jsonl", "w") as fh:
            for i in ids:
                fh.write(json.dumps({"doc_id": i, "text": f"doc {i} from {src}"}) + "\n")

    spark.dataSource.register(JsonlDocsDataSource)
    df = spark.read.format("jsonl_docs").option("path", str(d)).load()
    assert df.schema.simpleString() == "struct<doc_id:bigint,text:string,source:string>"
    rows = {r["doc_id"]: r["source"] for r in df.collect()}
    assert rows == {1: "web", 2: "web", 3: "books", 4: "code", 5: "code", 6: "code"}

    # pushdown: a source-equality filter must prune to ONE file partition
    reader = JsonlDocsReader({"path": str(d)})
    from pyspark.sql.datasource import EqualTo

    rest = list(reader.pushFilters([EqualTo(("source",), "code")]))
    assert rest == []  # fully consumed
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("code.jsonl")

    got = df.where(df.source == "code").count()
    assert got == 3


def test_python_datasource_conjunction_filters(tmp_path):
    """pushFilters receives an AND conjunction: two different EqualTo('source')
    values must INTERSECT (keep no files), not union."""
    import json

    from pyspark.sql.datasource import EqualTo

    from databricks_feature_store_flight_school_spark.sources.pydatasource import (
        JsonlDocsReader,
    )

    d = tmp_path / "docs"
    d.mkdir()
    for src in ("web", "books"):
        with open(d / f"{src}.jsonl", "w") as fh:
            fh.write(json.dumps({"doc_id": 1, "text": "t"}) + "\n")

    reader = JsonlDocsReader({"path": str(d)})
    rest = list(
        reader.pushFilters([EqualTo(("source",), "web"), EqualTo(("source",), "books")])
    )
    assert rest == []
    assert reader.partitions() == []  # a AND b on one column -> empty

    # same value twice is still that one file
    reader2 = JsonlDocsReader({"path": str(d)})
    list(reader2.pushFilters([EqualTo(("source",), "web"), EqualTo(("source",), "web")]))
    parts = reader2.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("web.jsonl")


def test_python_datasource_write_roundtrip(spark, tmp_path):
    """Custom Python data SINK (Spark 4 V2 writer API): two-phase commit
    (stage per task -> rename on commit), overwrite mode, and roundtrip
    through the matching reader — including record-level source filtering on
    the multi-source part files the writer produces."""
    from databricks_feature_store_flight_school_spark.sources.pydatasource import (
        JsonlDocsDataSource,
    )

    spark.dataSource.register(JsonlDocsDataSource)
    d = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(1, "alpha", "web"), (2, "beta", "web"), (3, "gamma", "books")],
        "doc_id bigint, text string, source string",
    ).repartition(2)
    df.write.format("jsonl_docs").option("path", d).mode("append").save()

    back = spark.read.format("jsonl_docs").option("path", d).load()
    got = {(r["doc_id"], r["text"], r["source"]) for r in back.collect()}
    assert got == {(1, "alpha", "web"), (2, "beta", "web"), (3, "gamma", "books")}

    # consumed source filter must still be honoured on part files
    assert back.where(back.source == "web").count() == 2
    assert back.where(back.source == "nope").count() == 0

    # overwrite replaces previous contents
    df2 = spark.createDataFrame(
        [(9, "only", "code")], "doc_id bigint, text string, source string"
    )
    df2.write.format("jsonl_docs").option("path", d).mode("overwrite").save()
    got2 = {(r["doc_id"], r["source"]) for r in
            spark.read.format("jsonl_docs").option("path", d).load().collect()}
    assert got2 == {(9, "code")}

    # schema contract enforced
    import pytest as _pytest

    bad = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with _pytest.raises(Exception, match="jsonl_docs writes"):
        bad.write.format("jsonl_docs").option("path", d).mode("append").save()


def test_python_datasource_streaming_tail(spark, tmp_path):
    """Custom Python STREAMING source (Spark 4 SimpleDataSourceStreamReader):
    readStream tails the directory, each new file arrives exactly once
    across micro-batches, and the checkpointed offsets survive a query
    restart (files landed while stopped are picked up, already-consumed
    files are not re-emitted)."""
    import json as _json

    from databricks_feature_store_flight_school_spark.sources.pydatasource import (
        JsonlDocsDataSource,
    )

    spark.dataSource.register(JsonlDocsDataSource)
    src = tmp_path / "stream_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out_tbl")

    def land(name, ids):
        with open(src / name, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"doc_id": i, "text": f"d{i}", "source": "web"}) + "\n")

    land("a.jsonl", [1, 2])

    def run_once():
        q = (
            spark.readStream.format("jsonl_docs")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}

    # new file lands while the query is DOWN; restart resumes from offsets
    land("b.jsonl", [3])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    assert len(rows) == 3  # no duplicates: a.jsonl not re-read


def test_stream_reader_offset_replay_unit(tmp_path):
    """readBetweenOffsets must deterministically replay exactly the files in
    (start, end] — the contract checkpoint recovery depends on — and read()
    must advance the offset by the newly-landed files only."""
    import json as _json

    from databricks_feature_store_flight_school_spark.sources.pydatasource import (
        JsonlDocsStreamReader,
    )

    d = tmp_path / "s"
    d.mkdir()

    def land(name, ids):
        with open(d / name, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"doc_id": i, "text": "t", "source": "web"}) + "\n")

    r = JsonlDocsStreamReader({"path": str(d)})
    o0 = r.initialOffset()
    land("a.jsonl", [1])
    rows1, o1 = r.read(o0)
    assert [t[0] for t in rows1] == [1] and o1 == {"seen": ["a.jsonl"]}

    land("b.jsonl", [2, 3])
    rows2, o2 = r.read(o1)
    assert [t[0] for t in rows2] == [2, 3]
    assert o2 == {"seen": ["a.jsonl", "b.jsonl"]}

    # replay of (o0, o1] and (o1, o2] hits exactly those files
    assert [t[0] for t in r.readBetweenOffsets(o0, o1)] == [1]
    assert [t[0] for t in r.readBetweenOffsets(o1, o2)] == [2, 3]
    # replay across both ranges == full history; empty range == nothing
    assert [t[0] for t in r.readBetweenOffsets(o0, o2)] == [1, 2, 3]
    assert list(r.readBetweenOffsets(o2, o2)) == []


def test_publish_table_jdbc_incremental(spark, tmp_path):
    """S9 incremental online publish riding the change feed: bootstrap
    overwrite, then steady-state syncs apply only |changed| rows
    (delete-then-insert upsert + key-targeted deletes), and a caught-up
    publish is a no-op."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        FeatureStoreClient,
    )

    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    fs.create_feature_table(
        "inc_feat",
        keys="customer_id",
        df=spark.createDataFrame(
            [Row(customer_id=1, score=0.25), Row(customer_id=2, score=0.75)]
        ),
    )
    url = f"jdbc:derby:{tmp_path}/inc_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def online():
        back = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "inc_feat").options(**props).load()
        )
        return {r["customer_id"]: r["score"] for r in back.collect()}

    # bootstrap = full overwrite
    fs.publish_table("inc_feat", url, mode="incremental", properties=props)
    assert online() == {1: 0.25, 2: 0.75}

    # update + insert + delete across two offline versions, one sync
    fs.write_table(
        "inc_feat",
        spark.createDataFrame([Row(customer_id=1, score=0.9), Row(customer_id=3, score=0.5)]),
        mode="merge",
    )
    fs.delete_from_table("inc_feat", spark.createDataFrame([Row(customer_id=2)]))
    fs.publish_table("inc_feat", url, mode="incremental", properties=props)
    assert online() == {1: 0.9, 3: 0.5}

    # caught up -> no-op (and the mirror is untouched)
    fs.publish_table("inc_feat", url, mode="incremental", properties=props)
    assert online() == {1: 0.9, 3: 0.5}


def test_online_store_spec_publish(spark, tmp_path):
    """publish_table(online_store=...) — the reference's spec-object call
    shape (SO:374-387): the MySQL spec builds the RDS url/driver/credential
    bundle positionally, and the Derby spec actually round-trips in-JVM
    through the exact same path."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        AmazonRdsMySqlSpec, EmbeddedDerbySpec, FeatureStoreClient,
    )

    # call-shape parity: positional (hostname, port, user, password)
    rds = AmazonRdsMySqlSpec("mysql.example.internal", 3306, "svc", "hunter2")
    url, props = rds.jdbc_options()
    assert url.startswith("jdbc:mysql://mysql.example.internal:3306/")
    assert "sql_mode=ANSI_QUOTES" in url  # incremental DELETEs need it
    assert props["driver"] == "com.mysql.cj.jdbc.Driver"
    assert props["user"] == "svc" and props["password"] == "hunter2"

    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    fs.create_feature_table(
        "spec_feat", keys="k",
        df=spark.createDataFrame([Row(k=1, v=1.5), Row(k=2, v=2.5)]),
    )
    spec = EmbeddedDerbySpec(f"{tmp_path}/spec_db")
    fs.publish_table("spec_feat", online_store=spec)
    durl, dprops = spec.jdbc_options()
    back = (
        spark.read.format("jdbc").option("url", durl)
        .option("dbtable", "spec_feat").options(**dprops).load()
    )
    assert {r["k"]: r["v"] for r in back.collect()} == {1: 1.5, 2: 2.5}

    # incremental publish rides the same spec
    fs.write_table("spec_feat", spark.createDataFrame([Row(k=3, v=3.5)]))
    fs.publish_table("spec_feat", online_store=spec, mode="incremental")
    fs.publish_table("spec_feat", online_store=spec, mode="incremental")  # caught-up no-op
    back2 = (
        spark.read.format("jdbc").option("url", durl)
        .option("dbtable", "spec_feat").options(**dprops).load()
    )
    assert {r["k"]: r["v"] for r in back2.collect()} == {1: 1.5, 2: 2.5, 3: 3.5}

    import pytest

    with pytest.raises(ValueError, match="not both"):
        fs.publish_table("spec_feat", durl, online_store=spec)
    with pytest.raises(ValueError, match="jdbc_url= or online_store="):
        fs.publish_table("spec_feat")


def _derby_query(spark, url, sql):
    """Run one statement on the Derby database behind ``url`` (in-JVM)."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().execute(sql)
    finally:
        conn.close()


def test_publish_incremental_string_key(spark, tmp_path):
    """Incremental sync of a table keyed by the telco flow's string
    ``customerID`` (``NNNNNNN-CUST``): the mirror's key is a VARCHAR, not
    the CLOB a string becomes by default on Derby (which no DELETE can
    compare), through bootstrap, update, insert and delete."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        EmbeddedDerbySpec, FeatureStoreClient,
    )

    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    fs.create_feature_table(
        "svc", keys="customerID",
        df=spark.createDataFrame([
            Row(customerID=f"{i:07d}-CUST", plan="basic", charges=float(i))
            for i in range(1, 5)
        ]),
    )
    spec = EmbeddedDerbySpec(f"{tmp_path}/str_db")
    url, props = spec.jdbc_options()

    def online():
        back = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "svc").options(**props).load()
        )
        assert dict(back.dtypes)["customerID"] == "string"
        return {r["customerID"]: (r["plan"], r["charges"]) for r in back.collect()}

    fs.publish_table("svc", online_store=spec, mode="incremental")  # bootstrap
    assert online() == {
        f"{i:07d}-CUST": ("basic", float(i)) for i in range(1, 5)
    }

    fs.write_table("svc", spark.createDataFrame([
        Row(customerID="0000001-CUST", plan="premium", charges=99.5),  # update
        Row(customerID="0000009-CUST", plan="basic", charges=9.0),  # insert
    ]))
    fs.delete_from_table(
        "svc", spark.createDataFrame([Row(customerID="0000003-CUST")])
    )
    fs.publish_table("svc", online_store=spec, mode="incremental")
    want = {
        "0000001-CUST": ("premium", 99.5),
        "0000002-CUST": ("basic", 2.0),
        "0000004-CUST": ("basic", 4.0),
        "0000009-CUST": ("basic", 9.0),
    }
    assert online() == want
    assert {
        r["customerID"]: (r["plan"], r["charges"])
        for r in fs.read_table("svc").collect()
    } == want


def test_publish_incremental_is_atomic(spark, tmp_path):
    """A sync that fails after its DELETE leaves the mirror exactly as it
    was and the consumer offset where it was; the next publish converges.
    The failure is real: a CHECK constraint on the mirror rejects the
    INSERT of an updated row, which runs after the DELETE of its old row."""
    from pyspark.sql import Row

    from databricks_feature_store_flight_school_spark.featurestore import (
        FeatureStoreClient,
    )

    fs = FeatureStoreClient(spark, str(tmp_path / "wh"))
    fs.create_feature_table(
        "atomic", keys="customer_id",
        df=spark.createDataFrame(
            [Row(customer_id=i, score=i / 10) for i in range(1, 5)]
        ),
    )
    url = f"jdbc:derby:{tmp_path}/atomic_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def online():
        back = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "atomic").options(**props).load()
        )
        return {r["customer_id"]: r["score"] for r in back.collect()}

    consumer = "jdbc:atomic"
    fs.publish_table("atomic", url, mode="incremental", properties=props)
    before = online()
    offset = fs.registry.get_consumer_offset("atomic", consumer)
    _derby_query(
        spark, url,
        'ALTER TABLE atomic ADD CONSTRAINT score_cap CHECK ("score" < 0.8)',
    )
    fs.write_table("atomic", spark.createDataFrame(
        [Row(customer_id=1, score=0.9), Row(customer_id=7, score=0.7)]
    ))
    fs.delete_from_table("atomic", spark.createDataFrame([Row(customer_id=2)]))

    with pytest.raises(Exception, match="SCORE_CAP|score_cap"):
        fs.publish_table("atomic", url, mode="incremental", properties=props)
    assert online() == before
    assert fs.registry.get_consumer_offset("atomic", consumer) == offset

    _derby_query(spark, url, "ALTER TABLE atomic DROP CONSTRAINT score_cap")
    fs.publish_table("atomic", url, mode="incremental", properties=props)
    assert online() == {1: 0.9, 3: 0.3, 4: 0.4, 7: 0.7}
    assert fs.registry.get_consumer_offset(
        "atomic", consumer
    ) == fs.get_feature_table("atomic").current_version
