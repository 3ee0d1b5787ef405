"""Feature-store surface queries (registry, lookup joins, merge, scoring).

Each query exercises the REAL engine path end-to-end: it materialises feature
tables into a throwaway warehouse under /tmp via the registry + merge writer,
then returns the DataFrame the feature-store API produces.  The oracle SQL
re-derives the same result relationally from the base tables, so the driver's
DuckDB gate checks the whole pipeline (registration -> write -> snapshot read
-> lookup join / merge resolution / scoring UDF), not just a join.

Determinism: every call gets a fresh ``mkdtemp`` warehouse; all feature
values derive from the driver's parquet tables only.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..featurestore import FeatureLookup, FeatureStoreClient
from ..featurestore.scoring import LinearThresholdModel
from ..sources import load_table
from .catalog import register


def _profile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature table 1: static customer profile (c_custkey PK)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )


def _order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature table 2: per-customer order aggregates, dense over ALL
    customers (left join + coalesce so downstream lookups never see nulls —
    the fillna-at-compute idiom of FS:133)."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )
    return (
        customer.join(agg, on="c_custkey", how="left")
        .fillna({"order_count": 0, "total_spend": 0.0})
        .select("c_custkey", "order_count", "total_spend")
    )


#: recent catalog queries' throwaway warehouses, oldest first; reaped down
#: to the retention window on the next _client() call (and fully at
#: interpreter exit)
_last_warehouse: list[str] = []

#: how many PRIOR warehouses stay alive when a new one is built (ADVICE
#: r12 #3): 1 would assume strictly sequential build->collect->next
#: consumption — true of every in-repo consumer, but enforced only by
#: convention; keeping the previous TWO means a caller that builds two
#: feature-store DataFrames before collecting the first never reads
#: deleted parquet.  The sweep-host disk math is unchanged in kind:
#: bounded at ~3 warehouses live instead of 2, not one per query.
_WAREHOUSE_RETAIN = 2


def _reap_warehouses(keep: int = 0) -> None:
    import shutil

    while len(_last_warehouse) > keep:
        shutil.rmtree(_last_warehouse.pop(0), ignore_errors=True)


def _client(spark: SparkSession) -> FeatureStoreClient:
    """A FeatureStoreClient over a FRESH throwaway warehouse — each catalog
    query materializes its demo feature tables there.  Warehouses older
    than the retention window (the previous ``_WAREHOUSE_RETAIN`` = 2) are
    deleted here: catalog queries are consumed near-sequentially, so by
    the time query N+3 builds, query N's result has long been drained —
    and a caller holding TWO lazy feature-store DataFrames at once (the
    case one-generation retention would break, ADVICE r12 #3) still reads
    live files.  Without the reap, a full-catalog sweep leaks one
    warehouse per feature-store query — ~4-6 GB each at sf100, enough to
    exhaust a sweep host's disk mid-run (observed round 12); at-exit
    cleanup alone would not help a single long-lived session."""
    import atexit

    if not _last_warehouse:
        atexit.register(_reap_warehouses)
    _reap_warehouses(keep=_WAREHOUSE_RETAIN)
    path = tempfile.mkdtemp(prefix="fs_warehouse_")
    _last_warehouse.append(path)
    return FeatureStoreClient(spark, path)


_ORDER_FEATURES_SQL = """
      SELECT c.c_custkey,
             coalesce(o.order_count, 0) AS order_count,
             coalesce(o.total_spend, 0.0) AS total_spend
      FROM customer c
      LEFT JOIN (SELECT o_custkey, count(*) AS order_count,
                        round(sum(o_totalprice), 2) AS total_spend
                 FROM orders GROUP BY o_custkey) o
        ON o.o_custkey = c.c_custkey
"""


@register(
    "q_fs_training_set",
    f"""
    SELECT c.c_custkey,
           (c.c_acctbal < 1000) AS label,
           p.segment,
           p.acctbal,
           f.order_count,
           f.total_spend
    FROM customer c
    JOIN (SELECT c_custkey, c_mktsegment AS segment, round(c_acctbal, 2) AS acctbal
          FROM customer) p ON p.c_custkey = c.c_custkey
    JOIN ({_ORDER_FEATURES_SQL}) f ON f.c_custkey = c.c_custkey
    """,
    "featurestore", "join",
)
def q_fs_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_training_set end-to-end (J3): register two feature tables,
    write them through the merge writer, declaratively look up all features
    onto a labelled key frame (FS:286-321 flow).

    Scale: both feature tables are broadcast by the lookup planner; the input
    (fact-sized in production) streams through two broadcast hash joins with
    zero shuffles.
    """
    fs = _client(spark)
    fs.create_feature_table(
        "customer_profile", keys="c_custkey", df=_profile_features(spark, sf_dir),
        description="static customer profile features",
    )
    fs.create_feature_table(
        "customer_orders", keys="c_custkey", df=_order_features(spark, sf_dir),
        description="per-customer order aggregates",
    )
    inference = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_acctbal") < 1000).alias("label")
    )
    ts = fs.create_training_set(
        inference,
        [
            FeatureLookup("customer_profile", "c_custkey"),
            FeatureLookup("customer_orders", "c_custkey"),
        ],
        label="label",
    )
    return ts.load_df()


@register(
    "q_fs_merge_schema_evolution",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 1000, 2)
                ELSE round(c_acctbal, 2) END AS acctbal,
           c_mktsegment AS segment,
           CASE WHEN c_custkey % 3 = 0 THEN 'gold' END AS loyalty_tier
    FROM customer
    """,
    "featurestore", "merge",
)
def q_fs_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-upsert with schema evolution (S8, FS:411-435): v1 = all
    customers; v2 merges an update slice (every third key) carrying a
    brand-new ``loyalty_tier`` column.  Matched rows take source values,
    untouched rows keep theirs with null in the evolved column."""
    fs = _client(spark)
    base = _profile_features(spark, sf_dir)
    fs.create_feature_table("profile_m", keys="c_custkey", df=base)
    update = (
        base.where(F.col("c_custkey") % 3 == 0)
        .withColumn("acctbal", F.round(F.col("acctbal") + 1000, 2))
        .withColumn("loyalty_tier", F.lit("gold"))
    )
    fs.write_table("profile_m", update, mode="merge")
    return fs.read_table("profile_m")


@register(
    "q_fs_score_batch",
    f"""
    SELECT c.c_custkey,
           p.acctbal,
           f.total_spend,
           (p.acctbal * 0.001 + f.total_spend * 0.00001 > 5.0) AS prediction
    FROM customer c
    JOIN (SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer) p
      ON p.c_custkey = c.c_custkey
    JOIN ({_ORDER_FEATURES_SQL}) f ON f.c_custkey = c.c_custkey
    """,
    "featurestore", "scoring", "pandas-udf",
)
def q_fs_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """score_batch end-to-end (J4/U2): log a deterministic linear model with
    its lookup graph, then score a key-only batch frame — the engine
    reconstructs the feature joins from the model artifact (FS:342-363) and
    applies the predictor per Arrow batch."""
    fs = _client(spark)
    fs.create_feature_table(
        "profile_s", keys="c_custkey",
        df=_profile_features(spark, sf_dir).select("c_custkey", "acctbal"),
    )
    fs.create_feature_table(
        "orders_s", keys="c_custkey",
        df=_order_features(spark, sf_dir).select("c_custkey", "total_spend"),
    )
    inference = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_acctbal") < 1000).alias("label")
    )
    ts = fs.create_training_set(
        inference,
        [
            FeatureLookup("profile_s", "c_custkey", ["acctbal"]),
            FeatureLookup("orders_s", "c_custkey", ["total_spend"]),
        ],
        label="label",
        exclude_columns="c_custkey",
    )
    model = LinearThresholdModel(
        weights={"acctbal": 0.001, "total_spend": 0.00001}, threshold=5.0
    )
    model_dir = tempfile.mkdtemp(prefix="fs_model_")
    fs.log_model(model_dir, model, ts)

    batch = load_table(spark, sf_dir, "customer").select("c_custkey")
    return fs.score_batch(model_dir, batch, result_type="boolean")


@register(
    "q_fs_pit_lookup",
    """
    SELECT c.c_custkey, c.label, h.last_price
    FROM (SELECT c_custkey, (c_acctbal < 1000) AS label,
                 TIMESTAMP '1997-06-01 00:00:00' AS event_ts
          FROM customer) c
    ASOF LEFT JOIN (SELECT o_custkey, o_orderdate,
                           round(max(o_totalprice), 2) AS last_price
                    FROM orders GROUP BY o_custkey, o_orderdate) h
      ON c.c_custkey = h.o_custkey AND c.event_ts >= h.o_orderdate
    """,
    "featurestore", "asof", "point-in-time",
)
def q_fs_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature retrieval (timestamp_lookup_key — the canonical
    feature-store extension, SURVEY.md §2.12): a PIT table keyed
    (c_custkey, obs_ts) holds each customer's order-price history; the lookup
    returns the value as of each input row's timestamp, never a later one
    (no training-serving leakage).  Runs the union+window as-of join — one
    shuffle, no per-key pair explosion (operators/asof.py)."""
    fs = _client(spark)
    history = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("obs_ts"),
        )
        .agg(F.round(F.max("o_totalprice"), 2).alias("last_price"))
    )
    fs.create_feature_table(
        "order_history",
        keys="c_custkey",
        timestamp_keys="obs_ts",
        df=history,
        description="per-customer order price history (PIT)",
    )
    inference = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") < 1000).alias("label"),
        F.lit("1997-06-01").cast("timestamp_ntz").alias("event_ts"),
    )
    ts = fs.create_training_set(
        inference,
        [
            FeatureLookup(
                "order_history",
                lookup_key="c_custkey",
                timestamp_lookup_key="event_ts",
            )
        ],
        label="label",
    )
    return ts.load_df().select("c_custkey", "label", "last_price")


@register(
    "q_fs_score_batch_trained",
    None,  # weights come from numeric training -> not SQL-expressible; rows-only
    "featurestore", "scoring", "trained-model", "model-registry", "rows-only",
    pinned_by=("test_trained_model_registry_roundtrip",),
)
def q_fs_score_batch_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reference scoring loop with a genuinely *trained* model
    (FS:326-363): assemble a training set via lookups, fit a numpy logistic
    regression driver-side, log it to the warehouse model registry with
    ``registered_model_name``, then score a key-only batch through the
    versioned URI ``models:/<name>/<version>`` — the engine reconstructs the
    lookup joins from the artifact and applies the fitted weights per Arrow
    batch.

    Rows-only: the trained weights are deterministic but numeric, so no
    DuckDB twin; train->score parity is asserted bit-for-bit in
    tests/test_featurestore.py (driver-side numpy predictions == cluster
    predictions on the same features)."""
    from ..featurestore.scoring import TrainedLogisticModel

    fs = _client(spark)
    fs.create_feature_table(
        "profile_t", keys="c_custkey",
        df=_profile_features(spark, sf_dir).select("c_custkey", "acctbal"),
    )
    fs.create_feature_table(
        "orders_t", keys="c_custkey",
        df=_order_features(spark, sf_dir).select("c_custkey", "total_spend"),
    )
    inference = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_acctbal") < 1000).alias("label")
    )
    ts = fs.create_training_set(
        inference,
        [
            FeatureLookup("profile_t", "c_custkey", ["acctbal"]),
            FeatureLookup("orders_t", "c_custkey", ["total_spend"]),
        ],
        label="label",
        exclude_columns="c_custkey",
    )
    # driver-side fit on the (bounded) training frame, sorted for determinism
    train_pdf = (
        ts.load_df()
        .select("acctbal", "total_spend", "label")
        .orderBy("acctbal", "total_spend")
        .toPandas()
    )
    model = TrainedLogisticModel.fit(
        train_pdf[["acctbal", "total_spend"]], train_pdf["label"]
    )
    uri = fs.log_model(None, model, ts, registered_model_name="churn_logit")

    batch = load_table(spark, sf_dir, "customer").select("c_custkey")
    return fs.score_batch(uri, batch, result_type="boolean")


@register(
    "q_fs_change_feed",
    """
    WITH v1 AS (
        SELECT c_custkey, c_mktsegment AS segment, round(c_acctbal, 2) AS acctbal
        FROM customer
    ),
    ins AS (
        SELECT c_custkey + 100000000 AS c_custkey, 'NEW' AS segment,
               round(round(c_acctbal, 2) + 250, 2) AS acctbal
        FROM customer WHERE c_custkey % 97 = 0
    ),
    v3 AS (
        SELECT c_custkey, segment,
               CASE WHEN c_custkey % 5 = 0 THEN round(acctbal + 500, 2)
                    ELSE acctbal END AS acctbal
        FROM v1 WHERE c_custkey % 11 <> 0
        UNION ALL
        SELECT * FROM ins
    ),
    diff AS (
        SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
               CASE WHEN o.c_custkey IS NULL THEN 'insert'
                    WHEN n.c_custkey IS NULL THEN 'delete'
                    WHEN n.acctbal IS DISTINCT FROM o.acctbal
                      OR n.segment IS DISTINCT FROM o.segment THEN 'update'
               END AS _change_type,
               o.segment AS old_segment, o.acctbal AS old_acctbal,
               n.segment AS new_segment, n.acctbal AS new_acctbal
        FROM v3 n FULL OUTER JOIN v1 o ON n.c_custkey = o.c_custkey
    )
    SELECT * FROM diff WHERE _change_type IS NOT NULL
    """,
    "featurestore", "cdc", "change-feed",
)
def q_fs_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across three committed versions — the Delta CDF /
    ``table_changes`` analog (the incremental-consumer primitive the
    reference's online publish would ride at scale: sync |changed| rows,
    not |table|).  v1 = all customer profiles; v2 = MERGE carrying both an
    update slice (every 5th key, +500 balance) and an insert slice
    (synthetic keys at +100M — past the key domain through sf600; the
    round-10 sf10 sweep caught the old +1M offset colliding with real
    custkeys, tripping the merge duplicate-source guard); v3 = row-level
    DELETE of every 11th key.  The feed
    diffs v1 against current with one keys-partitioned full-outer join and
    classifies insert / update / delete, dropping unchanged keys — a key
    deleted after being updated correctly reports as a plain delete vs v1.

    Scale: read_snapshot never collects; the diff is a single co-partitioned
    shuffle join on the primary key plus narrow null-safe compares."""
    fs = _client(spark)
    base = _profile_features(spark, sf_dir)
    fs.create_feature_table("profile_cf", keys="c_custkey", df=base)
    update = (
        base.where(F.col("c_custkey") % 5 == 0)
        .withColumn("acctbal", F.round(F.col("acctbal") + 500, 2))
    )
    insert = (
        base.where(F.col("c_custkey") % 97 == 0)
        .select(
            (F.col("c_custkey") + 100000000).alias("c_custkey"),
            F.lit("NEW").alias("segment"),
            F.round(F.col("acctbal") + 250, 2).alias("acctbal"),
        )
    )
    fs.write_table("profile_cf", update.unionByName(insert), mode="merge")
    fs.delete_from_table(
        "profile_cf", base.where(F.col("c_custkey") % 11 == 0).select("c_custkey")
    )
    return fs.table_changes("profile_cf", from_version=1)


@register(
    "q_fs_incremental_agg",
    """
    WITH final AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey % 50
                    ELSE o_custkey END AS cust,
               CASE WHEN o_orderkey % 7 = 0
                    THEN round(round(o_totalprice, 2) + 10, 2)
                    ELSE round(o_totalprice, 2) END AS amount
        FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT cust, round(sum(amount), 2) AS total, count(*) AS n_rows
    FROM final GROUP BY cust
    """,
    "featurestore", "ivm", "cdc", "incremental",
)
def q_fs_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change feed (operators/ivm.py):
    a per-customer SUM/COUNT feature is maintained purely from consumed
    change windows — bootstrap inserts, then a merge that BOTH re-prices and
    MOVES orders between customers (every 7th key: +10 and cust -> cust%50,
    exercising the two-sided old-group/new-group adjustment), then a delete
    of every 11th key — and must equal the oracle's from-scratch recompute
    of the final state.  Refresh cost is O(|changes|) per window (one
    ``groupBy`` over the state and the signed window, ``fold_window``); the
    base fact table is scanned once at bootstrap and never again."""
    from ..operators.ivm import (
        compute_stats, derive_stats, fold_window, signed_changes,
    )

    fs = _client(spark)
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.round("o_totalprice", 2).alias("amount"),
    )
    fs.create_feature_table("orders_ivm", keys="okey", df=base)

    def consume_into(state):
        changes, _v, commit = fs.consume_changes("orders_ivm", "agg")
        out = fold_window(
            state, signed_changes(changes, "okey"), "cust", ["amount"], {}, None
        )
        commit()
        return out

    empty = compute_stats(fs.read_table("orders_ivm").limit(0), "cust", ["amount"])
    state = consume_into(empty)

    update = (
        fs.read_table("orders_ivm")
        .where(F.col("okey") % 7 == 0)
        .select(
            "okey",
            (F.col("cust") % 50).alias("cust"),
            F.round(F.col("amount") + 10, 2).alias("amount"),
        )
    )
    fs.write_table("orders_ivm", update, mode="merge")
    state = consume_into(state)

    fs.delete_from_table(
        "orders_ivm",
        fs.read_table("orders_ivm").where(F.col("okey") % 11 == 0).select("okey"),
    )
    state = consume_into(state)

    return derive_stats(
        state, "cust", {"total": ("sum", "amount"), "n_rows": ("count", "*")}
    ).select("cust", F.round("total", 2).alias("total"), "n_rows")


@register(
    "q_fs_ivm_join_view",
    """
    WITH o AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey % 50
                    ELSE o_custkey END AS cust,
               CASE WHEN o_orderkey % 7 = 0
                    THEN round(round(o_totalprice, 2) + 10, 2)
                    ELSE round(o_totalprice, 2) END AS amount
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    c AS (
        SELECT c_custkey AS cust,
               CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS segment
        FROM customer WHERE c_custkey % 13 <> 0
    )
    SELECT segment, round(sum(amount), 2) AS total, count(*) AS n_orders
    FROM o JOIN c USING (cust) GROUP BY segment
    """,
    "featurestore", "ivm", "cdc", "join",
)
def q_fs_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over an equi-JOIN maintained incrementally from BOTH
    sides' change feeds (operators/ivm.py join_deltas — Gupta & Mumick's
    join rule in the double-counting-free form ΔR⨝S_new ∪ R_old⨝ΔS): a
    per-segment revenue view over orders ⨝ customer-dim is refreshed
    through a window where BOTH tables change at once (orders re-priced and
    moved between customers, customers re-segmented) and then a window of
    two-sided deletes — and must equal the oracle's from-scratch recompute
    of the joined final state.  Each refresh shuffles |Δ| against the
    co-keyed base snapshot, never base ⨝ base: at 100 TB the dimension
    churn term reads |changed customers| × their orders, not the fact
    table."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..operators.ivm import (
        compute_stats, derive_stats, fold_window, join_deltas, signed_changes,
    )

    fs = _client(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.round("o_totalprice", 2).alias("amount"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )

    def _both(fa, fb):
        # The two tables' writes are independent (separate registry docs,
        # separate staging dirs, separate version chains), so each write
        # pair runs as two concurrent Spark jobs (guide §2.6): the second
        # job's tasks back-fill executors idled by the first job's commit
        # tail instead of waiting for it.  Results/versions are identical
        # to the sequential form.  The wrap carries the caller's job group,
        # description and tags into the pool threads.
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            a, b = pool.submit(inherit(fa)), pool.submit(inherit(fb))
            a.result(), b.result()

    _both(
        lambda: fs.create_feature_table("jv_orders", keys="okey", df=orders),
        lambda: fs.create_feature_table("jv_cust", keys="cust", df=cust),
    )
    vl = vr = 1

    def snap(name, v):
        return fs.read_table(name, version=v)

    state = compute_stats(
        snap("jv_orders", vl).join(snap("jv_cust", vr), on="cust"),
        "segment", ["amount"],
    )

    def advance(state):
        nonlocal vl, vr
        nvl = fs.get_feature_table("jv_orders").current_version
        nvr = fs.get_feature_table("jv_cust").current_version
        d_l = (
            signed_changes(fs.table_changes("jv_orders", vl, nvl), "okey")
            if nvl > vl else None
        )
        d_r = (
            signed_changes(fs.table_changes("jv_cust", vr, nvr), "cust")
            if nvr > vr else None
        )
        sd = join_deltas(
            d_l, snap("jv_cust", nvr), snap("jv_orders", vl), d_r, on="cust"
        )
        out = fold_window(state, sd, "segment", ["amount"], {}, None)
        vl, vr = nvl, nvr
        return out

    # window 1: BOTH sides change — re-price + move every 7th order,
    # re-segment every 5th customer (independent tables: merges overlap)
    _both(
        lambda: fs.write_table(
            "jv_orders",
            snap("jv_orders", vl).where(F.col("okey") % 7 == 0).select(
                "okey",
                (F.col("cust") % 50).alias("cust"),
                F.round(F.col("amount") + 10, 2).alias("amount"),
            ),
            mode="merge",
        ),
        lambda: fs.write_table(
            "jv_cust",
            snap("jv_cust", vr).where(F.col("cust") % 5 == 0)
            .withColumn("segment", F.lit("MOVED")),
            mode="merge",
        ),
    )
    state = advance(state).localCheckpoint()

    # window 2: two-sided deletes (again independent — overlap)
    _both(
        lambda: fs.delete_from_table(
            "jv_orders",
            fs.read_table("jv_orders").where(F.col("okey") % 11 == 0).select("okey"),
        ),
        lambda: fs.delete_from_table(
            "jv_cust",
            fs.read_table("jv_cust").where(F.col("cust") % 13 == 0).select("cust"),
        ),
    )
    state = advance(state)

    return derive_stats(
        state, "segment", {"total": ("sum", "amount"), "n_orders": ("count", "*")}
    ).select("segment", F.round("total", 2).alias("total"), "n_orders")


@register(
    "q_fs_materialized_view",
    """
    WITH final AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey % 50
                    ELSE o_custkey END AS cust,
               CASE WHEN o_orderkey % 7 = 0
                    THEN round(round(o_totalprice, 2) + 10, 2)
                    ELSE round(o_totalprice, 2) END AS amount
        FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT cust,
           round(sum(amount), 2) AS total,
           count(*) AS n_orders,
           CAST(round(sum(amount) * 100) AS BIGINT) * 100 // count(*)
               AS avg_amount_e4,
           CAST(round(stddev_samp(amount)) AS BIGINT) AS sd_amount
    FROM final GROUP BY cust
    """,
    "featurestore", "ivm", "materialized-view", "incremental",
)
def q_fs_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing materialized-view facade over operators/ivm.py
    (client.create_materialized_view / refresh / read): a per-customer
    SUM/COUNT/AVG/STDDEV view over an orders feature table is refreshed
    incrementally through the same churn script as q_fs_incremental_agg —
    bootstrap, a merge that re-prices AND moves every 7th order between
    customers, then a delete of every 11th — and must equal the oracle's
    from-scratch recompute of the final state.

    AVG/VAR/STDDEV ride the maintained moment state (sum, sum of squares,
    non-null count per measure — the self-maintainable second-moment
    extension of the IVM algebra), so each refresh is O(|changes|) with one
    group-key full-outer join; the state publish and its applied-source-
    version marker flip in the same registry CAS (exactly-once refresh,
    no double-applied window even across crashes)."""
    fs = _client(spark)
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.round("o_totalprice", 2).alias("amount"),
    )
    fs.create_feature_table("orders_mv_base", keys="okey", df=base)
    fs.create_materialized_view(
        "orders_mv", "orders_mv_base", "cust",
        {
            "total": ("sum", "amount"),
            "n_orders": ("count", "*"),
            "avg_amount": ("avg", "amount"),
            "sd_amount": ("stddev_samp", "amount"),
        },
    )
    fs.refresh_materialized_view("orders_mv")

    update = (
        fs.read_table("orders_mv_base")
        .where(F.col("okey") % 7 == 0)
        .select(
            "okey",
            (F.col("cust") % 50).alias("cust"),
            F.round(F.col("amount") + 10, 2).alias("amount"),
        )
    )
    fs.write_table("orders_mv_base", update, mode="merge")
    fs.refresh_materialized_view("orders_mv")

    fs.delete_from_table(
        "orders_mv_base",
        fs.read_table("orders_mv_base").where(F.col("okey") % 11 == 0).select("okey"),
    )
    fs.refresh_materialized_view("orders_mv")

    # avg in exact fixed-point (1e-4 dollars, truncating integer division):
    # money averages land on decimal .xxx5 half-boundaries whenever the
    # group size is a power of two (cents/2^k terminates), where Spark's
    # HALF_UP and DuckDB's binary rounding can disagree by 1 ulp — integer
    # cents*100 DIV n is boundary-free and bit-identical on both engines.
    # stddev rounds to integer BIGINT (r12): the maintained second-moment
    # state drifts ~1e-5 absolute from DuckDB's Welford recompute on the
    # 430k-row hot groups at sf100 (naive sum/sumsq cancellation), so a
    # 4-decimal round sat one borderline flip away from a spurious
    # mismatch — the 1.6e5-scale sd's integer part is the honest signal.
    mv = fs.read_materialized_view("orders_mv")
    return mv.select(
        "cust",
        F.round("total", 2).alias("total"),
        "n_orders",
        F.expr(
            "CAST(round(total * 100) AS BIGINT) * 100 DIV n_orders"
        ).alias("avg_amount_e4"),
        F.round("sd_amount", 0).cast("bigint").alias("sd_amount"),
    )
