"""Change-data-feed walkthrough: versioned writes, table_changes diffs,
checkpointed consumption, and an incrementally-maintained aggregate feature
(operators/ivm.py) — the steady-state refresh path that never rescans the
fact table.

Run:  python examples/change_feed_demo.py  [warehouse_dir]
"""

from __future__ import annotations

import sys
import tempfile

REPO = __file__.rsplit("/examples/", 1)[0]
sys.path.insert(0, REPO)

from pyspark.sql import Row, functions as F  # noqa: E402

from databricks_feature_store_flight_school_spark.featurestore import (  # noqa: E402
    FeatureStoreClient,
)
from databricks_feature_store_flight_school_spark.operators import (  # noqa: E402
    compute_stats,
    derive_stats,
    fold_window,
    signed_changes,
)
from databricks_feature_store_flight_school_spark.session import get_spark  # noqa: E402


def main() -> None:
    warehouse = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="cdf_demo_")
    spark = get_spark(app_name="cdf-demo", shuffle_partitions=4)
    fs = FeatureStoreClient(spark, warehouse)

    # 1. a versioned base table: one row per order
    fs.create_feature_table(
        "orders_base", keys="order_id",
        df=spark.createDataFrame(
            [Row(order_id=i, cust=i % 3, amount=10.0 * i) for i in range(1, 7)]
        ),
    )

    # 2. maintain a per-customer aggregate from the change feed: bootstrap
    #    consumes the snapshot as inserts (offset 0); the state holds the
    #    moments (sum, sum of squares, non-null count) and the row count
    aggs = {"total": ("sum", "amount"), "n_rows": ("count", "*")}

    def fold(state):
        changes, _v, commit = fs.consume_changes("orders_base", "agg")
        state = fold_window(
            state, signed_changes(changes, "order_id"), "cust", ["amount"], {},
            None,
        ).localCheckpoint()
        commit()
        return state

    state = fold(
        compute_stats(fs.read_table("orders_base").limit(0), "cust", ["amount"])
    )
    print("bootstrapped aggregate:")
    derive_stats(state, "cust", aggs).orderBy("cust").show()

    # 3. merge: re-price order 2 and MOVE order 3 to another customer,
    #    insert order 7 — then delete order 1
    fs.write_table(
        "orders_base",
        spark.createDataFrame(
            [Row(order_id=2, cust=2, amount=25.0),
             Row(order_id=3, cust=0, amount=30.0),
             Row(order_id=7, cust=1, amount=70.0)]
        ),
        mode="merge",
    )
    fs.delete_from_table("orders_base", spark.createDataFrame([Row(order_id=1)]))

    # 4. the raw diff across the whole history
    print("table_changes(v1 -> current):")
    fs.table_changes("orders_base", 1).orderBy("order_id").show()

    # 5. fold ONLY the new change windows into the aggregate
    state = fold(state)
    print("incrementally refreshed aggregate:")
    derive_stats(state, "cust", aggs).orderBy("cust").show()

    # 6. the invariant the property test pins: incremental == recompute
    want = {
        r["cust"]: (r["total"], r["n_rows"])
        for r in fs.read_table("orders_base").groupBy("cust").agg(
            F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n_rows")
        ).collect()
    }
    got = {
        r["cust"]: (r["total"], r["n_rows"])
        for r in derive_stats(state, "cust", aggs).collect()
    }
    assert got == want, (got, want)

    # 7. caught-up consumers see None (nothing to re-deliver)
    assert fs.consume_changes("orders_base", "agg") is None

    print("OK")


if __name__ == "__main__":
    main()
