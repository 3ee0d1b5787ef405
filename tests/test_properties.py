"""Property-based spot checks (SURVEY.md §5.4): merge ≡ last-writer-wins by
key, dedup count conservation, salted-join result parity — each against a
driver-side Python model of the semantics.  Example counts are kept small:
every example is a full Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row, functions as F

from databricks_feature_store_flight_school_spark.featurestore import FeatureStoreClient
from databricks_feature_store_flight_school_spark.operators import exact_dedup, salted_join

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# batches of (key in 0..4, value in 0..9); 1-4 batches per run
_batches = st.lists(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=1, max_size=6
    ),
    min_size=1,
    max_size=4,
)


@given(batches=_batches)
@settings(**_SETTINGS)
def test_merge_is_last_writer_wins(spark, tmp_path_factory, batches):
    """Applying upsert batches through the merge writer must equal a dict
    updated batch-by-batch (WITHIN a batch, last row per key wins too —
    the writer resolves intra-batch duplicates by source order... which is
    undefined; so feed batches deduplicated per key to pin semantics)."""
    model: dict[int, int] = {}
    client = FeatureStoreClient(
        spark, str(tmp_path_factory.mktemp("prop_wh"))
    )
    first = True
    for batch in batches:
        dedup = {k: v for k, v in batch}  # one row per key per batch
        model.update(dedup)
        df = spark.createDataFrame([Row(k=k, v=v) for k, v in dedup.items()])
        if first:
            client.create_feature_table("t", keys="k", df=df)
            first = False
        else:
            client.write_table("t", df, mode="merge")
    got = {r["k"]: r["v"] for r in client.read_table("t").collect()}
    assert got == model


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_exact_dedup_conserves_counts(spark, rows):
    """exact_dedup keeps exactly one survivor per distinct dedup column, the
    minimum id, and dup_counts sum to the input size."""
    df = spark.createDataFrame([Row(id=i, text=t) for i, (_, t) in enumerate(rows)])
    out = exact_dedup(df, ["text"], "id").collect()
    texts = [t for _, t in rows]
    assert {r["text"] for r in out} == set(texts)
    assert sum(r["dup_count"] for r in out) == len(rows)
    for r in out:
        expected_min = min(i for i, (_, t) in enumerate(rows) if t == r["text"])
        assert r["id"] == expected_min


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 99)), min_size=1, max_size=15),
    right=st.lists(st.integers(0, 5), min_size=1, max_size=4, unique=True),
    salt=st.integers(2, 5),
)
@settings(**_SETTINGS)
def test_salted_join_parity_property(spark, left, right, salt):
    """salted_join(inner) ≡ plain inner join for arbitrary small inputs."""
    l = spark.createDataFrame([Row(k=k, v=v) for k, v in left])
    r = spark.createDataFrame([Row(k=k, d=k * 10) for k in right])
    plain = sorted(
        (row["k"], row["v"], row["d"])
        for row in l.join(r, on="k", how="inner").collect()
    )
    salted = sorted(
        (row["k"], row["v"], row["d"])
        for row in salted_join(l, r, on="k", how="inner", salt=salt).collect()
    )
    assert salted == plain


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_zorder_interleave_bijective_and_monotone(spark, pairs):
    """Morton interleave property: the Column-expression z-value must equal
    the Python-model interleave (bit i of a -> bit 2i, bit i of b -> bit
    2i+1) for arbitrary 16-bit inputs — bijectivity follows from matching
    the model on de-interleave too."""
    from databricks_feature_store_flight_school_spark.operators.layout import (
        _interleave_bits,
    )

    def model(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", _interleave_bits(F.col("a"), F.col("b"), 16).alias("z")
        ).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == model(a, b)


@given(
    vec=st.lists(
        st.floats(
            min_value=-10.0,
            max_value=10.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=2,
        max_size=16,
    ).filter(lambda v: max(abs(x) for x in v) > 1e-6)
)
@settings(**_SETTINGS)
def test_int8_quantization_error_bound(spark, vec):
    """Symmetric int8 quantization invariant: every element's round-trip
    error is bounded by half a quantization step (0.5 * maxabs / 127), so the
    per-vector RMS error q_vector_quantize reports can never exceed it."""
    from databricks_feature_store_flight_school_spark.functions.vectors import to_double

    df = spark.createDataFrame([Row(v=[float(x) for x in vec])])
    e = to_double(F.col("v"))
    maxabs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = F.lit(127.0) / maxabs
    worst = F.array_max(
        F.transform(e, lambda x: F.abs(x - F.round(x * scale) / scale))
    )
    row = df.select(worst.alias("worst"), maxabs.alias("m")).collect()[0]
    assert row["worst"] <= 0.5 * row["m"] / 127.0 * (1 + 1e-9)


@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40),
    nparts=st.integers(1, 6),
)
@settings(**_SETTINGS)
def test_global_row_number_property(spark, vals, nparts):
    """global_row_number == the index in the Python-sorted order, for any
    values (duplicates included) and any partition count."""
    from databricks_feature_store_flight_school_spark.operators.ranks import (
        global_row_number,
    )

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v int, k int")
    got = {
        (r["v"], r["k"]): r["i"]
        for r in global_row_number(df, ["v", "k"], num_partitions=nparts).collect()
    }
    want = {vk: i + 1 for i, vk in enumerate(sorted(rows))}
    assert got == want


#: ops: ("merge", [(k, v)...]) or ("delete", [k...]); versions accrue 1/op
_cdf_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)),
                     min_size=1, max_size=4),
        ),
        st.tuples(st.just("delete"),
                  st.lists(st.integers(0, 4), min_size=1, max_size=3)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_cdf_ops, initial=st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=1, max_size=4
))
@settings(**_SETTINGS)
def test_table_changes_matches_snapshot_model(spark, tmp_path_factory, ops, initial):
    """table_changes(v_i, v_j) must equal the dict-diff of the two model
    snapshots for EVERY version pair — inserts/updates/deletes classified,
    unchanged keys absent — no matter how merges and key-deletes interleave."""
    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("cdf_wh")))
    snap: dict[int, int] = {k: v for k, v in initial}
    client.create_feature_table(
        "t", keys="k",
        df=spark.createDataFrame([Row(k=k, v=v) for k, v in snap.items()]),
    )
    snapshots = {1: dict(snap)}
    version = 1
    for op, payload in ops:
        if op == "merge":
            dedup = {k: v for k, v in payload}
            snap.update(dedup)
            client.write_table(
                "t",
                spark.createDataFrame([Row(k=k, v=v) for k, v in dedup.items()]),
                mode="merge",
            )
        else:
            for k in payload:
                snap.pop(k, None)
            client.delete_from_table(
                "t", spark.createDataFrame([Row(k=k) for k in set(payload)])
            )
        version += 1
        snapshots[version] = dict(snap)

    # check the full window and one interior pair
    pairs = [(1, version)] + ([(1, max(2, version - 1))] if version > 1 else [])
    for lo, hi in pairs:
        old, new = snapshots[lo], snapshots[hi]
        want = {}
        for k in set(old) | set(new):
            if k not in old:
                want[k] = ("insert", None, new[k])
            elif k not in new:
                want[k] = ("delete", old[k], None)
            elif old[k] != new[k]:
                want[k] = ("update", old[k], new[k])
        got = {
            r["k"]: (r["_change_type"], r["old_v"], r["new_v"])
            for r in client.table_changes("t", lo, hi).collect()
        }
        assert got == want, f"window v{lo}->v{hi}"


#: base-table ops for the IVM property: merge rows (order_id, cust, amount)
#: or delete order_ids.  Group moves happen when a merge re-assigns cust.
_ivm_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 50)),
                min_size=1, max_size=5,
            ),
        ),
        st.tuples(st.just("delete"),
                  st.lists(st.integers(0, 9), min_size=1, max_size=3)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_ivm_ops, initial=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 50)),
    min_size=1, max_size=5,
))
@settings(**_SETTINGS)
def test_ivm_incremental_equals_recompute(spark, tmp_path_factory, ops, initial):
    """Maintaining a per-group SUM/COUNT aggregate from the change feed
    (signed_changes + fold_window per consumed window) must equal
    recomputing it from the final snapshot — through inserts, group-moving
    updates, and deletes that retire groups entirely."""
    from databricks_feature_store_flight_school_spark.operators.ivm import (
        compute_stats, derive_stats, fold_window, signed_changes,
    )

    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("ivm_wh")))
    rows = {k: (g, a) for k, g, a in initial}
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame(
            [Row(order_id=k, cust=g, amount=a) for k, (g, a) in rows.items()]
        ),
    )

    def fold(state, changes):
        return fold_window(
            state, signed_changes(changes, "order_id"), "cust", ["amount"],
            {}, None,
        ).localCheckpoint()

    # bootstrap the maintained aggregate from the first consumed window
    # (offset-0 delivers the snapshot as inserts), then fold each later
    # window's deltas in — never rescanning the base table
    changes, _v, commit = client.consume_changes("base", "agg")
    empty = compute_stats(client.read_table("base").limit(0), "cust", ["amount"])
    agg = fold(empty, changes)
    commit()

    for op, payload in ops:
        if op == "merge":
            batch = {k: (g, a) for k, g, a in payload}
            rows.update(batch)
            client.write_table(
                "base",
                spark.createDataFrame(
                    [Row(order_id=k, cust=g, amount=a)
                     for k, (g, a) in batch.items()]
                ),
                mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base", spark.createDataFrame([Row(order_id=k) for k in set(payload)])
            )
        consumed = client.consume_changes("base", "agg")
        if consumed is None:
            continue
        changes, _v, commit = consumed
        agg = fold(agg, changes)
        commit()

    want = {
        r["cust"]: (r["total"], r["n"])
        for r in client.read_table("base").groupBy("cust").agg(
            F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = {
        r["cust"]: (r["total"], r["n"])
        for r in derive_stats(
            agg, "cust", {"total": ("sum", "amount"), "n": ("count", "*")}
        ).collect()
    }
    assert got == want


@given(ops=_ivm_ops, initial=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 50)),
    min_size=1, max_size=5,
))
@settings(**_SETTINGS)
def test_ivm_minmax_affected_group_recompute(spark, tmp_path_factory, ops, initial):
    """MIN/MAX maintenance (NOT self-maintainable under deletes): new images
    fold in with least/greatest, departures that tie the extremum route
    their group through the bounded recompute branch — and the maintained
    frame must equal a from-scratch recompute after every window."""
    from databricks_feature_store_flight_school_spark.operators.ivm import (
        compute_stats, fold_window, signed_changes,
    )

    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("mm_wh")))
    rows = {k: (g, a) for k, g, a in initial}
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame(
            [Row(order_id=k, cust=g, amount=a) for k, (g, a) in rows.items()]
        ),
    )
    minmax_cols = {"__mn_amount": ("min", "amount")}

    def fold(state, changes):
        return fold_window(
            state, signed_changes(changes, "order_id"), "cust", [],
            minmax_cols, client.read_table("base"),
        ).localCheckpoint()

    changes, _v, commit = client.consume_changes("base", "mm")
    maintained = fold(
        compute_stats(
            client.read_table("base").limit(0), "cust", [],
            minmax_cols=minmax_cols,
        ),
        changes,
    )
    commit()

    for op, payload in ops:
        if op == "merge":
            batch = {k: (g, a) for k, g, a in payload}
            rows.update(batch)
            client.write_table(
                "base",
                spark.createDataFrame(
                    [Row(order_id=k, cust=g, amount=a)
                     for k, (g, a) in batch.items()]
                ),
                mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base", spark.createDataFrame([Row(order_id=k) for k in set(payload)])
            )
        consumed = client.consume_changes("base", "mm")
        if consumed is None:
            continue
        changes, _v, commit = consumed
        maintained = fold(maintained, changes)
        commit()

        want = {
            r["cust"]: r["lo"]
            for r in client.read_table("base").groupBy("cust").agg(
                F.min("amount").alias("lo")
            ).collect()
        }
        got = {r["cust"]: r["__mn_amount"] for r in maintained.collect()}
        assert got == want


#: nullable-amount variant of _ivm_ops: NULL measure values exercise the
#: SQL null semantics of every maintained aggregate at once (SUM/AVG ignore
#: nulls, MIN/MAX never surface them, and an all-NULL group emptying out
#: must not leave a phantom extremum row — fold_window's NULL-extremum arm)
_ivm_ops_nullable = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(st.integers(0, 9),
                          st.one_of(st.none(), st.integers(0, 3)),
                          st.one_of(st.none(), st.integers(0, 50))),
                min_size=1, max_size=5,
            ),
        ),
        st.tuples(st.just("delete"),
                  st.lists(st.integers(0, 9), min_size=1, max_size=3)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_ivm_ops_nullable, initial=st.lists(
    st.tuples(st.integers(0, 9),
              st.one_of(st.none(), st.integers(0, 3)),
              st.one_of(st.none(), st.integers(0, 50))),
    min_size=1, max_size=5,
))
@settings(**_SETTINGS)
def test_mv_facade_minmax_incremental_equals_recompute(
    spark, tmp_path_factory, ops, initial
):
    """The materialized-view facade end-to-end with MIN/MAX alongside
    moment aggregates: after every refresh the view must equal a
    from-scratch groupBy over the source — through inserts, group-moving
    updates, NULL measure values, and deletes that retire groups.  This
    pins the inner-join recombination of the moment state with the
    extremum state (both must reproduce the exact recompute group set)."""
    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("mvmm_wh")))
    rows = {k: (g, a) for k, g, a in initial}
    schema = "order_id int, cust int, amount int"
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame(
            [(k, g, a) for k, (g, a) in rows.items()], schema
        ),
    )
    client.create_materialized_view(
        "mv", "base", "cust",
        {"lo": ("min", "amount"), "hi": ("max", "amount"),
         "avg_amt": ("avg", "amount"), "n": ("count", "*")},
    )

    def check():
        client.refresh_materialized_view("mv")
        got = {
            r["cust"]: (r["lo"], r["hi"],
                        None if r["avg_amt"] is None else round(r["avg_amt"], 9),
                        r["n"])
            for r in client.read_materialized_view("mv").collect()
        }
        want = {
            r["cust"]: (r["lo"], r["hi"],
                        None if r["avg_amt"] is None else round(r["avg_amt"], 9),
                        r["n"])
            for r in client.read_table("base")
            .groupBy("cust")
            .agg(
                F.min("amount").alias("lo"), F.max("amount").alias("hi"),
                F.avg("amount").alias("avg_amt"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == want

    check()  # bootstrap refresh (offset 0 -> full compute_stats scan)
    for op, payload in ops:
        if op == "merge":
            batch = {k: (g, a) for k, g, a in payload}
            rows.update(batch)
            client.write_table(
                "base",
                spark.createDataFrame(
                    [(k, g, a) for k, (g, a) in batch.items()], schema
                ),
                mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base",
                spark.createDataFrame([Row(order_id=k) for k in set(payload)]),
            )
        check()


def test_mv_facade_null_group_key_regression(spark, tmp_path_factory):
    """Deterministic NULL-group-key pin (the hypothesis strategies above
    only sometimes draw one): SQL keeps a NULL-valued group like any other,
    so every maintenance join on the group key must pair NULLs null-safely.
    Each step targets one formerly-lossy join: delete the NULL group's
    extremum (affected-detection inner join + semi-pruned recompute), merge
    fresh rows into it (full-outer delta merge), move its last rows out
    (anti-join retirement), then re-create it from scratch."""
    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("nullg_wh")))
    schema = "order_id int, cust int, amount int"
    rows = {1: (None, 10), 2: (None, 5), 3: (0, 7), 4: (None, 10)}
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame([(k, g, a) for k, (g, a) in rows.items()], schema),
    )
    client.create_materialized_view(
        "mv", "base", "cust",
        {"lo": ("min", "amount"), "hi": ("max", "amount"),
         "total": ("sum", "amount"), "n": ("count", "*")},
    )

    def check():
        client.refresh_materialized_view("mv")
        got = {
            r["cust"]: (r["lo"], r["hi"], r["total"], r["n"])
            for r in client.read_materialized_view("mv").collect()
        }
        want = {
            r["cust"]: (r["lo"], r["hi"], r["total"], r["n"])
            for r in client.read_table("base").groupBy("cust").agg(
                F.min("amount").alias("lo"), F.max("amount").alias("hi"),
                F.sum("amount").cast("double").alias("total"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
        }
        assert got == want

    check()  # bootstrap: NULL group present from the first refresh
    steps = [
        ("delete", [1]),              # drops one copy of the NULL group's max
        ("merge", [(5, None, 20)]),   # fresh delta row lands in the NULL group
        ("delete", [4]),              # now the max really changes -> recompute
        ("merge", [(2, 0, 5), (5, 0, 20)]),  # move NULL group's last rows out
        ("merge", [(6, None, 1)]),    # brand-new NULL group from delta alone
    ]
    for op, payload in steps:
        if op == "merge":
            for k, g, a in payload:
                rows[k] = (g, a)
            client.write_table(
                "base",
                spark.createDataFrame(payload, schema), mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base", spark.createDataFrame([Row(order_id=k) for k in payload])
            )
        check()


#: join churn with NULLable amounts — exercises the join-view extremum fold
#: through the facade, including the phantom-pair netting (fact+dim double
#: updates, operators.ivm.net_signed)
_join_ivm_ops_nullable = st.lists(
    st.one_of(
        st.tuples(st.just("left"), st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 4),
                      st.one_of(st.none(), st.integers(0, 50))),
            min_size=1, max_size=4)),
        st.tuples(st.just("ldel"), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
        st.tuples(st.just("right"), st.lists(
            st.tuples(st.integers(0, 4),
                      st.one_of(st.none(), st.integers(0, 2))),
            min_size=1, max_size=3)),
        st.tuples(st.just("rdel"), st.lists(st.integers(0, 4), min_size=1, max_size=2)),
    ),
    min_size=1, max_size=4,
)


@given(
    ops=_join_ivm_ops_nullable,
    init_l=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 4),
                  st.one_of(st.none(), st.integers(0, 50))),
        min_size=1, max_size=5),
    init_r=st.lists(
        st.tuples(st.integers(0, 4),
                  st.one_of(st.none(), st.integers(0, 2))),
        min_size=1, max_size=4),
)
@settings(**_SETTINGS)
def test_mv_join_facade_minmax_incremental_equals_recompute(
    spark, tmp_path_factory, ops, init_l, init_r
):
    """MIN/MAX over a JOIN materialized view, end-to-end through the
    facade: after every refresh the view must equal a from-scratch groupBy
    of the joined final state — through order churn, dimension
    re-assignment, NULL measures, two-sided deletes, and windows where
    BOTH sides change at once (whose join-delta expansion emits the
    cancelling phantom pairs that apply_minmax_signed must net away)."""
    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("jmm_wh")))
    lrows = {k: (c, a) for k, c, a in init_l}
    rrows = {c: n for c, n in init_r}
    lschema = "order_id int, cust int, amount int"
    client.create_feature_table(
        "jorders", keys="order_id",
        df=spark.createDataFrame(
            [(k, c, a) for k, (c, a) in lrows.items()], lschema
        ),
    )
    client.create_feature_table(
        "jcust", keys="cust",
        df=spark.createDataFrame(
            [(c, n) for c, n in rrows.items()], "cust int, nation int"
        ),
    )
    client.create_materialized_view(
        "jmm", "jorders", "nation",
        {"lo": ("min", "amount"), "hi": ("max", "amount"),
         "total": ("sum", "amount"), "n": ("count", "*")},
        dim="jcust", join_on="cust",
    )

    def check():
        client.refresh_materialized_view("jmm")
        got = {
            r["nation"]: (r["lo"], r["hi"], r["total"], r["n"])
            for r in client.read_materialized_view("jmm").collect()
        }
        want = {
            r["nation"]: (r["lo"], r["hi"], r["total"], r["n"])
            for r in client.read_table("jorders")
            .join(client.read_table("jcust"), on="cust")
            .groupBy("nation")
            .agg(
                F.min("amount").alias("lo"), F.max("amount").alias("hi"),
                F.sum("amount").cast("double").alias("total"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == want

    check()
    for op, payload in ops:
        if op == "left":
            batch = {k: (c, a) for k, c, a in payload}
            lrows.update(batch)
            client.write_table("jorders", spark.createDataFrame(
                [(k, c, a) for k, (c, a) in batch.items()], lschema
            ), mode="merge")
        elif op == "ldel":
            for k in payload:
                lrows.pop(k, None)
            client.delete_from_table(
                "jorders",
                spark.createDataFrame([Row(order_id=k) for k in set(payload)]))
        elif op == "right":
            batch = dict(payload)
            rrows.update(batch)
            client.write_table("jcust", spark.createDataFrame(
                [(c, n) for c, n in batch.items()], "cust int, nation int"
            ), mode="merge")
        else:
            for c in payload:
                rrows.pop(c, None)
            client.delete_from_table(
                "jcust",
                spark.createDataFrame([Row(cust=c) for c in set(payload)]))
        check()


@given(ops=_ivm_ops, initial=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 5)),
    min_size=1, max_size=5,
))
@settings(**_SETTINGS)
def test_ivm_count_distinct_via_auxiliary_view(spark, tmp_path_factory, ops, initial):
    """COUNT DISTINCT maintenance through the auxiliary support-count view:
    after every window the derived (group, n_distinct) frame must equal a
    from-scratch countDistinct — including values shared by several rows
    (support > 1: one row's departure must NOT retire the value)."""
    from databricks_feature_store_flight_school_spark.operators.ivm import (
        apply_distinct, COUNT_COL,
    )

    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("cd_wh")))
    rows = {k: (g, a) for k, g, a in initial}
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame(
            [Row(order_id=k, cust=g, amount=a) for k, (g, a) in rows.items()]
        ),
    )
    schema = f"cust int, amount int, {COUNT_COL} bigint"
    aux = spark.createDataFrame([], schema)

    def step():
        nonlocal aux
        consumed = client.consume_changes("base", "cd")
        if consumed is None:
            return
        changes, _v, commit = consumed
        aux, derived = apply_distinct(aux, changes, "cust", "amount")
        aux = aux.localCheckpoint()
        commit()
        want = {
            r["cust"]: r["n"]
            for r in client.read_table("base")
            .groupBy("cust").agg(F.countDistinct("amount").alias("n")).collect()
        }
        got = {r["cust"]: r["n_distinct"] for r in derived.collect()}
        assert got == want

    step()
    for op, payload in ops:
        if op == "merge":
            batch = {k: (g, a) for k, g, a in payload}
            rows.update(batch)
            client.write_table(
                "base",
                spark.createDataFrame(
                    [Row(order_id=k, cust=g, amount=a)
                     for k, (g, a) in batch.items()]
                ),
                mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base", spark.createDataFrame([Row(order_id=k) for k in set(payload)])
            )
        step()


#: like _ivm_ops but amounts may be NULL — AVG/VAR/STDDEV/COUNT(col) must
#: ignore nulls (SQL semantics) while COUNT(*) still counts the row
_ivm_null_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(
                    st.integers(0, 9), st.integers(0, 3),
                    st.one_of(st.none(), st.integers(0, 50)),
                ),
                min_size=1, max_size=5,
            ),
        ),
        st.tuples(st.just("delete"),
                  st.lists(st.integers(0, 9), min_size=1, max_size=3)),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_ivm_null_ops, initial=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 3),
              st.one_of(st.none(), st.integers(0, 50))),
    min_size=1, max_size=5,
))
@settings(**_SETTINGS)
def test_materialized_view_incremental_equals_recompute(
    spark, tmp_path_factory, ops, initial
):
    """The create/refresh/read materialized-view facade must equal a
    from-scratch groupBy of the source's final state for every served
    aggregate — SUM, COUNT(*), COUNT(col), AVG, VAR_SAMP, STDDEV_SAMP —
    through inserts, group-moving updates, NULL measures, deletes, and
    groups retired entirely; each refresh sees only that window's change
    feed (exactly-once via the atomic applied-version publish)."""
    import math

    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    schema = StructType([
        StructField("order_id", IntegerType()),
        StructField("cust", IntegerType()),
        StructField("amount", IntegerType()),
    ])
    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("mv_wh")))
    rows = {k: (g, a) for k, g, a in initial}
    client.create_feature_table(
        "base", keys="order_id",
        df=spark.createDataFrame(
            [(k, g, a) for k, (g, a) in rows.items()], schema
        ),
    )
    client.create_materialized_view(
        "view", "base", "cust",
        {
            "total": ("sum", "amount"),
            "n_rows": ("count", "*"),
            "n_vals": ("count", "amount"),
            "mean": ("avg", "amount"),
            "vs": ("var_samp", "amount"),
            "sd": ("stddev_samp", "amount"),
        },
    )

    def check():
        client.refresh_materialized_view("view")
        got = {
            r["cust"]: (r["total"], r["n_rows"], r["n_vals"], r["mean"],
                        r["vs"], r["sd"])
            for r in client.read_materialized_view("view").collect()
        }
        want = {
            r["cust"]: (r["total"], r["n_rows"], r["n_vals"], r["mean"],
                        r["vs"], r["sd"])
            for r in client.read_table("base").groupBy("cust").agg(
                F.sum("amount").cast("double").alias("total"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count("amount").alias("n_vals"),
                F.avg("amount").alias("mean"),
                F.var_samp("amount").alias("vs"),
                F.stddev_samp("amount").alias("sd"),
            ).collect()
        }
        assert set(got) == set(want)
        for k in got:
            for a, b in zip(got[k], want[k]):
                if a is None or b is None:
                    assert a == b, (k, got[k], want[k])
                else:
                    assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9), (
                        k, got[k], want[k]
                    )

    check()
    for op, payload in ops:
        if op == "merge":
            batch = {k: (g, a) for k, g, a in payload}
            rows.update(batch)
            client.write_table(
                "base",
                spark.createDataFrame(
                    [(k, g, a) for k, (g, a) in batch.items()], schema
                ),
                mode="merge",
            )
        else:
            for k in payload:
                rows.pop(k, None)
            client.delete_from_table(
                "base", spark.createDataFrame([Row(order_id=k) for k in set(payload)])
            )
        check()


#: churn either side of the join: ("left", [(order_id, cust, amount)...]),
#: ("ldel", [order_id...]), ("right", [(cust, nation)...]), ("rdel", [cust...])
_join_ivm_ops = st.lists(
    st.one_of(
        st.tuples(st.just("left"), st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 4), st.integers(0, 50)),
            min_size=1, max_size=4)),
        st.tuples(st.just("ldel"), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
        st.tuples(st.just("right"), st.lists(
            st.tuples(st.integers(0, 4),
                      st.one_of(st.none(), st.integers(0, 2))),
            min_size=1, max_size=3)),
        st.tuples(st.just("rdel"), st.lists(st.integers(0, 4), min_size=1, max_size=2)),
    ),
    min_size=1, max_size=4,
)


@given(
    ops=_join_ivm_ops,
    init_l=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 4), st.integers(0, 50)),
        min_size=1, max_size=5),
    init_r=st.lists(
        st.tuples(st.integers(0, 4),
                  st.one_of(st.none(), st.integers(0, 2))),
        min_size=1, max_size=4),
)
@settings(**_SETTINGS)
def test_ivm_join_view_deltas(spark, tmp_path_factory, ops, init_l, init_r):
    """Aggregate over an equi-JOIN maintained from BOTH sides' change feeds
    (Gupta & Mumick's join rule, double-counting-free form
    ΔR⨝S_new ∪ R_old⨝ΔS): per-nation order totals over
    orders ⨝ customer-dim must equal a from-scratch recompute of the joined
    final state through order churn, dimension re-assignment (a customer
    moving nations moves ALL its orders' contributions), and deletes on
    either side — including windows where both sides change at once."""
    from databricks_feature_store_flight_school_spark.operators.ivm import (
        compute_stats, derive_stats, fold_window, join_deltas, signed_changes,
    )

    client = FeatureStoreClient(spark, str(tmp_path_factory.mktemp("jivm_wh")))
    lrows = {k: (c, a) for k, c, a in init_l}
    rrows = {c: n for c, n in init_r}
    client.create_feature_table(
        "orders_j", keys="order_id",
        df=spark.createDataFrame(
            [Row(order_id=k, cust=c, amount=a) for k, (c, a) in lrows.items()]
        ),
    )
    client.create_feature_table(
        "custdim_j", keys="cust",
        df=spark.createDataFrame(
            [(c, n) for c, n in rrows.items()], "cust int, nation int"
        ),
    )

    def joined(lv, rv):
        return client.read_table("orders_j", version=lv).join(
            client.read_table("custdim_j", version=rv), on="cust", how="inner"
        )

    vl, vr = 1, 1
    agg = compute_stats(joined(vl, vr), "nation", ["amount"]).localCheckpoint()

    for op, payload in ops:
        if op == "left":
            batch = {k: (c, a) for k, c, a in payload}
            lrows.update(batch)
            client.write_table("orders_j", spark.createDataFrame(
                [Row(order_id=k, cust=c, amount=a) for k, (c, a) in batch.items()]
            ), mode="merge")
        elif op == "ldel":
            for k in payload:
                lrows.pop(k, None)
            client.delete_from_table(
                "orders_j",
                spark.createDataFrame([Row(order_id=k) for k in set(payload)]))
        elif op == "right":
            batch = dict(payload)
            rrows.update(batch)
            client.write_table("custdim_j", spark.createDataFrame(
                [(c, n) for c, n in batch.items()], "cust int, nation int"
            ), mode="merge")
        else:
            for c in payload:
                rrows.pop(c, None)
            client.delete_from_table(
                "custdim_j",
                spark.createDataFrame([Row(cust=c) for c in set(payload)]))

        nvl = client.get_feature_table("orders_j").current_version
        nvr = client.get_feature_table("custdim_j").current_version
        d_l = (
            signed_changes(client.table_changes("orders_j", vl, nvl), "order_id")
            if nvl > vl else None
        )
        d_r = (
            signed_changes(client.table_changes("custdim_j", vr, nvr), "cust")
            if nvr > vr else None
        )
        if d_l is not None or d_r is not None:
            sd = join_deltas(
                d_l,
                client.read_table("custdim_j", version=nvr),
                client.read_table("orders_j", version=vl),
                d_r,
                on="cust",
            )
            agg = fold_window(
                agg, sd, "nation", ["amount"], {}, None
            ).localCheckpoint()
        vl, vr = nvl, nvr

        want = {
            r["nation"]: (r["total"], r["n"])
            for r in joined(vl, vr).groupBy("nation").agg(
                F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n")
            ).collect()
        }
        got = {
            r["nation"]: (r["total"], r["n"])
            for r in derive_stats(
                agg, "nation", {"total": ("sum", "amount"), "n": ("count", "*")}
            ).collect()
        }
        assert got == want


# documents are 1-3 words drawn from a tiny vocabulary so exact duplicates
# occur often; ids are assigned by position (unique, deterministic)
_doc_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=3).map(
        " ".join
    ),
    min_size=1,
    max_size=8,
)


@given(corpus_texts=_doc_texts, batch_texts=_doc_texts)
@settings(**_SETTINGS)
def test_incremental_dedup_exact_layer_matches_python_model(
    spark, corpus_texts, batch_texts
):
    """incremental_dedup(threshold=None) against a Python model: accept a
    batch row iff it is the FIRST occurrence of its text within the batch
    (min id) and the text does not appear anywhere in the corpus.  Random
    tiny-vocabulary docs make exact collisions (within batch and across)
    frequent; ids never collide (corpus 0.., batch 1000..)."""
    from databricks_feature_store_flight_school_spark.operators import (
        build_dedup_index,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus_texts)]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=1000 + i, text=t) for i, t in enumerate(batch_texts)]
    )
    index = build_dedup_index(corpus, "doc_id", "text")
    accepted, acc_index = incremental_dedup(
        batch, index, "doc_id", "text", threshold=None
    )

    corpus_set = set(corpus_texts)
    seen: set[str] = set()
    want: set[int] = set()
    for i, t in enumerate(batch_texts):
        if t not in corpus_set and t not in seen:
            want.add(1000 + i)
        seen.add(t)
    got = {r["doc_id"] for r in accepted.collect()}
    assert got == want
    # the returned index rows cover exactly the accepted ids, hash non-null
    rows = acc_index.collect()
    assert {r["doc_id"] for r in rows} == want
    assert all(r["content_hash"] is not None for r in rows)
