"""The benchmark's workloads. Each is a closed loop with one caller: every
call waits for the previous one.

A workload has ``prepare`` (untimed: bootstrap state and run every code path
once), ``iteration`` (one timed unit: a batch or a catalog pass; every call
into a layer is a span) and ``check`` (the end-of-run correctness gate).
Inline and end-of-run check failures go to ``failures``, each message led by
the op it concerns (``read: ...``); ``attempted`` counts every call the
workload makes (warm and timed) plus its checks.
"""

from __future__ import annotations

import math
import os
import statistics

#: Feature-store sizes. 0.5% of the keys change per batch, so the two known
#: hot spots stay the slowest calls of a batch: the incremental online sync
#: issues one unindexed DELETE per changed key (O(changes x table rows)) and
#: the view refresh full-outer-joins two whole snapshots.
FS_KEYS, FS_CHANGES, FS_DELETES, FS_READS = 10_000, 50, 5, 50
FS_PLANNED_BATCHES = 24  # one warm batch + at most this many minus one timed
FEATURES = ["NumOptionalServices", "Contract", "AvgPriceIncrease"]
WEIGHTS = {"NumOptionalServices": -1.0, "Contract": -0.2, "AvgPriceIncrease": 0.5}
BIAS = 2.0

#: Catalog scale and queries: the six short ones are the bypass set for
#: operator changes; the last two are ROADMAP tail targets (MinHash LSH
#: near-dup, percentiles).
CATALOG_SF = 0.01
CATALOG_QUERIES = [
    "q_flagship_regional_revenue", "q_shipping_priority", "q_user_event_stats",
    "q_text_stats", "q_doc_fingerprint", "q_cosine_topk",
    "q_minhash_lsh_neardup", "q_percentiles",
]


def _close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is; ``(None, None)`` below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    return sorted(values)[n - 11], int(100 * (n - 10) / n)


def _predict(row: dict) -> bool:
    """Plain-Python ``LinearThresholdModel``; a null feature scores NaN,
    which is never above the threshold."""
    if any(row[f] is None for f in FEATURES):
        return False
    return BIAS + sum(w * float(row[f]) for f, w in WEIGHTS.items()) > 0.0


class FsUpserts:
    """Small-commit stream on one telco feature table with a materialized
    view and an online mirror. Per batch: merge ~0.5% of the keys, delete a
    few, read 50 written keys back, score the changed keys, refresh the
    view, sync the mirror incrementally."""

    name = "fs_upserts"
    ops = {  # span -> report name
        "featurestore.writer.commit": "commit",
        "featurestore.client.read_table": "read",
        "featurestore.scoring.score_batch": "score",
        "operators.ivm.refresh_mv": "mv_refresh",
        "featurestore.online.publish_incremental": "online_sync",
    }

    def make_inputs(self, outdir: str, seed: int) -> dict:
        from inputs import gen_upserts

        return gen_upserts(outdir, seed, FS_KEYS, FS_CHANGES, FS_DELETES,
                           FS_READS, FS_PLANNED_BATCHES)

    def input_tag(self) -> str:
        return (f"k{FS_KEYS}-c{FS_CHANGES}-d{FS_DELETES}-r{FS_READS}"
                f"-b{FS_PLANNED_BATCHES}")

    def input_sizes(self, inputs: dict) -> dict:
        return {"keys": len(inputs["bootstrap_rows"]), "changes_per_batch": FS_CHANGES,
                "deletes_per_batch": FS_DELETES, "reads_per_batch": FS_READS,
                "planned_batches": len(inputs["batches"])}

    def prepare(self, spark, inputs: dict, work: str, spans) -> None:
        from inputs import bootstrap_table

        from databricks_feature_store_flight_school_spark.featurestore.client import FeatureStoreClient
        from databricks_feature_store_flight_school_spark.featurestore.lookups import FeatureLookup
        from databricks_feature_store_flight_school_spark.featurestore.online import EmbeddedDerbySpec
        from databricks_feature_store_flight_school_spark.featurestore.scoring import LinearThresholdModel
        from databricks_feature_store_flight_school_spark.flows import telco

        self.spark, self.inputs, self.telco = spark, inputs, telco
        self.failures: list[str] = []
        self.attempted = 0
        self.batch = 0
        self.expected = bootstrap_table(inputs)
        self.client = client = FeatureStoreClient(spark, os.path.join(work, "warehouse"))
        self.online = EmbeddedDerbySpec(os.path.join(work, "online_db"))
        self.model_dir = os.path.join(work, "model")
        svc = self._service_frame(inputs["bootstrap_csv"])
        with spans("featurestore.client.create_feature_table"):
            client.create_feature_table("service_features", keys="customerID",
                                        schema=svc.schema, description="telco services")
        with spans("featurestore.writer.write_initial"):
            client.write_table("service_features", svc, mode="merge")
        client.create_materialized_view(
            "charges_by_payment", "service_features", "PaymentMethod",
            {"customers": ("count", "*"), "monthly_sum": ("sum", "MonthlyCharges"),
             "monthly_max": ("max", "MonthlyCharges")},
        )
        client.refresh_materialized_view("charges_by_payment")
        keys = spark.createDataFrame([(k,) for k in list(self.expected)[:10]], "customerID long")
        training = client.create_training_set(
            keys, [FeatureLookup("service_features", "customerID", FEATURES)]
        )
        client.log_model(self.model_dir, LinearThresholdModel(WEIGHTS, BIAS, 0.0), training)
        with spans("featurestore.online.publish_full"):
            # the first incremental publish bootstraps the mirror in full
            client.publish_table("service_features", online_store=self.online,
                                 mode="incremental")
        self.iteration(spans)  # warm batch: every timed code path once

    def _service_frame(self, csv_path: str):
        from pyspark.sql import functions as F

        t = self.telco
        return t.add_v2_service_features(
            t.compute_service_features(t.clean_telco(t.ingest_telco_csv(self.spark, csv_path)))
        ).withColumn("customerID", F.substring_index("customerID", "-", 1).cast("long"))

    def iteration(self, spans) -> None:
        from inputs import apply_batch, key
        from pyspark.sql import functions as F

        if self.batch >= len(self.inputs["batches"]):
            raise RuntimeError("batch plan exhausted; raise FS_PLANNED_BATCHES")
        plan = self.inputs["batches"][self.batch]
        client, spark = self.client, self.spark
        self.batch += 1
        apply_batch(self.expected, plan)
        self.attempted += 6
        with spans("featurestore.writer.commit"):
            client.write_table("service_features", self._service_frame(plan["delta_csv"]),
                               mode="merge")
        with spans("featurestore.writer.commit"):
            client.delete_from_table(
                "service_features",
                spark.createDataFrame([(k,) for k in plan["deletes"]], "customerID long"),
            )
        with spans("featurestore.client.read_table"):
            got = client.read_table("service_features").where(
                F.col("customerID").isin(plan["reads"])).collect()
        changed = [key(r[0]) for r in plan["rows"]]
        with spans("featurestore.scoring.score_batch"):
            preds = client.score_batch(
                self.model_dir, spark.createDataFrame([(k,) for k in changed], "customerID long"),
            ).select("customerID", "prediction").collect()
        with spans("operators.ivm.refresh_mv"):
            client.refresh_materialized_view("charges_by_payment")
        with spans("featurestore.online.publish_incremental"):
            client.publish_table("service_features", online_store=self.online,
                                 mode="incremental")
        bad = self._diff_rows({r["customerID"]: r.asDict() for r in got},
                              {k: self.expected[k] for k in plan["reads"]})
        if bad:
            self.failures.append(f"read: batch {self.batch}: read-after-write {bad}")
        want = {k: _predict(self.expected[k]) for k in changed}
        if {r["customerID"]: r["prediction"] for r in preds} != want:
            self.failures.append(f"score: batch {self.batch}: predictions differ")

    @staticmethod
    def _diff_rows(got: dict, want: dict) -> str | None:
        if set(got) != set(want):
            return f"keys differ ({len(set(got) ^ set(want))} of {len(want)})"
        for k, exp in want.items():
            for col, v in exp.items():
                same = _close(got[k][col], v) if isinstance(v, float) else got[k][col] == v
                if not same:
                    return f"{k}.{col}: got {got[k][col]!r}, want {v!r}"
        return None

    def op_latencies(self, spans) -> dict[str, list[float]]:
        return {op: spans.walls(span) for span, op in self.ops.items()}

    def op_counts(self, spans) -> dict[str, tuple[int, int]]:
        """Per op: timed calls, and failures (a raised call or a failed
        check, warm batch and end-of-run gate included)."""
        return {op: (len(spans.walls(span)),
                     sum(f.startswith((op + ":", span + ":")) for f in self.failures))
                for span, op in self.ops.items()}

    def named_metrics(self, ops: dict, iters: list[float]) -> dict[str, float]:
        out = {"batch_s": statistics.median(iters)} if iters else {}
        for op, v in ops.items():
            if v:
                out[f"{op}_p50_s"] = statistics.median(v)
        for op in ("commit", "read"):
            if tail(ops[op])[0] is not None:
                out[f"{op}_tail_s"] = tail(ops[op])[0]
        return out

    def check(self) -> None:
        client, spark = self.client, self.spark
        snap = {r["customerID"]: r.asDict() for r in client.read_table("service_features").collect()}
        bad = self._diff_rows(snap, self.expected)
        if bad:
            self.failures.append(f"commit: final snapshot: {bad}")
        groups: dict[str, list[float]] = {}
        for row in self.expected.values():
            groups.setdefault(row["PaymentMethod"], []).append(row["MonthlyCharges"])
        view = {r["PaymentMethod"]: r for r in client.read_materialized_view("charges_by_payment").collect()}
        if set(view) != set(groups) or any(
            view[g]["customers"] != len(v) or not _close(view[g]["monthly_sum"], sum(v), 1e-6)
            or not _close(view[g]["monthly_max"], max(v))
            for g, v in groups.items()
        ):
            self.failures.append("mv_refresh: view differs from the expected table")
        url, props = self.online.jdbc_options()
        mirror = spark.read.format("jdbc").option("url", url).option(
            "dbtable", "service_features").options(**props).load()
        online = {r["customerID"]: r.asDict() for r in mirror.collect()}
        bad = self._diff_rows(online, self.expected)
        if bad:
            self.failures.append(f"online_sync: online mirror: {bad}")
        self.attempted += 3


class CatalogMix:
    """One pass over catalog queries on generated star-schema, document and
    embedding data; each query is built, then forced to the noop sink."""

    name = "catalog_mix"

    def make_inputs(self, outdir: str, seed: int) -> dict:
        from inputs import gen_catalog

        return gen_catalog(outdir, seed, CATALOG_SF)

    def input_tag(self) -> str:
        return f"sf{CATALOG_SF}"

    def input_sizes(self, inputs: dict) -> dict:
        import pyarrow.parquet as pq

        return {"sf": inputs["sf"], **{
            f[:-8]: pq.ParquetFile(os.path.join(inputs["sf_dir"], f)).metadata.num_rows
            for f in sorted(os.listdir(inputs["sf_dir"])) if f.endswith(".parquet")
        }}

    def prepare(self, spark, inputs: dict, work: str, spans) -> None:
        """The correctness gate doubles as the warm pass: every query runs
        once here, untimed, against its DuckDB oracle twin or, for the
        rows-only near-duplicate query, against exact Jaccard."""
        import duckdb
        from check_oracle import compare_query

        from databricks_feature_store_flight_school_spark.plans import catalog
        from databricks_feature_store_flight_school_spark.sources import TABLES

        self.spark, self.sf_dir = spark, inputs["sf_dir"]
        self.failures: list[str] = []
        self.attempted = 0
        self.qmap, omap = catalog.query_map(), catalog.oracle_map()
        con = duckdb.connect()
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
        con.execute("SET threads=2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, t + '.parquet')}')")
        for q in CATALOG_QUERIES:
            self.attempted += 1
            if q == "q_minhash_lsh_neardup":
                msg = self._check_neardup()
            else:
                msg = compare_query(spark, con, self.qmap, omap, q, self.sf_dir)
            if msg:
                self.failures.append(f"{q}: {msg}")
        con.close()

    def _check_neardup(self) -> str | None:
        """Precision against exact word-3-gram Jaccard and recall of the
        generator's planted near-duplicates (every 20th doc copies its
        predecessor with two words replaced) whose exact Jaccard >= 0.7,
        where 16x4 banding misses a pair with probability < 2%."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet")).to_pydict()
        sh = {}
        for i, text in zip(docs["doc_id"], docs["text"]):
            t = text.strip().split(" ")
            sh[i] = {" ".join(t[j:j + 3]) for j in range(len(t) - 2)}

        def jac(a, b):
            return len(sh[a] & sh[b]) / len(sh[a] | sh[b]) if sh[a] | sh[b] else 0.0

        got = self.qmap["q_minhash_lsh_neardup"](self.spark, self.sf_dir).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in got}
        wrong = [r for r in got if jac(r["id_a"], r["id_b"]) < 0.5
                 or abs(jac(r["id_a"], r["id_b"]) - r["jaccard"]) > 1e-6]
        planted = [(i - 1, i) for i in sh if i % 20 == 19 and jac(i - 1, i) >= 0.7]
        found = sum(p in pairs for p in planted)
        if wrong:
            return f"precision: {len(wrong)} of {len(got)} pairs below exact Jaccard 0.5"
        if not planted or found < 0.9 * len(planted):
            return f"recall: {found} of {len(planted)} planted near-duplicates found"
        return None

    def iteration(self, spans) -> None:
        for q in CATALOG_QUERIES:
            self.attempted += 1
            try:
                with spans(f"plans.{q}.build"):
                    df = self.qmap[q](self.spark, self.sf_dir)
                with spans(f"plans.{q}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted, reported
                self.failures.append(f"{q}: {type(exc).__name__}: {exc}")

    def op_counts(self, spans) -> dict[str, tuple[int, int]]:
        """Per query: timed passes, and failures (a raised call or a failed
        oracle check)."""
        return {q: (len(spans.walls(f"plans.{q}.build")),
                    sum(f.startswith((q + ":", f"plans.{q}.")) for f in self.failures))
                for q in CATALOG_QUERIES}

    def op_latencies(self, spans) -> dict[str, list[float]]:
        return {q: [b + e for b, e in zip(spans.walls(f"plans.{q}.build"),
                                          spans.walls(f"plans.{q}.exec"))]
                for q in CATALOG_QUERIES}

    def named_metrics(self, ops: dict, iters: list[float]) -> dict[str, float]:
        medians = [statistics.median(v) for v in ops.values() if v]
        return {"catalog_pass_s": statistics.median(iters),
                "query_geomean_s": geomean(medians)} if iters and medians else {}

    def check(self) -> None:
        """The gate ran in ``prepare``; nothing further to verify."""


WORKLOADS = {w.name: w for w in (FsUpserts(), CatalogMix())}
