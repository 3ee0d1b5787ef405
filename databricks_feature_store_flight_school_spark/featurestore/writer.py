"""Merge-upsert writer with schema evolution (SURVEY.md §2.1 S8 — the
reference's ``compute_and_write(..., mode='merge')``, FS:230-231/FS:435).

Semantics reproduced exactly:

- **merge**: primary-key upsert — matched target rows take ALL source column
  values, unmatched source rows are inserted (Delta
  ``whenMatchedUpdateAll/whenNotMatchedInsertAll``);
- **schema evolution**: source may carry columns the target lacks
  (FS:411-435 adds NumOptionalServices/AvgPriceIncrease through a merge);
  new columns appear in the result, null for rows not touched by the merge;
- **overwrite**: full replace.

Physical strategy: :func:`merge_into_delta` wires OSS delta-spark's
``DeltaTable.merge`` with ``spark.databricks.delta.schema.autoMerge.enabled``
(the transactional path for a real cluster).  The client writes versioned
parquet snapshots, one merge form for every merge —

    read target vN  ->  LEFT ANTI join on the source keys (null-safe)  ->
    unionByName(allowMissingColumns=True) with the source  ->  stage  ->
    adjudicate  ->  CAS-publish vN+1

Every write (merge, overwrite, delete, restore, compaction) commits through
:func:`_publish`: it stages into a uniquely named directory, then the
registry renames it to ``v{N}`` and flips ``current_version`` atomically, so
concurrent readers keep a consistent snapshot (non-transactional across
tables, documented).

Scale notes: the merge never shuffles the target — matched rows drop
through the anti join (broadcast while the source slice is small), and only
the source is shuffled on the primary key (the validation window, or
``dropDuplicates`` under ``validate=False``).  New-version writes rewrite the
full snapshot (Delta would rewrite only touched files); at 100 TB the Delta
path is the one to enable — same API, one config.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions import quote
from .registry import FeatureTableMeta, Registry, version_schema


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version:06d}")


def read_snapshot(
    spark: SparkSession,
    registry: Registry,
    meta: FeatureTableMeta,
    version: int | None = None,
    as_of: float | str | None = None,
) -> DataFrame:
    """Contents of a feature table (S4: ``fs.read_table``).

    ``version`` time-travels to an earlier snapshot — every merge/overwrite
    lands in its own ``v{N}`` directory, so history is queryable for free
    (the parquet-snapshot analog of Delta's ``versionAsOf``).  ``as_of``
    (epoch seconds or an ISO ``YYYY-MM-DD[ HH:MM:SS]`` string, UTC) is the
    ``timestampAsOf`` analog: the newest version PUBLISHED at or before the
    instant, resolved from the registry's per-version publish history."""
    if meta.current_version == 0:
        raise ValueError(f"feature table {meta.name} has no data yet")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version= or as_of=, not both")
        version = _resolve_as_of(meta, as_of)
    if version is None:
        version = meta.current_version
    if not 1 <= version <= meta.current_version:
        raise ValueError(
            f"version {version} out of range [1, {meta.current_version}] "
            f"for {meta.name}"
        )
    vdir = _version_dir(registry.table_dir(meta.name), version)
    if not os.path.isdir(vdir):
        raise ValueError(
            f"version {version} of {meta.name} was retired by "
            f"vacuum_snapshots; only versions still on disk are readable "
            f"(current: v{meta.current_version})"
        )
    schema_json = version_schema(meta, version)
    if schema_json is None:  # published before schemas were recorded
        return spark.read.parquet(vdir)
    # the recorded schema spares the parquet footer-inference job
    return spark.read.schema(StructType.fromJson(json.loads(schema_json))).parquet(vdir)


def _resolve_as_of(meta: FeatureTableMeta, as_of: float | str) -> int:
    """Newest version with publish-instant <= as_of (timestampAsOf)."""
    if isinstance(as_of, str):
        from datetime import datetime, timezone

        fmt = "%Y-%m-%d %H:%M:%S" if " " in as_of else "%Y-%m-%d"
        as_of = datetime.strptime(as_of, fmt).replace(
            tzinfo=timezone.utc
        ).timestamp()
    history = (getattr(meta, "properties", {}) or {}).get("version_history", {})
    eligible = [int(v) for v, ts in history.items() if ts <= as_of]
    if not eligible:
        raise ValueError(
            f"no version of {meta.name} existed at or before {as_of} "
            f"(earliest publish: {min(history.values()) if history else 'none recorded'})"
        )
    return max(eligible)


def write_snapshot(
    registry: Registry, meta: FeatureTableMeta, df: DataFrame, mode: str,
    validate: bool = True, properties_update: dict | None = None,
) -> FeatureTableMeta:
    """Write ``df`` into the feature table; returns updated metadata.

    mode='overwrite' -> replace; mode='merge' -> PK upsert with schema
    evolution (see module docstring).

    ``validate`` (default on) rejects sources Delta's MERGE would reject —
    null key columns, or several source rows for one key (whose winner would
    otherwise be arbitrary).  Into a table with data the check rides the
    staging write as observed metrics (no extra job on the happy path); into
    an empty table it is one small aggregate job over the source.  With
    ``validate=False`` one arbitrary source row per key is merged (null keys
    match each other); pass it only for sources already known clean.

    ``properties_update`` lands in the registry atomically with the version
    flip (registry.publish_version) — see the materialized-view refresh for
    why that matters.
    """
    if mode not in ("merge", "overwrite"):
        raise ValueError(f"unsupported write mode: {mode}")
    merge_keys = meta.merge_keys
    missing = [k for k in merge_keys if k not in df.columns]
    if missing:
        raise ValueError(f"source is missing primary key column(s) {missing}")
    expectations = (getattr(meta, "properties", {}) or {}).get("expectations", {})

    checks = []  # adjudicated after the staging write, before publish
    merged = df
    if mode == "merge":
        if not validate:
            merged = df.dropDuplicates(merge_keys)
        elif meta.current_version == 0:
            # no target to ride: the separate aggregate shuffles only
            # (key, count) partials, far fewer bytes than a full-row window
            # over the initial load would (guide §2.3)
            _validate_source(df, merge_keys, meta.name)
        else:
            merged, key_obs = _observe_source_keys(df, merge_keys)
            checks.append(lambda: _check_validation_metrics(
                key_obs.get, df, merge_keys, meta.name
            ))
        if meta.current_version > 0:
            target = read_snapshot(df.sparkSession, registry, meta)
            merged = _merge_frames(target, merged, merge_keys)
    # expectations check the MERGED result, not the raw source: that is the
    # state the table would land in (Delta CHECK semantics), and it keeps a
    # schema-evolving merge source that legitimately omits a constrained
    # column checkable (the merged frame carries the target's columns).
    # Violation counting rides the write action (observe); drop-action
    # predicates filter inline (unconditional — filtering zero violating
    # rows is a no-op); fail/warn adjudicate post-write, pre-publish.
    if validate and expectations:
        merged, expect_obs = _apply_expectations_observed(
            merged, expectations, meta.name
        )
        checks.append(lambda: _check_expectation_metrics(
            expect_obs.get, expectations, meta.name
        ))

    cluster = [c for c in getattr(meta, "cluster_columns", []) if c in merged.columns]
    if cluster:
        # range partition + in-file sort: parquet min/max stats become
        # selective on the cluster key (row-group skipping at read time)
        merged = merged.repartitionByRange(*cluster).sortWithinPartitions(*cluster)
    return _publish(registry, meta, merged, checks, properties_update)


def _publish(
    registry: Registry, meta: FeatureTableMeta, df: DataFrame,
    checks: list | tuple = (), properties_update: dict | None = None,
) -> FeatureTableMeta:
    """Stage ``df`` as the table's next version and CAS-publish it — the one
    commit path of every write in this module.  Refreshes ``meta`` in place.

    The staging dir carries a per-call unique token: two writers, even in
    one process, never share one, so a loser's parquet job cannot clobber
    the files the winner staged before the registry check notices.  Each of
    ``checks`` adjudicates metrics observed during the staging write; one
    that raises deletes the staging dir, so a rejected write never publishes.
    """
    table_dir = registry.table_dir(meta.name)
    expected = meta.current_version
    staging = os.path.join(
        table_dir, f".staging-v{expected + 1:06d}-{uuid.uuid4().hex}"
    )
    out = df.write.mode("overwrite")
    if meta.partition_columns:
        out = out.partitionBy(*meta.partition_columns)
    out.parquet(staging)
    try:
        for check in checks:
            check()
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    updated = registry.publish_version(
        meta.name,
        expected_version=expected,
        staging_dir=staging,
        final_dir=_version_dir(table_dir, expected + 1),
        schema_json=df.schema.json(),
        properties_update=properties_update,
    )
    meta.current_version = updated.current_version
    meta.schema_json = updated.schema_json
    return updated


def _any_null(keys: list[str]) -> Column:
    return reduce(lambda a, b: a | b, [F.col(quote(k)).isNull() for k in keys])


def _validate_source(df: DataFrame, keys: list[str], table: str) -> None:
    """One aggregate pass: no null keys, no duplicate key tuples (the
    conditions under which a merge result would be nondeterministic)."""
    bad = (
        df.groupBy(*[quote(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("__n"))
        .where((F.col("__n") > 1) | _any_null(keys))
        .limit(1)
        .collect()
    )
    if bad:
        row = bad[0]
        keyvals = {k: row[k] for k in keys}
        if any(v is None for v in keyvals.values()):
            raise ValueError(f"merge source for {table} has null key(s): {keyvals}")
        raise ValueError(
            f"merge source for {table} has {row['__n']} rows for key {keyvals}; "
            "a merge winner would be arbitrary (Delta MERGE rejects this too). "
            "Deduplicate the source or pass validate=False."
        )


_EXPECTATION_ACTIONS = ("fail", "drop", "warn")


def _normalize_expectations(expectations: dict) -> dict[str, tuple[str, str]]:
    """name -> (predicate, action).  A plain string value is the original
    fail-on-violation form; a dict value carries DLT-style actions:
    ``{"predicate": "x >= 0", "action": "fail"|"drop"|"warn"}``."""
    out = {}
    for name, spec in expectations.items():
        if isinstance(spec, str):
            out[name] = (spec, "fail")
        else:
            action = spec.get("action", "fail")
            if action not in _EXPECTATION_ACTIONS:
                raise ValueError(
                    f"expectation {name!r}: unknown action {action!r} "
                    f"(use one of {_EXPECTATION_ACTIONS})"
                )
            out[name] = (spec["predicate"], action)
    return out


def _observe_source_keys(source: DataFrame, keys: list[str]):
    """Source-key validation fused into the write action (r14): the max
    source rows per key and the null-key row count ride an ``observe`` over
    a key-partitioned window on the source, instead of a separate
    groupBy+collect job.  Returns ``(source, Observation)``; the caller runs
    an action and then adjudicates with :func:`_check_validation_metrics`.
    """
    obs = Observation()
    per_key = Window.partitionBy(*[quote(k) for k in keys])
    counted = source.withColumn(
        "__src_n", F.count(F.lit(1)).over(per_key)
    ).observe(
        obs,
        F.coalesce(F.max("__src_n"), F.lit(0)).alias("dup_max"),
        F.coalesce(
            F.sum(F.when(_any_null(keys), 1).otherwise(0)), F.lit(0)
        ).alias("null_keys"),
    )
    return counted.select(*[quote(c) for c in source.columns]), obs


def _merge_frames(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert of ``source`` onto ``target`` by ``keys``, admitting
    source-only columns (schema evolution): Delta's MERGE ... WHEN MATCHED
    UPDATE SET * / WHEN NOT MATCHED INSERT * observable semantics — for a
    matched key the SOURCE row wins in full (including nulls it carries);
    target rows never matched keep their values with null in any evolved
    column.  ``source`` must hold one row per key (validated or
    deduplicated by the caller).

    The target is never shuffled: matched rows drop via a null-safe LEFT
    ANTI join against the source keys (broadcast while the source slice is
    small; AQE falls back to a shuffled anti for genuinely large sources).
    """
    return _without_keys(target, source, keys).unionByName(
        source, allowMissingColumns=True
    )


def _without_keys(target: DataFrame, keys_df: DataFrame, keys: list[str]) -> DataFrame:
    """``target`` minus the rows whose key tuple appears in ``keys_df``:
    a LEFT ANTI join that pairs keys with ``<=>``, so a NULL key (written
    by a ``validate=False`` merge) matches a NULL key like any other value.
    Duplicate rows in ``keys_df`` change nothing: an anti join only asks
    whether a match exists."""
    # rename the join side's keys: target and keys_df frequently share
    # lineage (an update slice derived from read_table of the same
    # snapshot), where bare attribute references are ambiguous
    skeys = keys_df.select(*[F.col(quote(k)).alias(f"__sk_{k}") for k in keys])
    cond = reduce(
        lambda a, b: a & b,
        [F.col(quote(k)).eqNullSafe(F.col(quote(f"__sk_{k}"))) for k in keys],
    )
    return target.join(skeys, on=cond, how="left_anti")


def _check_validation_metrics(
    metrics: dict, source: DataFrame, keys: list[str], table: str
) -> None:
    """Adjudicate :func:`_observe_source_keys`'s observation after the
    write action.  On violation, re-run the classic one-pass validator to
    produce the same detailed error message (failure path only — the
    happy path never pays a second job)."""
    if metrics["dup_max"] > 1 or metrics["null_keys"] > 0:
        _validate_source(source, keys, table)
        # the aggregate raced a concurrent mutation of the source between
        # the write and the re-check; reject loudly rather than publish
        raise ValueError(
            f"merge source for {table} failed validation during the write "
            f"(max rows per key {metrics['dup_max']}, null-key rows "
            f"{metrics['null_keys']}) but passed a re-check; source is "
            f"nondeterministic — stabilize it or pass validate=False"
        )


def _apply_expectations_observed(
    df: DataFrame, expectations: dict, table: str
):
    """Expectation enforcement fused into the write action (r14): violation
    counts ride an ``observe`` over the pre-drop frame instead of a
    separate aggregate job; ``drop`` predicates filter inline
    (unconditionally — filtering zero violating rows is the identity).
    ``fail``/``warn`` adjudicate in :func:`_check_expectation_metrics`
    after the write, before publish, so a rejected write never publishes.

    Unevaluable predicates reject at plan-build time with a
    per-expectation ValueError."""
    norm = _normalize_expectations(expectations)
    aggs = []
    for name, (pred, _action) in norm.items():
        try:  # analysis-only plan build: no job runs
            df.select(F.expr(pred).cast("boolean"))
        except Exception as exc:
            raise ValueError(
                f"expectation {name!r} on {table} is not evaluable against "
                f"the write result (predicate {pred!r}: "
                f"{exc.__class__.__name__}); fix the predicate or drop the "
                f"expectation"
            ) from exc
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.coalesce(F.expr(pred).cast("boolean"), F.lit(False)), 0
                    ).otherwise(1)
                ),
                F.lit(0),
            ).alias(name)
        )
    obs = Observation()
    out = df.observe(obs, *aggs)
    for name, (pred, action) in norm.items():
        if action == "drop":
            out = out.where(
                F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
            )
    return out, obs


def _check_expectation_metrics(
    metrics: dict, expectations: dict, table: str
) -> None:
    """Post-write adjudication of :func:`_apply_expectations_observed`,
    driven by the observed counts: ``fail`` violations raise, ``warn``
    violations raise a RuntimeWarning."""
    import warnings

    norm = _normalize_expectations(expectations)
    bad_fail = {
        n: metrics[n] for n, (_p, a) in norm.items() if a == "fail" and metrics[n]
    }
    if bad_fail:
        raise ValueError(
            f"write to {table} violates expectation(s) {bad_fail} "
            f"(rows failing each predicate); fix the source or drop the "
            f"expectation"
        )
    bad_warn = {
        n: metrics[n] for n, (_p, a) in norm.items() if a == "warn" and metrics[n]
    }
    if bad_warn:
        warnings.warn(
            f"write to {table} has expectation warning(s) {bad_warn} "
            f"(rows failing each predicate; write proceeds)",
            RuntimeWarning,
            stacklevel=3,
        )


def compact_snapshot(
    spark: SparkSession,
    registry: Registry,
    meta: FeatureTableMeta,
    num_files: int | None = None,
) -> FeatureTableMeta:
    """Small-file compaction: rewrite the current snapshot into ``num_files``
    parquet files (defaults to the shuffle-partition count, capped at 16).

    Merge writes inherit the merge plan's shuffle partitioning, so a busy
    feature table accumulates many small files — at scale that's scan
    overhead (one task + footer read per file).  Compaction is the OPTIMIZE
    analog: same rows, new version, fewer files; readers flip atomically
    with the registry pointer like any other write.
    """
    if num_files is None:
        num_files = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), 16))
    current = read_snapshot(spark, registry, meta)
    return _publish(registry, meta, current.coalesce(num_files))


def merge_into_delta(
    spark: SparkSession, table_path: str, source: DataFrame, keys: list[str]
) -> None:
    """Transactional MERGE via OSS delta-spark — the production write path
    at 100 TB (the reference's ``compute_and_write(mode='merge')`` rides
    Delta ACID, FS:230/FS:435): only touched files rewrite, concurrent
    writers serialize through the Delta log instead of this module's
    optimistic parquet-snapshot CAS.

    Same observable semantics as :func:`write_snapshot`'s merge:
    ``whenMatchedUpdateAll`` / ``whenNotMatchedInsertAll`` with
    ``schema.autoMerge`` on for evolved source columns; null-safe key
    equality (``<=>``) so null keys match like the snapshot merge's
    anti join does.

    delta-spark is not installed in this harness, so the wiring is pinned by
    a fake-module contract test (tests/test_featurestore.py) and raises
    cleanly when the package is absent.
    """
    try:
        from delta.tables import DeltaTable as _DeltaTable  # dynamic: testable
    except ImportError as exc:  # pragma: no cover - exercised via fake module
        raise RuntimeError(
            "delta-spark is not installed; install it or use the parquet-"
            "snapshot writer (write_snapshot)"
        ) from exc
    spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    (
        _DeltaTable.forPath(spark, table_path)
        .alias("t")
        .merge(source.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def vacuum_snapshots(
    registry: Registry,
    meta: FeatureTableMeta,
    keep_last: int = 3,
) -> list[int]:
    """Retention GC — the VACUUM analog for the parquet-snapshot format:
    delete version directories older than the ``keep_last`` most recent,
    returning the version numbers removed.

    Every merge/overwrite/compaction writes a full new ``v{N}`` directory, so
    history grows linearly with write count; at 100 TB that is the dominant
    storage cost.  Deletion never touches the registry pointer (the current
    version is always retained; ``keep_last`` is clamped to >= 1), so
    concurrent readers of RETAINED versions are unaffected — readers of a
    vacuumed version fail on their next scan exactly as with Delta VACUUM,
    which is why retention should exceed the longest-running query.
    Leftover ``.staging-*`` dirs from crashed writers are swept too.
    """
    keep_last = max(1, keep_last)
    table_dir = registry.table_dir(meta.name)
    removed: list[int] = []
    cutoff = meta.current_version - keep_last
    for v in range(1, cutoff + 1):
        vdir = _version_dir(table_dir, v)
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)
            removed.append(v)
    for entry in os.listdir(table_dir):
        if entry.startswith(".staging-"):
            shutil.rmtree(os.path.join(table_dir, entry), ignore_errors=True)
    return removed


def delete_keys(
    registry: Registry,
    meta: FeatureTableMeta,
    keys_df: DataFrame,
) -> FeatureTableMeta:
    """Row-level DELETE by primary key (the ``DELETE FROM t WHERE key IN
    (...)`` analog; GDPR-erasure / entity-offboarding shape): the next
    snapshot is the current one anti-joined against ``keys_df`` on the
    table's merge keys.  Publishes through the same stage-then-CAS protocol
    as write_snapshot, so it serializes against concurrent merges and is
    time-travel-visible (the deleted rows remain in earlier versions until
    ``vacuum_snapshots`` retires them — exactly Delta's DELETE + VACUUM
    erasure contract).

    ``keys_df`` must carry exactly the merge-key columns (extra columns are
    ignored); keys match null-safely, as in merge.  Deleting keys that do
    not exist is a no-op for those keys but still commits a version, like
    Delta's DELETE."""
    merge_keys = meta.merge_keys
    missing = [k for k in merge_keys if k not in keys_df.columns]
    if missing:
        raise ValueError(f"keys_df is missing key column(s) {missing}")
    if meta.current_version == 0:
        raise ValueError(f"feature table {meta.name} has no data yet")
    target = read_snapshot(keys_df.sparkSession, registry, meta)
    return _publish(registry, meta, _without_keys(target, keys_df, merge_keys))


def restore_version(
    spark: SparkSession,
    registry: Registry,
    meta: FeatureTableMeta,
    version: int,
) -> FeatureTableMeta:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF`` analog: re-publish an
    earlier snapshot's rows as a NEW version (history is preserved — restore
    is itself a versioned write, so it is auditable and re-restorable, and
    concurrent writers still serialize through the same stage-then-CAS
    publish).  The restored version must still be on disk (i.e. not yet
    retired by ``vacuum_snapshots``)."""
    source = read_snapshot(spark, registry, meta, version=version)
    return _publish(registry, meta, source)
