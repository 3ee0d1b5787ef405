"""FeatureStoreClient: the engine's front door, mirroring the API surface the
reference exercises on ``databricks.feature_store.FeatureStoreClient``
(SURVEY.md §1.1/§2.9):

- ``create_feature_table(name, keys, schema=None, df=None, description=...)``
- ``get_feature_table(name)`` / ``read_table(name)`` / ``delete_feature_table``
- ``write_table(name, df, mode='merge'|'overwrite')`` (compute_and_write's
  write half, S8)
- ``create_training_set(df, feature_lookups, label, exclude_columns)`` (J3)
- ``log_model`` / ``score_batch`` (J4/U2, via scoring.py)
- ``publish_table(name, jdbc_url, ...)`` (S9 online publish — JDBC adapter)

All data paths are plain parquet under a warehouse directory
(``writer.merge_into_delta`` wires the Delta MERGE for a real cluster).
"""

from __future__ import annotations

import json
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions import quote
from . import scoring, writer
from .decorators import FeatureComputation, feature_table as _feature_table_deco
from .lookups import FeatureLookup, TrainingSet
from .registry import FeatureTableMeta, Registry


class FeatureStoreClient:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.registry = Registry(warehouse)

    # -- catalog (D4-D6) ----------------------------------------------------

    def create_feature_table(
        self,
        name: str,
        keys: str | list[str],
        schema: StructType | None = None,
        df: DataFrame | None = None,
        description: str = "",
        partition_columns: list[str] | None = None,
        timestamp_keys: str | list[str] | None = None,
        cluster_columns: str | list[str] | None = None,
        expectations: dict[str, str] | None = None,
    ) -> FeatureTableMeta:
        """Register a feature table (FS:207-218).  ``schema`` may come from a
        DataFrame (``df.schema`` is what the reference passes); providing
        ``df`` also performs the initial write.  ``timestamp_keys`` declares a
        point-in-time table: rows are versioned per (keys, timestamp_keys)
        and lookups may retrieve as-of a timestamp (lookups.py).

        ``expectations`` declares CHECK-constraint predicates — the Delta
        table-constraint / DLT-expectation analog, counted by an observe()
        riding the write over the MERGED result (writer.py).  A plain-string value
        (``{"non_negative": "balance >= 0"}``) fails violating writes
        atomically with per-expectation counts; a dict value selects the
        DLT action: ``{"predicate": "balance >= 0", "action":
        "fail"|"drop"|"warn"}`` (drop removes violating rows from the
        snapshot, warn counts and raises a RuntimeWarning but writes)."""
        if schema is None and df is not None:
            schema = df.schema
        if schema is None:
            raise ValueError("provide schema= or df=")
        keys = [keys] if isinstance(keys, str) else list(keys)
        if isinstance(timestamp_keys, str):
            timestamp_keys = [timestamp_keys]
        timestamp_keys = list(timestamp_keys or [])
        if isinstance(cluster_columns, str):
            cluster_columns = [cluster_columns]
        missing = [k for k in keys + timestamp_keys if k not in schema.fieldNames()]
        if missing:
            raise ValueError(f"primary key(s) {missing} not in schema")
        meta = self.registry.create(
            FeatureTableMeta(
                name=name,
                keys=keys,
                schema_json=schema.json(),
                description=description,
                partition_columns=partition_columns or [],
                timestamp_keys=timestamp_keys,
                cluster_columns=list(cluster_columns or []),
                properties={"expectations": dict(expectations)} if expectations else {},
            )
        )
        if df is not None:
            meta = writer.write_snapshot(self.registry, meta, df, mode="overwrite")
        return meta

    def get_feature_table(self, name: str) -> FeatureTableMeta:
        return self.registry.get(name)

    def delete_feature_table(self, name: str) -> None:
        """Registry row + data directories (FS:177-178 delete-then-create)."""
        table_dir = self.registry.table_dir(name)
        self.registry.delete(name)
        shutil.rmtree(table_dir, ignore_errors=True)

    def list_feature_tables(self) -> list[str]:
        return self.registry.list_tables()

    def drop_warehouse(self) -> None:
        """Tear down every feature table and the registry — the engine's
        ``DROP DATABASE ... CASCADE`` + path removal (includes/cleanup.py:65,
        cleanup.py:75-88).  Idempotent."""
        for name in list(self.registry.list_tables()):
            self.delete_feature_table(name)
        shutil.rmtree(self.registry.warehouse, ignore_errors=True)

    # -- data plane (S4/S8) -------------------------------------------------

    def read_table(
        self,
        name: str,
        version: int | None = None,
        as_of: float | str | None = None,
    ) -> DataFrame:
        """Current snapshot, or time-travel by ``version`` (versionAsOf) or
        publish instant ``as_of`` (timestampAsOf)."""
        return writer.read_snapshot(
            self.spark, self.registry, self.registry.get(name),
            version=version, as_of=as_of,
        )

    def restore_table(self, name: str, version: int) -> FeatureTableMeta:
        """Delta RESTORE analog: re-publish snapshot ``version`` as a new
        current version (history preserved; see writer.restore_version)."""
        return writer.restore_version(
            self.spark, self.registry, self.registry.get(name), version
        )

    def table_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two committed versions — the Delta CDF
        (``table_changes(name, v1, v2)`` / ``readChangeFeed``) analog on the
        engine's versioned snapshots.  Diffs snapshot ``from_version``
        against ``to_version`` (default: current) with ONE full-outer join
        co-partitioned on the table's primary keys and classifies each key:

        - ``insert``  — key absent at from_version
        - ``delete``  — key absent at to_version
        - ``update``  — present in both, any value column differs
          (null-safe compare); unchanged keys are dropped

        Output: key columns, ``_change_type``, then ``old_<c>`` / ``new_<c>``
        for every value column of the NEW schema (schema evolution shows as
        ``old_<c>`` = NULL, typed like ``new_<c>``, for columns the older
        snapshot lacked).  The plan is built from SQL strings with quoted
        identifiers: one call per operator, any column name.  Scale:
        one keys-partitioned shuffle join and narrow compares — never a
        snapshot collect; downstream incremental consumers (online-store
        sync, materialized views) read |changed| rows, not |table|.
        """
        return self._snapshot_diff(
            self.registry.get(name), from_version, to_version
        )

    def _snapshot_diff(
        self,
        meta: FeatureTableMeta,
        from_version: int,
        to_version: int | None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """:meth:`table_changes` over the value ``columns`` only (default:
        every value column of the newer snapshot).  A narrowed diff drops
        the updates that touch none of ``columns`` and shuffles only those
        columns through the join — exact for any consumer that reads no
        other column."""
        from pyspark.sql import functions as F

        old = writer.read_snapshot(self.spark, self.registry, meta, version=from_version)
        new = writer.read_snapshot(self.spark, self.registry, meta, version=to_version)
        keys = list(meta.keys)
        val_cols = [
            c for c in new.columns
            if c not in keys and (columns is None or c in columns)
        ]
        o = old.selectExpr(
            *[f"{quote(k)} AS {quote(f'__ok_{k}')}" for k in keys],
            *[f"{quote(c)} AS {quote(f'old_{c}')}" for c in val_cols if c in old.columns],
        )
        missing = [c for c in val_cols if c not in old.columns]
        if missing:  # typed like the newer column, not as a void NULL
            o = o.withColumns({
                f"old_{c}": F.lit(None).cast(new.schema[c].dataType) for c in missing
            })
        n = new.selectExpr(
            *[quote(k) for k in keys],
            *[f"{quote(c)} AS {quote(f'new_{c}')}" for c in val_cols],
        )
        on = " AND ".join(f"{quote(k)} <=> {quote(f'__ok_{k}')}" for k in keys)
        differs = " OR ".join(
            f"NOT ({quote(f'new_{c}')} <=> {quote(f'old_{c}')})" for c in val_cols
        ) or "false"
        return (
            n.join(o, on=F.expr(on), how="full_outer")
            .selectExpr(
                *[f"coalesce({quote(k)}, {quote(f'__ok_{k}')}) AS {quote(k)}" for k in keys],
                f"CASE WHEN {quote(f'__ok_{keys[0]}')} IS NULL THEN 'insert' "
                f"WHEN {quote(keys[0])} IS NULL THEN 'delete' "
                f"WHEN {differs} THEN 'update' END AS _change_type",
                *[quote(f"old_{c}") for c in val_cols],
                *[quote(f"new_{c}") for c in val_cols],
            )
            .where("_change_type IS NOT NULL")
        )

    def consume_changes(self, name: str, consumer_id: str):
        """Incremental change-feed consumption with a per-consumer offset —
        the streaming-checkpoint contract over :meth:`table_changes`.
        Returns ``(changes_df, version, commit)`` where ``changes_df`` covers
        (last committed offset, current version], or ``None`` if the
        consumer is already caught up.  Call ``commit()`` only AFTER the
        downstream effect is durable: an uncommitted consume re-delivers the
        same window next time (at-least-once; pair with an idempotent upsert
        sink for effectively-once — exactly the structured-streaming
        foreachBatch discipline).

        First consumption (offset 0) delivers the full current snapshot as
        ``insert`` rows in the same change-feed schema, so a consumer needs
        no bootstrap special case."""
        from pyspark.sql import functions as F

        meta = self.registry.get(name)
        last = self.registry.get_consumer_offset(name, consumer_id)
        current = meta.current_version
        if last >= current:
            return None
        if last == 0:
            # Pin the bootstrap to the version captured above: an unpinned
            # read would re-resolve the registry, so a concurrent publish
            # between the two reads could deliver v(current+1) data while
            # commit() records offset `current` — the next window would then
            # be double-applied.
            snap = self.read_table(name, version=current)
            keys = list(meta.keys)
            val_cols = [c for c in snap.columns if c not in keys]
            changes = snap.select(
                *keys,
                F.lit("insert").alias("_change_type"),
                *[F.lit(None).cast(snap.schema[c].dataType).alias(f"old_{c}")
                  for c in val_cols],
                *[F.col(c).alias(f"new_{c}") for c in val_cols],
            )
        else:
            changes = self.table_changes(name, from_version=last, to_version=current)

        def commit() -> None:
            self.registry.set_consumer_offset(name, consumer_id, current)

        return changes, current, commit

    # -- materialized views (incremental view maintenance facade) -----------

    #: aggregate fns derive_stats can serve from the maintained state
    _MV_FNS = (
        "sum", "count", "avg", "var_samp", "var_pop", "stddev_samp",
        "stddev_pop", "min", "max",
    )

    def create_materialized_view(
        self,
        name: str,
        source: str,
        group_cols: str | list[str],
        aggs: dict[str, tuple[str, str]],
        description: str = "",
        dim: str | None = None,
        join_on: str | list[str] | None = None,
    ) -> FeatureTableMeta:
        """Register an incrementally-maintained aggregate view over a feature
        table — the user-facing face of ``operators/ivm.py``.

        ``aggs`` maps output column -> ``(fn, source_column)`` with fn in
        ``sum | count | avg | var_samp | var_pop | stddev_samp | stddev_pop
        | min | max`` (``("count", "*")`` counts rows).  The view's state is
        itself a feature table keyed by ``group_cols`` holding additive
        moments (sum, sum of squares, non-null count per measure) plus one
        extremum column per MIN/MAX measure, so every
        :meth:`refresh_materialized_view` costs O(|changes since last
        refresh|) — never a rescan of the source — and the state enjoys the
        full table surface (time travel, publish, change feed).  MIN/MAX
        are not self-maintainable under deletes (Gupta & Mumick): new
        values fold in for free, while a departure that ties the extremum
        routes only its OWN group through a left-semi-pruned recompute
        against the source (``operators.ivm.fold_window``) — with the
        source clustered on the group key that reads |affected| partitions,
        not the table.

        With ``dim=``/``join_on=`` the view aggregates over the equi-join
        ``source ⨝ dim`` (the fact-to-dimension lookup shape: ``join_on``
        is a value column of the source and the primary key of the dim) —
        maintained from BOTH tables' change feeds via the join-delta rule,
        so re-assigning one dimension row moves all its facts' contributions
        without touching the fact table.  Grouping columns may then come
        from either table.

        Grouping/measure columns must be VALUE columns of their table: the
        change feed carries ``old_``/``new_`` images only for non-key
        columns (a key never changes in place — key churn arrives as
        delete + insert, which the algebra already handles)."""
        from ..operators.ivm import _minmax_cols, _moment_cols  # shared naming
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType,
        )

        gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
        src_meta = self.registry.get(source)
        src_schema = StructType.fromJson(json.loads(src_meta.schema_json))
        fields_by_table = {
            c.name: (c, source, src_meta) for c in src_schema.fields
        }
        join_keys = (
            [join_on] if isinstance(join_on, str) else list(join_on or [])
        )
        if dim is not None:
            if not join_keys:
                raise ValueError("dim= requires join_on=")
            dim_meta = self.registry.get(dim)
            if sorted(join_keys) != sorted(dim_meta.keys):
                raise ValueError(
                    f"join_on {join_keys} must be exactly the primary key of "
                    f"dim table {dim!r} ({dim_meta.keys})"
                )
            dim_schema = StructType.fromJson(json.loads(dim_meta.schema_json))
            for c in dim_schema.fields:
                if c.name not in join_keys and c.name in fields_by_table:
                    raise ValueError(
                        f"column {c.name!r} exists in both {source!r} and "
                        f"{dim!r}; rename one (join views need disjoint "
                        "non-key columns)"
                    )
                fields_by_table.setdefault(c.name, (c, dim, dim_meta))
        src_cols = sorted({
            src for fn, src in aggs.values()
            if src != "*" and fn not in ("min", "max")
        })
        mm_cols = _minmax_cols(aggs)
        for out, (fn, src) in aggs.items():
            if fn not in self._MV_FNS:
                raise ValueError(
                    f"aggregate {out!r}: unknown fn {fn!r} (use one of {self._MV_FNS})"
                )
            if src == "*" and fn != "count":
                raise ValueError(f"aggregate {out!r}: '*' is only valid with count")
        for c in gcols + src_cols + sorted({s for _fn, s in mm_cols.values()}):
            if c not in fields_by_table:
                raise ValueError(f"column {c!r} not in source table(s)")
            _f, owner, owner_meta = fields_by_table[c]
            if c in owner_meta.keys and not (dim and c in join_keys):
                raise ValueError(
                    f"column {c!r} is a primary key of {owner!r}; materialized "
                    "views group/aggregate over value columns (the change feed "
                    "carries images only for those)"
                )
        fields = [StructField(g, fields_by_table[g][0].dataType) for g in gcols]
        for m in _moment_cols(src_cols):
            fields.append(
                StructField(m, LongType() if m.startswith("__c_") else DoubleType())
            )
        # extrema keep the source column's own type (never cast to double)
        for m, (_fn, src) in mm_cols.items():
            fields.append(StructField(m, fields_by_table[src][0].dataType))
        fields.append(StructField("_n_rows", LongType()))
        mv_spec = {
            "source": source,
            "group_cols": gcols,
            "aggs": {out: list(spec) for out, spec in aggs.items()},
        }
        if dim is not None:
            mv_spec["dim"] = dim
            mv_spec["join_on"] = join_keys
        return self.registry.create(
            FeatureTableMeta(
                name=name,
                keys=gcols,
                schema_json=StructType(fields).json(),
                description=description or f"materialized view over {source}",
                properties={"mv": mv_spec},
            )
        )

    def refresh_materialized_view(
        self, name: str, vacuum_keep: int | None = None
    ) -> FeatureTableMeta:
        """Advance the view's state to the source's current version.

        ``vacuum_keep`` retires state snapshots older than the N most recent
        after a successful publish (writer.vacuum_snapshots) — a
        steady-state view refreshing every few minutes would otherwise
        accumulate a full snapshot directory per refresh.  Offsets are NOT
        affected: the applied-version marker lives in the registry document,
        so vacuuming history never breaks the exactly-once contract (only
        time-travel reads of retired versions).

        Each window is the snapshot diff over only the columns the view
        reads (group, measure and MIN/MAX source columns, plus ``join_on``
        on the fact side of a join view).  That is exact: an update that
        changes none of them adds zero to every moment and never moves an
        extremum, so it can be left out of the window.

        The refresh folds the change window (applied, current] into the
        state with ONE grouped aggregate over prior state ∪ the window's
        signed images (``operators.ivm.fold_window``): moments, row counts
        and MIN/MAX extrema all come out of that ``groupBy``, and no join
        against the state remains.  Only groups whose extremum departed
        are recomputed from the current source, through a broadcast
        left-semi join on the affected group keys.

        Exactly-once by construction: the new state snapshot publishes atomically
        WITH ``mv_applied_version=current`` in the same registry CAS — a
        crash before the publish re-applies the identical window onto the
        OLD state (idempotent), and after it the next refresh sees the
        advanced offset.  No change window can be applied twice.

        First refresh bootstraps from the pinned current snapshot(s) (one
        source scan — the only full scan the view ever does).  A join view
        tracks BOTH tables' applied versions; they flip atomically with the
        state in the same publish, so the two feeds can never come apart."""
        from ..operators.ivm import (
            _minmax_cols, compute_stats, fold_window, join_deltas, net_signed,
            signed_changes,
        )

        meta = self.registry.get(name)
        mv = (meta.properties or {}).get("mv")
        if not mv:
            raise ValueError(f"{name!r} is not a materialized view")
        applied = int(meta.properties.get("mv_applied_version", 0))
        src_meta = self.registry.get(mv["source"])
        current = src_meta.current_version
        if current == 0:
            raise ValueError(f"source table {mv['source']!r} has no data yet")
        gcols = list(mv["group_cols"])
        aggs = {out: tuple(spec) for out, spec in mv["aggs"].items()}
        src_cols = sorted({
            src for fn, src in aggs.values()
            if src != "*" and fn not in ("min", "max")
        })
        mm_cols = _minmax_cols(aggs)
        # the only columns the view reads: its windows diff just these
        read_cols = gcols + src_cols + sorted({s for _fn, s in mm_cols.values()})
        dim = mv.get("dim")
        properties = {"mv_applied_version": current}
        if dim is None:
            if applied >= current:
                return meta
            base_cur = self.read_table(mv["source"], version=current)
            if applied == 0:
                state = compute_stats(base_cur, gcols, src_cols, minmax_cols=mm_cols)
            else:
                signed = signed_changes(
                    self._snapshot_diff(src_meta, applied, current, columns=read_cols),
                    src_meta.keys,
                )
                state = fold_window(
                    self.read_table(name), signed, gcols, src_cols, mm_cols,
                    base_cur,
                )
        else:
            # join view: advance (applied, applied_dim] -> (current, dim_current]
            dim_meta = self.registry.get(dim)
            dim_applied = int(meta.properties.get("mv_applied_dim_version", 0))
            dim_current = dim_meta.current_version
            if dim_current == 0:
                raise ValueError(f"dim table {dim!r} has no data yet")
            if applied >= current and dim_applied >= dim_current:
                return meta
            properties["mv_applied_dim_version"] = dim_current
            join_keys = list(mv["join_on"])
            base_cur = self.read_table(mv["source"], version=current).join(
                self.read_table(dim, version=dim_current), on=join_keys
            )
            if applied == 0:
                state = compute_stats(base_cur, gcols, src_cols, minmax_cols=mm_cols)
            else:
                # both join terms carry the same narrowed columns: each side's
                # keys plus the view's columns it owns (join_on on the fact side)
                join_cols = read_cols + join_keys

                def narrow(df: DataFrame, keys: list[str]) -> DataFrame:
                    return df.selectExpr(*[
                        quote(c) for c in df.columns if c in keys or c in join_cols
                    ])

                d_l = (
                    signed_changes(
                        self._snapshot_diff(
                            src_meta, applied, current, columns=join_cols
                        ),
                        src_meta.keys,
                    )
                    if current > applied else None
                )
                d_r = (
                    signed_changes(
                        self._snapshot_diff(
                            dim_meta, dim_applied, dim_current, columns=join_cols
                        ),
                        dim_meta.keys,
                    )
                    if dim_current > dim_applied else None
                )
                signed = join_deltas(
                    d_l,
                    narrow(self.read_table(dim, version=dim_current), dim_meta.keys),
                    narrow(
                        self.read_table(mv["source"], version=applied),
                        src_meta.keys,
                    ),
                    d_r,
                    on=join_keys,
                )
                if mm_cols:  # extrema need the phantom pairs netted away
                    signed = net_signed(signed, read_cols)
                state = fold_window(
                    self.read_table(name), signed, gcols, src_cols, mm_cols,
                    base_cur,
                )
        updated = writer.write_snapshot(
            self.registry, meta, state, mode="overwrite", validate=False,
            properties_update=properties,
        )
        if vacuum_keep is not None:
            writer.vacuum_snapshots(self.registry, updated, keep_last=vacuum_keep)
        return updated

    def read_materialized_view(self, name: str) -> DataFrame:
        """The view as its user-facing aggregates (derived from the moment
        state — no source access, no recompute)."""
        from ..operators.ivm import derive_stats

        meta = self.registry.get(name)
        mv = (meta.properties or {}).get("mv")
        if not mv:
            raise ValueError(f"{name!r} is not a materialized view")
        return derive_stats(
            self.read_table(name),
            list(mv["group_cols"]),
            {out: tuple(spec) for out, spec in mv["aggs"].items()},
        )

    def write_table(
        self, name: str, df: DataFrame, mode: str = "merge", validate: bool = True
    ) -> FeatureTableMeta:
        return writer.write_snapshot(
            self.registry, self.registry.get(name), df, mode, validate=validate
        )

    def delete_from_table(self, name: str, keys_df: DataFrame) -> FeatureTableMeta:
        """Row-level DELETE by primary key (GDPR-erasure shape): commits a
        new version without the matching keys; history stays time-travel
        readable until vacuum_snapshots retires it."""
        return writer.delete_keys(self.registry, self.registry.get(name), keys_df)

    # -- decorator binding --------------------------------------------------

    def feature_table(self, fn) -> FeatureComputation:
        """``@client.feature_table`` — decorator pre-bound to this client."""
        return _feature_table_deco(fn).bind(self)

    # -- training & scoring (J3/J4) ----------------------------------------

    def create_training_set(
        self,
        df: DataFrame,
        feature_lookups: list[FeatureLookup],
        label: str | None = None,
        exclude_columns: str | list[str] | None = None,
        broadcast: bool = True,
    ) -> TrainingSet:
        if isinstance(exclude_columns, str):
            exclude_columns = [exclude_columns]
        return TrainingSet(
            df=df,
            feature_lookups=list(feature_lookups),
            label=label,
            exclude_columns=list(exclude_columns or []),
            _client=self,
            broadcast=broadcast,
        )

    def log_model(
        self,
        path: str | None,
        predictor,
        training_set: TrainingSet,
        registered_model_name: str | None = None,
    ) -> str:
        """Persist predictor + lookup graph.  With ``registered_model_name``
        the artifact lands in the warehouse model registry and the returned
        ``models:/<name>/<version>`` URI is what ``score_batch`` takes —
        the reference's fs.log_model(..., registered_model_name=...) ->
        fs.score_batch('models:/...', ...) flow (FS:342-363).  Without it,
        ``path`` is the artifact directory (back-compat)."""
        if registered_model_name is not None:
            vdir, version = scoring.register_model_version(
                self.registry.warehouse, registered_model_name
            )
            scoring.log_model(vdir, predictor, training_set)
            return f"models:/{registered_model_name}/{version}"
        if path is None:
            raise ValueError("provide path= or registered_model_name=")
        scoring.log_model(path, predictor, training_set)
        return path

    def score_batch(
        self, model_uri: str, df: DataFrame, result_type: str = "boolean"
    ) -> DataFrame:
        """Score a key frame with a logged model — ``model_uri`` may be a
        ``models:/name/version`` (or ``.../latest``) registry URI or a plain
        artifact path (FS:363)."""
        path = scoring.resolve_model_uri(self.registry.warehouse, model_uri)
        return scoring.score_batch(self, path, df, result_type=result_type)

    # -- online publish (S9) ------------------------------------------------

    def publish_table(
        self,
        name: str,
        jdbc_url: str | None = None,
        table: str | None = None,
        mode: str = "overwrite",
        properties: dict[str, str] | None = None,
        online_store=None,
    ) -> None:
        """Copy a feature table to a row-oriented store over JDBC — the
        engine's ``fs.publish_table(..., online_store=AmazonRdsMySqlSpec)``
        (Sean_Original.py:374-387).  Call it either way:

        - ``online_store=`` an :class:`~.online.OnlineStoreSpec`
          (``AmazonRdsMySqlSpec(host, port, user, password)`` — the
          reference's exact shape; ``EmbeddedDerbySpec`` for in-JVM tests);
        - ``jdbc_url=`` + ``properties={'driver': ...}`` directly.

        Verified end-to-end against embedded Derby in tests/test_sinks.py
        (publish -> JDBC read-back -> row compare), swap the spec for
        MySQL/Postgres in production.  String key columns are created as
        ``VARCHAR`` so the online store can compare and index them.

        ``mode='incremental'`` publishes ONLY the change feed since the last
        incremental publish (per-consumer offset keyed by the target table).
        The window is evaluated once, into a stage table beside the mirror;
        one JDBC transaction then replaces every changed key's row
        set-based (``DELETE ... WHERE EXISTS`` staged key, ``INSERT ...
        SELECT`` the post-images) and drops the stage, so readers of the
        mirror never see a changed key missing.  The offset commits only
        after that transaction — at-least-once delivery onto an idempotent
        upsert, so the mirror converges even across retries.  The first
        incremental publish bootstraps with a full overwrite.  At 100 TB
        the win is the usual CDF one: steady-state syncs move |changed|
        rows, not |table|, and nothing passes through the driver."""
        if online_store is not None:
            if jdbc_url is not None:
                raise ValueError("pass jdbc_url= or online_store=, not both")
            jdbc_url, spec_props = online_store.jdbc_options()
            properties = {**spec_props, **(properties or {})}
        if jdbc_url is None:
            raise ValueError("pass jdbc_url= or online_store=")
        target = table or name
        keys = self.registry.get(name).keys
        properties = properties or {}
        if mode != "incremental":
            self._jdbc_write(
                self.read_table(name), jdbc_url, target, mode, properties, keys
            )
            return
        consumer = f"jdbc:{target}"
        bootstrap = self.registry.get_consumer_offset(name, consumer) == 0
        consumed = self.consume_changes(name, consumer)
        if consumed is None:
            return
        changes, version, commit = consumed
        if bootstrap:
            self._jdbc_write(
                self.read_table(name, version=version), jdbc_url, target,
                "overwrite", properties, keys,
            )
        else:
            self._apply_changes_jdbc(changes, keys, jdbc_url, target, properties)
        commit()

    #: VARCHAR length of string key columns in the online mirror and its
    #: stage table: the JDBC default for a string (CLOB on Derby) cannot be
    #: compared, and 768 characters is the longest key MySQL can still
    #: index (3072 bytes of utf8mb4); Derby allows up to 32672.
    _KEY_VARCHAR = 768

    def _jdbc_write(
        self,
        df: DataFrame,
        jdbc_url: str,
        table: str,
        mode: str,
        properties: dict[str, str],
        keys: list[str],
    ) -> None:
        """Spark JDBC write of ``df`` into ``table``; a table it creates
        gets its string ``keys`` as ``VARCHAR`` (caller ``properties``
        win)."""
        from pyspark.sql.types import StringType

        w = df.write.format("jdbc").option("url", jdbc_url).mode(mode)
        w = w.option("dbtable", table)
        string_keys = [
            k for k in keys if isinstance(df.schema[k].dataType, StringType)
        ]
        if string_keys:
            w = w.option("createTableColumnTypes", ", ".join(
                f"`{k}` VARCHAR({self._KEY_VARCHAR})" for k in string_keys
            ))
        for k, v in properties.items():
            w = w.option(k, v)
        w.save()

    def _apply_changes_jdbc(
        self,
        changes: DataFrame,
        keys: list[str],
        jdbc_url: str,
        table: str,
        properties: dict[str, str],
    ) -> None:
        """Upsert a change-feed window into a JDBC table in one transaction.

        Spark's JDBC writer evaluates the window once into a stage table:
        every changed key, an integer delete flag and the post-image.  One
        transaction then deletes each mirror row whose key is staged (insert
        keys too, so a re-delivered window is idempotent), inserts the
        post-images of the insert/update rows and drops the stage; an error
        rolls all of it back.  The flag is an integer, not
        ``_change_type``, because Derby stores a string column as a CLOB,
        which it cannot compare.  A stage left by a failed sync is replaced
        by the next one."""
        vals = [c[len("new_"):] for c in changes.columns if c.startswith("new_")]
        stage = f"{table}__sync_stage"
        staged = changes.selectExpr(
            *[quote(k) for k in keys],
            "CAST(_change_type = 'delete' AS INT) AS __deleted",
            *[f"{quote(f'new_{c}')} AS {quote(c)}" for c in vals],
        )
        self._jdbc_write(staged, jdbc_url, stage, "overwrite", properties, keys)
        # Spark's JDBC writer creates columns with QUOTED (case-exact)
        # identifiers; match it with ANSI double quotes (Derby/Postgres;
        # MySQL needs ANSI_QUOTES, which AmazonRdsMySqlSpec sets)
        cols = ", ".join(f'"{c}"' for c in keys + vals)
        match = " AND ".join(f'{stage}."{k}" = {table}."{k}"' for k in keys)
        statements = [  # identifiers come from the registry, no values inlined
            f"DELETE FROM {table} WHERE EXISTS (SELECT 1 FROM {stage} WHERE {match})",
            f'INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage} WHERE "__deleted" = 0',
            f"DROP TABLE {stage}",
        ]
        jvm = self.spark._jvm
        driver = properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        # the transaction's connection honors the writer's credentials
        jprops = jvm.java.util.Properties()
        for k, v in properties.items():
            if k != "driver":
                jprops.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(jdbc_url, jprops)
        try:
            conn.setAutoCommit(False)
            stmt = conn.createStatement()
            try:
                for sql in statements:
                    stmt.executeUpdate(sql)
                conn.commit()
            except Exception:
                conn.rollback()
                raise
        finally:
            conn.close()
