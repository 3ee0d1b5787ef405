"""Feature-table registry: the engine's replacement for the Databricks
feature-catalog service.

Reference parity (SURVEY.md §2.9 D4-D6):
- ``fs.create_feature_table(name, keys, schema, description)``  (FS:207-218)
- ``fs.get_feature_table(name)``                                 (FS:283)
- ``fs._catalog_client.delete_feature_table(name)``              (FS:177-178)

Where the reference makes an RPC to a control-plane catalog, the engine keeps
a local registry: one JSON document per table under ``<warehouse>/_registry/``
(atomic tmp-file + rename writes), with the table data itself stored as
versioned parquet snapshots (see writer.py).  Metadata is driver-side and
tiny — table *data* is the only thing that touches executors.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
from dataclasses import asdict, dataclass, field


class ConcurrentWriteError(RuntimeError):
    """Another writer published a snapshot between this writer's read and its
    publish attempt.  The losing writer's upserts were NOT applied — re-read
    the table and retry the merge (optimistic concurrency, the parquet-
    snapshot analog of Delta's ConcurrentAppendException)."""


def _sanitize(name: str) -> str:
    """Identifier hygiene, same rule as the reference's user-id cleanup
    (includes/setup.py:50): strip non-alphanumerics, lowercase."""
    clean = re.sub(r"[^A-Za-z0-9_]+", "_", name).lower()
    if not clean or clean[0].isdigit():
        raise ValueError(f"invalid feature table name: {name!r}")
    return clean


@dataclass
class FeatureTableMeta:
    """Catalog row for one feature table (keys/schema/description per D4)."""

    name: str
    keys: list[str]
    schema_json: str  # Spark StructType JSON at registration time
    description: str = ""
    created_at: float = field(default_factory=time.time)
    current_version: int = 0  # 0 = registered but never written
    partition_columns: list[str] = field(default_factory=list)
    # Point-in-time tables: the event-time column(s).  Rows are versioned by
    # (keys, timestamp_keys) — merges upsert per timestamped observation, and
    # FeatureLookup(timestamp_lookup_key=...) retrieves as-of a lookup time.
    timestamp_keys: list[str] = field(default_factory=list)
    # Physical layout: range-partition + sort every snapshot by these
    # columns (Z-order-lite).  Parquet min/max footer stats then skip row
    # groups on key predicates, and merge/lookup shuffles find presorted runs.
    cluster_columns: list[str] = field(default_factory=list)
    # Free-form table properties (e.g. incremental.py's last_refresh_ts
    # watermark).  Absent from pre-existing registry JSON -> defaults empty.
    properties: dict = field(default_factory=dict)

    @property
    def primary_keys(self) -> list[str]:
        return self.keys

    @property
    def merge_keys(self) -> list[str]:
        """Row identity for upserts: primary keys plus timestamp keys (a PIT
        table keeps full history, one row per keyed observation time)."""
        return self.keys + [t for t in self.timestamp_keys if t not in self.keys]


def version_schema(meta: FeatureTableMeta, version: int) -> str | None:
    """Spark schema JSON that ``version`` of the table was written with, or
    None for a version published before schemas were recorded."""
    schemas = (meta.properties or {}).get("version_schemas", {})
    recorded = [int(v) for v in schemas if int(v) <= version]
    return schemas[str(max(recorded))] if recorded else None


class Registry:
    """Filesystem-backed catalog of :class:`FeatureTableMeta` documents."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self._dir = os.path.join(warehouse, "_registry")
        os.makedirs(self._dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self._dir, f"{_sanitize(name)}.json")

    def table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, _sanitize(name))

    def create(self, meta: FeatureTableMeta) -> FeatureTableMeta:
        path = self._path(meta.name)
        if os.path.exists(path):
            raise ValueError(f"feature table already exists: {meta.name}")
        self._write(meta)
        return meta

    def get(self, name: str) -> FeatureTableMeta:
        path = self._path(name)
        if not os.path.exists(path):
            raise KeyError(f"feature table not found: {name}")
        with open(path) as fh:
            return FeatureTableMeta(**json.load(fh))

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def update(self, meta: FeatureTableMeta) -> None:
        if not os.path.exists(self._path(meta.name)):
            raise KeyError(f"feature table not found: {meta.name}")
        self._write(meta)

    def delete(self, name: str) -> None:
        """D6: registry row delete; data directories are left for GC by the
        caller (FeatureStoreClient.delete_feature_table removes them)."""
        path = self._path(name)
        if os.path.exists(path):
            os.remove(path)

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self._dir):  # warehouse torn down
            return []
        return sorted(
            f[: -len(".json")] for f in os.listdir(self._dir) if f.endswith(".json")
        )

    def publish_version(
        self,
        name: str,
        expected_version: int,
        staging_dir: str,
        final_dir: str,
        schema_json: str,
        properties_update: dict | None = None,
    ) -> FeatureTableMeta:
        """Compare-and-swap publish of a staged snapshot: atomically verify
        ``current_version == expected_version``, rename the staged data into
        place, and flip the registry pointer — all under a per-table lock
        file.  A writer that lost the race gets :class:`ConcurrentWriteError`
        (and its staging dir removed) instead of silently clobbering the
        winner's rows.  Single-writer-per-table is still the recommended
        operating mode; this guard turns violations into loud failures.

        ``properties_update`` merges extra table properties into the SAME
        registry write that flips the version pointer — the transactional
        hook incremental consumers need (e.g. a materialized view records
        the source version its state reflects atomically with the state
        itself, so a crash can never leave the two disagreeing)."""
        import shutil

        lock = os.path.join(self._dir, f".{_sanitize(name)}.lock")
        for _ in range(200):  # ~10 s of 50 ms retries, then give up loudly
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                time.sleep(0.05)
        else:
            shutil.rmtree(staging_dir, ignore_errors=True)
            raise TimeoutError(f"could not acquire registry lock for {name}")
        try:
            cur = self.get(name)
            if cur.current_version != expected_version:
                shutil.rmtree(staging_dir, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"feature table {name} moved from v{expected_version} to "
                    f"v{cur.current_version} during this write; upserts NOT "
                    "applied — re-read and retry the merge"
                )
            os.rename(staging_dir, final_dir)
            cur.current_version = expected_version + 1
            cur.schema_json = schema_json
            # per-version publish instants power timestamp time travel
            # (writer.read_snapshot(as_of=...) — Delta's timestampAsOf analog)
            cur.properties.setdefault("version_history", {})[
                str(cur.current_version)
            ] = time.time()
            # the written schema lets readers skip parquet schema inference
            # (writer.read_snapshot); recorded only where it changes, so the
            # document grows with schema evolutions, not with commits
            if version_schema(cur, cur.current_version - 1) != schema_json:
                cur.properties.setdefault("version_schemas", {})[
                    str(cur.current_version)
                ] = schema_json
            if properties_update:
                cur.properties.update(properties_update)
            self._write(cur)
            return cur
        finally:
            os.remove(lock)

    def _write(self, meta: FeatureTableMeta) -> None:
        # atomic publish: write sidecar tmp file, rename over the target
        fd, tmp = tempfile.mkstemp(dir=self._dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(asdict(meta), fh, indent=2)
        os.replace(tmp, self._path(meta.name))

    # -- per-consumer change-feed offsets -----------------------------------
    # One JSON file per (table, consumer) under _consumers/; single-writer
    # per consumer by contract, so an atomic tmp+rename write (no CAS lock)
    # is sufficient.  The offset is the last table VERSION the consumer has
    # fully processed — the change-feed analog of a streaming checkpoint.

    def _consumer_path(self, name: str, consumer_id: str) -> str:
        d = os.path.join(self.warehouse, "_consumers")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{_sanitize(name)}.{_sanitize(consumer_id)}.json")

    def get_consumer_offset(self, name: str, consumer_id: str) -> int:
        """Last fully-processed version for this consumer (0 = never)."""
        path = self._consumer_path(name, consumer_id)
        if not os.path.exists(path):
            return 0
        with open(path) as fh:
            return int(json.load(fh)["version"])

    def set_consumer_offset(self, name: str, consumer_id: str, version: int) -> None:
        path = self._consumer_path(name, consumer_id)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump({"version": int(version), "committed_at": time.time()}, fh)
        os.replace(tmp, path)
