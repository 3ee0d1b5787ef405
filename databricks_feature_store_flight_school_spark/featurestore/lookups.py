"""Declarative feature lookups and training-set assembly.

Reference parity (SURVEY.md §2.3 J3, §3.3):
- ``FeatureLookup(table_name, lookup_key, feature_names)``     (FS:286-289)
- ``fs.create_training_set(df, feature_lookups, label, exclude_columns)``
  (FS:321) -> a saved join *plan*, lowered by ``load_df()`` (FS:323)

Join semantics reproduced exactly: for each lookup, LEFT-join the feature
columns onto the input by key — input rows are always preserved, a missing
key yields nulls for its features; ``exclude_columns`` are dropped from the
final frame (the reference drops the join key itself before training);
the label column passes through untouched.

Scale: feature tables are dimension-sized next to a fact-table input, so the
planner wraps each feature side in ``F.broadcast`` — the 100 TB input is
never shuffled for retrieval.  For feature tables too big to broadcast,
``broadcast=False`` falls back to a shuffled hash join on the lookup key
(one exchange per distinct key, and co-partitioned tables skip even that).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from ..functions import quote

if TYPE_CHECKING:  # pragma: no cover
    from .client import FeatureStoreClient


@dataclass(frozen=True)
class FeatureLookup:
    """One feature-retrieval spec: take ``feature_names`` from ``table_name``
    joined on ``lookup_key`` (FS:286-289).  ``feature_names=None`` means all
    non-key columns, matching the reference's generate_all_lookups.

    ``timestamp_lookup_key`` (absent in the reference's API generation —
    SURVEY.md §2.12) switches retrieval to POINT-IN-TIME: for each input row,
    the feature values as of that row's timestamp — the most recent feature
    observation with ``feature_ts <= input_ts`` — via the as-of join
    (operators/asof.py: union + ordered window, no per-key pair explosion).
    Requires the feature table to be registered with ``timestamp_keys``."""

    table_name: str
    lookup_key: str | list[str]
    feature_names: list[str] | None = None
    timestamp_lookup_key: str | None = None
    #: max staleness (seconds) for PIT retrieval: older matches null out
    lookup_tolerance_seconds: int | None = None

    @property
    def keys(self) -> list[str]:
        k = self.lookup_key
        return [k] if isinstance(k, str) else list(k)


@dataclass(frozen=True)
class FeatureFunction:
    """ON-DEMAND feature: computed at retrieval time from request/looked-up
    columns instead of stored in a table (the engine's analog of the feature
    function concept in the reference's API family).

    ``expr`` is a Spark SQL expression over the training-set columns at the
    point the function is applied — functions run AFTER all table lookups,
    in list order, so later functions can reference earlier outputs.  Being
    an expression (not a Python closure), it serializes losslessly through
    ``log_model`` and replays identically in ``score_batch``: the
    train/serve-skew-free way to ship request-time features.
    """

    output_name: str
    expr: str


@dataclass
class TrainingSet:
    """A lookup-join plan: (input frame, lookups, label, exclusions).

    Dual of the reference's TrainingSet object — ``load_df()`` lowers the
    plan to a DataFrame; scoring re-folds the identical plan at inference
    (scoring.py)."""

    df: DataFrame
    feature_lookups: list[FeatureLookup]
    label: str | None
    exclude_columns: list[str] = field(default_factory=list)
    _client: "FeatureStoreClient | None" = None
    broadcast: bool = True

    def load_df(self) -> DataFrame:
        assert self._client is not None, "TrainingSet requires a client"
        out = self.df
        # table lookups first (joins), then on-demand functions in list
        # order — a function may reference any looked-up column or an
        # earlier function's output
        for lookup in self.feature_lookups:
            if isinstance(lookup, FeatureFunction):
                continue
            out = _apply_lookup(self._client, out, lookup, self.broadcast)
        for lookup in self.feature_lookups:
            if isinstance(lookup, FeatureFunction):
                out = out.withColumn(lookup.output_name, F.expr(lookup.expr))
        drop = [c for c in self.exclude_columns if c in out.columns]
        if drop:
            out = out.drop(*drop)
        return out

    def split(self, weights: list[float], seed: int = 42) -> list[DataFrame]:
        """Deterministic random split of the materialized training set — the
        engine-side analog of the reference's driver-side train_test_split
        (FS:326), but distributed: no pandas round-trip, each split is a
        DataFrame (sample predicates push into the scan stage)."""
        return self.load_df().randomSplit(weights, seed=seed)

    def feature_columns(self) -> list[str]:
        """Names of all looked-up feature columns, in lookup order — what the
        scoring UDF consumes (J4)."""
        cols: list[str] = []
        for lookup in self.feature_lookups:
            if isinstance(lookup, FeatureFunction):
                cols.append(lookup.output_name)
                continue
            names = lookup.feature_names
            if names is None:
                meta = self._client.get_feature_table(lookup.table_name)
                snapshot = self._client.read_table(lookup.table_name)
                ts_keys = list(getattr(meta, "timestamp_keys", []) or [])
                names = [
                    c for c in snapshot.columns
                    if c not in meta.keys and c not in ts_keys
                ]
            cols.extend(names)
        return cols


def _apply_lookup(
    client: "FeatureStoreClient", df: DataFrame, lookup: FeatureLookup, broadcast: bool
) -> DataFrame:
    meta = client.get_feature_table(lookup.table_name)
    feat = client.read_table(lookup.table_name)
    table_keys = meta.keys
    lookup_keys = lookup.keys
    if len(lookup_keys) != len(table_keys):
        raise ValueError(
            f"lookup key arity {lookup_keys} != table primary keys {table_keys}"
            f" for {lookup.table_name}"
        )
    ts_keys = list(getattr(meta, "timestamp_keys", []) or [])
    names = lookup.feature_names
    if names is None:
        names = [c for c in feat.columns if c not in table_keys and c not in ts_keys]
    missing = [c for c in names if c not in feat.columns]
    if missing:
        raise ValueError(f"{lookup.table_name} lacks feature column(s) {missing}")
    collisions = [c for c in names if c in df.columns]
    if collisions:
        raise ValueError(
            f"feature column(s) {collisions} from {lookup.table_name} collide "
            "with input columns; rename or exclude them"
        )

    if lookup.timestamp_lookup_key is not None:
        if not ts_keys:
            raise ValueError(
                f"{lookup.table_name} has no timestamp_keys; register it with "
                "timestamp_keys=[...] to use timestamp_lookup_key"
            )
        if lookup.timestamp_lookup_key not in df.columns:
            raise ValueError(
                f"input lacks timestamp_lookup_key column "
                f"{lookup.timestamp_lookup_key!r}"
            )
        feat = feat.select(*[quote(c) for c in (*table_keys, ts_keys[0], *names)])
        for tk, lk in zip(table_keys, lookup_keys):
            if tk != lk:
                feat = feat.withColumnRenamed(tk, lk)
        from ..operators.asof import asof_join

        joined = asof_join(
            df,
            feat,
            on=lookup_keys,
            left_ts=lookup.timestamp_lookup_key,
            right_ts=ts_keys[0],
            right_payload=names,
            tolerance_seconds=lookup.lookup_tolerance_seconds,
        )
        # the matched observation time is plumbing, not a feature
        return joined.drop(f"{ts_keys[0]}_right")

    feat = feat.select(*[quote(c) for c in (*table_keys, *names)])
    # rename feature-table keys to the input's lookup keys so the equi-join
    # condition is a plain column match and the key appears once in output
    for tk, lk in zip(table_keys, lookup_keys):
        if tk != lk:
            feat = feat.withColumnRenamed(tk, lk)
    right = F.broadcast(feat) if broadcast else feat
    return df.join(right, on=lookup_keys, how="left")
