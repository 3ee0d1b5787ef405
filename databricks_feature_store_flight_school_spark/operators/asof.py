"""As-of (point-in-time) join — SURVEY.md §2.12: absent in the reference's
API generation (no ``timestamp_lookup_key``), added for point-in-time feature
correctness, the canonical feature-store extension.

Semantics: for every left row, attach the single most recent right row with
the same key and ``right_ts <= left_ts`` (backward direction, inclusive —
matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts`` for the oracle gate).

Physical strategy — the *union + ordered window* idiom, not a range join:

    tag left(1)/right(0) -> unionByName -> window(partition key,
    order ts, side) -> last non-null right payload at-or-before each row
    -> keep left rows

One shuffle + one sort per key, O(n log n), no key-cardinality range
explosion: a naive ``l.key = r.key AND r.ts <= l.ts`` join materialises every
(left, right) history pair — quadratic per key at 100 TB — before picking the
max; the union form never builds pairs at all.  With both inputs bucketed by
key even the shuffle disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import quote

_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str | None = None,
    right_payload: list[str] | None = None,
    suffix: str = "_right",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of join; see module docstring.

    ``right_payload`` selects which right columns are attached (default: all
    non-key, non-ts).  The matched right timestamp is attached as
    ``{right_ts}{suffix}``; payload columns keep their names unless they
    collide with left columns, in which case they get ``suffix``.

    ``tolerance_seconds`` bounds staleness: a match older than the tolerance
    is nulled out (the feature-freshness contract — pandas ``merge_asof``'s
    ``tolerance``).  Applied AFTER the window match, so it costs a null-out
    projection, not a second join.

    Every column name is quoted, so names with dots or spaces work.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if right_payload is None:
        right_payload = [c for c in right.columns if c not in (*keys, right_ts)]

    ts_out = f"{right_ts}{suffix}"
    payload_out = {
        c: (f"{c}{suffix}" if c in left.columns else c) for c in right_payload
    }

    # The whole right row travels as ONE struct so it forward-fills
    # atomically: a legitimately-null payload field must not fall back to an
    # older right row's value, which per-column last(ignorenulls) would do.
    packed = F.struct(
        F.col(quote(right_ts)).alias(ts_out),
        *[F.col(quote(c)).alias(payload_out[c]) for c in right_payload],
    )
    # tag right rows 0 so at equal timestamps they sort BEFORE the left row
    # (inclusive right_ts <= left_ts)
    r = right.select(
        *[F.col(quote(k)) for k in keys],
        F.col(quote(right_ts)).alias("__asof_ts"),
        packed.alias("__asof_payload"),
    ).withColumn(_SIDE, F.lit(0))

    l = left.withColumn("__asof_ts", F.col(quote(left_ts))).withColumn(_SIDE, F.lit(1))

    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*[quote(k) for k in keys])
        .orderBy("__asof_ts", _SIDE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__asof_payload", ignorenulls=True).over(w)
    out = unioned.withColumn("__asof_match", matched).where(F.col(_SIDE) == 1)
    match = F.col("__asof_match")
    if tolerance_seconds is not None:
        fresh = (
            F.col("__asof_ts").cast("long") - match[ts_out].cast("long")
        ) <= tolerance_seconds
        out = out.withColumn(
            "__asof_match", F.when(fresh, match)
        )
    return out.select(
        *[F.col(quote(c)) for c in left.columns],
        match[ts_out].alias(ts_out),
        *[match[name].alias(name) for name in payload_out.values()],
    )
