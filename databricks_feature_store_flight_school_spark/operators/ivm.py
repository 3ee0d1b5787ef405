"""Incremental view maintenance for additive aggregates over a change feed.

The 100 TB feature-computation story: a per-entity aggregate feature table
(order counts, total spend, event sums) must NOT be recomputed by rescanning
the fact table every refresh.  SUM/COUNT (and anything built from them —
AVG, rates) are *self-maintainable*: a change-feed row carries everything
needed to adjust the aggregate, so a refresh costs O(|changes|) instead of
O(|facts|).

The algebra (classic IVM, cf. Gupta & Mumick, "Maintenance of Materialized
Views: Problems, Techniques, and Applications", IEEE Data Eng. Bulletin
1995): for each change-feed row,

- the OLD image (update/delete) contributes ``-old_measure`` / count -1 to
  its OLD group,
- the NEW image (update/insert) contributes ``+new_measure`` / count +1 to
  its NEW group.

An update that moves a row between groups therefore adjusts BOTH groups; a
group whose maintained count reaches zero is dropped (it no longer exists
in the recomputed-from-scratch view).  For additive state the maintained
aggregate and the change window combine in ONE grouped sum:
:func:`fold_window` unions the prior state rows with the window's signed
images and runs a single ``groupBy`` on the group key — |groups| +
|changes| rows, never the fact table, and no join against the state.
MIN/MAX ride the same aggregate; only groups that lose their extremum are
recomputed.  Every maintained aggregate in the engine runs this one fold:
:func:`compute_stats` bootstraps the state, :func:`signed_changes` (or
:func:`join_deltas` for a join view) signs the window, :func:`fold_window`
advances the state and :func:`derive_stats` reads the aggregates out.

Plans built per refresh are SQL strings (``selectExpr`` / ``F.expr``) with
:func:`quote`-d identifiers: one plan call per operator instead of one
py4j round trip per column expression.

Input contract: ``changes`` is a change-feed frame in the engine's
``table_changes`` schema — primary keys, ``_change_type`` in
insert/update/delete, and ``old_<c>`` / ``new_<c>`` images for every value
column (featurestore/client.py).  Works unchanged on the frames
``consume_changes`` delivers, including the offset-0 bootstrap (all
inserts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import quote

#: maintained count column — kept in the aggregate so deletes can retire
#: groups exactly; name chosen to avoid colliding with user measures
COUNT_COL = "_n_rows"


def _cols(group_cols: str | list[str]) -> list[str]:
    return [group_cols] if isinstance(group_cols, str) else list(group_cols)


#: signed-relation sign column (±1) used by the join-view delta algebra
SIGN_COL = "_sign"


def signed_changes(changes: DataFrame, key_cols: str | list[str]) -> DataFrame:
    """Change feed -> signed multiset delta: one row per image with
    ``_sign`` -1 (old image of update/delete) or +1 (new image of
    update/insert).  Key columns pass through verbatim (a key never changes
    in place — key churn arrives as delete + insert); every other base
    column is read from its ``old_``/``new_`` image.

    This is the bridge from the engine's CDF schema to the multiset form
    the join rule needs: summing ``_sign`` over any grouping of a signed
    relation gives exactly the count delta of that grouping.

    Single-pass (r14, guide §2.3): both images explode from ONE scan of
    ``changes`` — the union form executed the underlying snapshot diff
    join once per side.  The projection is one SQL string with quoted
    identifiers, so building it costs one plan call, not one per column."""
    keys = _cols(key_cols)
    val_cols = sorted(
        {c[len("old_"):] for c in changes.columns if c.startswith("old_")}
    )

    def img(side: str, sign: int) -> str:
        fields = [quote(k) for k in keys] + [
            f"{quote(f'{side}_{c}')} AS {quote(c)}" for c in val_cols
        ]
        return f"struct({', '.join(fields)}, {sign} AS {SIGN_COL})"

    old, new = img("old", -1), img("new", 1)
    return changes.selectExpr(
        f"explode(CASE _change_type WHEN 'update' THEN array({old}, {new}) "
        f"WHEN 'delete' THEN array({old}) WHEN 'insert' THEN array({new}) "
        "END) AS __img"
    ).select("__img.*")


def join_deltas(
    d_left: DataFrame | None,
    right_new: DataFrame,
    left_old: DataFrame,
    d_right: DataFrame | None,
    on: str | list[str],
) -> DataFrame:
    """Signed delta of the equi-join view ``left ⨝ right`` from the two
    sides' signed deltas — Gupta & Mumick's join rule in its double-
    counting-free form:

        Δ(R ⨝ S)  =  ΔR ⨝ S_new  ∪  R_old ⨝ ΔS

    (expanding S_new = S_old + ΔS absorbs the ΔR ⨝ ΔS cross term into the
    first join, so a window where BOTH sides change is handled exactly).
    Pass ``None`` for an unchanged side's delta.  Each term is one equi-join
    shuffling |Δ| against the co-keyed base — never base ⨝ base; non-key
    column names must be disjoint across the two inputs (feature-table
    convention).  The result is a signed relation: feed it to
    :func:`fold_window` to maintain an aggregate over the join at
    O(|changes|) refresh cost."""
    keys = _cols(on)
    parts = []
    if d_left is not None:
        parts.append(d_left.join(right_new, on=keys, how="inner"))
    if d_right is not None:
        parts.append(
            left_old.join(d_right, on=keys, how="inner")
        )
    if not parts:
        raise ValueError("at least one of d_left/d_right must be provided")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=False)
    return out


def _moment_cols(src_cols: list[str]) -> list[str]:
    """State columns maintained per source measure column: sum, sum of
    squares, and non-null count (the moments AVG/VAR/STDDEV derive from)."""
    out: list[str] = []
    for c in src_cols:
        out += [f"__s_{c}", f"__q_{c}", f"__c_{c}"]
    return out


def _minmax_cols(aggs: dict[str, tuple[str, str]]) -> dict[str, tuple[str, str]]:
    """Extremum state columns for the MIN/MAX aggregates in an ``aggs``
    spec: ``__mn_<src>`` / ``__mx_<src>`` -> (fn, src).  Shared naming
    between :func:`compute_stats` bootstrap, :func:`fold_window`
    maintenance, and :func:`derive_stats` read-out."""
    out: dict[str, tuple[str, str]] = {}
    for _o, (fn, src) in aggs.items():
        if fn in ("min", "max"):
            out[("__mn_" if fn == "min" else "__mx_") + src] = (fn, src)
    return out


def compute_stats(
    facts: DataFrame, group_cols: str | list[str], src_cols: list[str],
    minmax_cols: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """From-scratch moment state for :func:`derive_stats` aggregates
    (bootstrap + the property-test oracle): per group and per measure column
    ``__s_<c>`` = SUM (nulls as 0), ``__q_<c>`` = SUM of squares,
    ``__c_<c>`` = COUNT of non-null values, plus the global ``_n_rows``.

    Moments are maintained in double: one extra additive column per measure
    buys AVG/VAR_SAMP/STDDEV_SAMP maintenance at the same O(|changes|)
    refresh cost as plain SUM/COUNT — the classic self-maintainable
    extension of Gupta & Mumick's algebra to second moments.

    ``minmax_cols`` (state column -> (``min``|``max``, source column))
    optionally rides MIN/MAX extrema in the SAME single-scan groupBy — the
    bootstrap twin of :func:`fold_window`'s maintained columns, kept in
    the source column's own type (extrema, unlike moments, are not cast)."""
    aggs = []
    for c in src_cols:
        v = f"CAST({quote(c)} AS DOUBLE)"
        aggs += [
            f"sum(coalesce({v}, 0D)) AS {quote(f'__s_{c}')}",
            f"sum(coalesce({v} * {v}, 0D)) AS {quote(f'__q_{c}')}",
            f"count({v}) AS {quote(f'__c_{c}')}",
        ]
    for out, (fn, src) in (minmax_cols or {}).items():
        aggs.append(f"{fn}({quote(src)}) AS {quote(out)}")
    aggs.append(f"count(1) AS {COUNT_COL}")
    return facts.groupBy(*[quote(g) for g in _cols(group_cols)]).agg(
        *[F.expr(a) for a in aggs]
    )


def net_signed(signed: DataFrame, cols: list[str]) -> DataFrame:
    """Net a signed relation per distinct ``cols`` tuple: one row per tuple
    whose ``_sign`` sums to non-zero, carrying that sum as its weight.

    MIN/MAX maintenance over :func:`join_deltas` output needs this for
    correctness, not speed.  The double-counting-free expansion emits
    cancelling phantom pairs: a fact+dim double update yields
    ``+(old_fact, new_dim)`` AND ``-(old_fact, new_dim)``, a row the view
    never contained.  Moment sums cancel them, but an un-netted phantom
    ARRIVAL on a brand-new group would fold a never-existed value into the
    extremum, while its phantom departure finds no maintained extremum to
    tie.  After netting, positive weights arrive, negative weights depart,
    and a zero-weight tuple left the multiset unchanged and is dropped."""
    names = [quote(c) for c in dict.fromkeys(cols)]
    return (
        signed.groupBy(*names)
        .agg(F.expr(f"sum({SIGN_COL}) AS {SIGN_COL}"))
        .where(f"{SIGN_COL} <> 0")
    )


def fold_window(
    state: DataFrame,
    signed: DataFrame,
    group_cols: str | list[str],
    src_cols: list[str],
    minmax_cols: dict[str, tuple[str, str]],
    base_current: DataFrame | None,
) -> DataFrame:
    """Advance a :func:`compute_stats` state by a signed change window.

    ``signed`` carries the group and source columns plus an integer
    ``_sign`` weight (:func:`signed_changes` for a plain view,
    :func:`join_deltas` for a join view, netted by :func:`net_signed` when
    MIN/MAX are maintained).  The
    prior state rows and the window's weighted images are unioned and
    folded by ONE ``groupBy`` on the group key.  That aggregate yields, per
    group, the new moment sums and ``_n_rows``, and per MIN/MAX column the
    maintained extremum, the extremum of the arriving images, the extremum
    of the departing images, and whether any row departed.  ``groupBy``
    pairs NULL group keys like any other, so no null-safe join is needed.

    Groups whose ``_n_rows`` reaches 0 drop out.  MIN/MAX are not
    self-maintainable under deletes (Gupta & Mumick).  A surviving group is
    *affected* when a departing value ties its maintained extremum, or when
    that extremum is NULL (every value was NULL) and any row departs.  An
    unaffected group takes ``least``/``greatest`` of the maintained and
    arriving extrema.  An affected group's extrema are recomputed from
    ``base_current`` (the current source, or the current join) restricted
    to the affected groups by a broadcast null-safe left-semi join.  Those
    recomputed rows fold back into the state by union and a second
    ``groupBy``, never by a join.  Without MIN/MAX columns nothing is
    recomputed and ``base_current`` may be ``None``.  The result equals a
    from-scratch :func:`compute_stats` (property-pinned, directly and
    through the view facade)."""
    names = _cols(group_cols)
    gcols = [quote(g) for g in names]
    moments = [quote(c) for c in _moment_cols(src_cols)]
    w = SIGN_COL
    images = list(gcols)
    for c in src_cols:
        v = f"CAST({quote(c)} AS DOUBLE)"
        images += [
            f"{w} * coalesce({v}, 0D) AS {quote(f'__s_{c}')}",
            f"{w} * coalesce({v} * {v}, 0D) AS {quote(f'__q_{c}')}",
            f"CAST(IF({v} IS NULL, 0, {w}) AS BIGINT) AS {quote(f'__c_{c}')}",
        ]
    images.append(f"CAST({w} AS BIGINT) AS {COUNT_COL}")
    aggs = [f"sum({m}) AS {m}" for m in moments]
    aggs.append(f"sum({COUNT_COL}) AS {COUNT_COL}")
    for m, (fn, src) in minmax_cols.items():
        arr, dep = quote(f"__arr_{m}"), quote(f"__dep_{m}")
        images += [
            f"IF({w} > 0, {quote(src)}, NULL) AS {arr}",
            f"IF({w} < 0, {quote(src)}, NULL) AS {dep}",
        ]
        aggs += [f"{fn}({c}) AS {c}" for c in (quote(m), arr, dep)]
    if minmax_cols:
        images.append(f"{w} < 0 AS __departs")
        aggs.append("bool_or(__departs) AS __departs")
    folded = (
        state.unionByName(signed.selectExpr(*images), allowMissingColumns=True)
        .groupBy(*gcols)
        .agg(*[F.expr(a) for a in aggs])
        .where(f"{COUNT_COL} > 0")
    )
    if not minmax_cols:
        return folded

    affected = " OR ".join(
        f"coalesce({quote(f'__dep_{m}')} {'<=' if fn == 'min' else '>='} "
        f"{quote(m)}, {quote(m)} IS NULL AND __departs)"
        for m, (fn, _src) in minmax_cols.items()
    )
    flagged = folded.selectExpr(
        *gcols, *moments, COUNT_COL,
        *[
            f"{'least' if fn == 'min' else 'greatest'}"
            f"({quote(m)}, {quote(f'__arr_{m}')}) AS {quote(m)}"
            for m, (fn, _src) in minmax_cols.items()
        ],
        f"coalesce({affected}, false) AS __affected",
    )
    keys = flagged.where("__affected").selectExpr(
        *[f"{quote(g)} AS {quote(f'__a_{g}')}" for g in names]
    )
    on = " AND ".join(f"{quote(g)} <=> {quote(f'__a_{g}')}" for g in names)
    recomputed = (
        base_current.join(F.broadcast(keys), F.expr(on), "left_semi")
        .groupBy(*gcols)
        .agg(*[
            F.expr(f"{fn}({quote(src)}) AS {quote(m)}")
            for m, (fn, src) in minmax_cols.items()
        ])
    )
    kept = flagged.selectExpr(
        *gcols, *moments, COUNT_COL,
        *[
            f"IF(__affected, NULL, {quote(m)}) AS {quote(m)}"
            for m in minmax_cols
        ],
    )
    # one row per group carries the moments, the recompute only extrema:
    # max() passes the moments through, fn() keeps the recomputed extremum
    return (
        kept.unionByName(recomputed, allowMissingColumns=True)
        .groupBy(*gcols)
        .agg(*[
            F.expr(a) for a in [
                *[f"max({m}) AS {m}" for m in moments],
                *[
                    f"{fn}({quote(m)}) AS {quote(m)}"
                    for m, (fn, _src) in minmax_cols.items()
                ],
                f"max({COUNT_COL}) AS {COUNT_COL}",
            ]
        ])
    )


def derive_stats(
    state: DataFrame,
    group_cols: str | list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """User-facing aggregates from a maintained moment state.

    ``aggs`` maps output column -> ``(fn, src_col)`` with fn one of
    ``sum | count | avg | var_samp | var_pop | stddev_samp | stddev_pop |
    min | max`` (``("count", "*")`` is row count).  SQL null semantics:
    SUM/AVG over an all-null group are NULL; VAR_SAMP/STDDEV_SAMP need >= 2
    non-null values, the _pop forms >= 1; MIN/MAX surface the maintained
    ``__mn_``/``__mx_`` extremum columns verbatim (NULL iff every value in
    the group is NULL).  Variance derives from the moment identity
    (q - s^2/n) / (n - ddof), clamped at 0 against floating cancellation."""
    cols = [quote(g) for g in _cols(group_cols)]
    for out, (fn, src) in aggs.items():
        if fn == "count":
            expr = COUNT_COL if src == "*" else quote(f"__c_{src}")
        elif fn in ("min", "max"):
            expr = quote(("__mn_" if fn == "min" else "__mx_") + src)
        else:
            s, q, n = (quote(f"__{p}_{src}") for p in ("s", "q", "c"))
            if fn == "sum":
                expr = f"CASE WHEN {n} > 0 THEN {s} END"
            elif fn == "avg":
                expr = f"CASE WHEN {n} > 0 THEN {s} / {n} END"
            elif fn in ("var_samp", "var_pop", "stddev_samp", "stddev_pop"):
                ddof = 1 if fn.endswith("_samp") else 0
                expr = (
                    f"CASE WHEN {n} > {ddof} THEN "
                    f"greatest(({q} - {s} * {s} / {n}) / ({n} - {ddof}), 0D) END"
                )
                if fn.startswith("stddev"):
                    expr = f"sqrt({expr})"
            else:
                raise ValueError(f"unknown aggregate fn {fn!r} for {out!r}")
        cols.append(f"{expr} AS {quote(out)}")
    return state.selectExpr(*cols)


def apply_distinct(
    aux: DataFrame, changes: DataFrame, group_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """Maintain per-group COUNT(DISTINCT value) from a change feed.

    COUNT DISTINCT is not self-maintainable from the view alone (a
    departing value might or might not still be carried by other rows), but
    becomes so with an *auxiliary view* — the other Gupta & Mumick trick,
    complementing the bounded MIN/MAX recompute: maintain support counts
    per (group, value) pair, which IS additive (:func:`fold_window` over
    the composite key), and the distinct count is just the number of
    surviving pairs per group.

    Returns ``(aux', derived)``: the updated auxiliary frame
    ``(group, value, _n_rows)`` (persist this between refreshes) and the
    derived ``(group, n_distinct)`` view.  Aux size is |group, value| pairs
    — the same cardinality a from-scratch ``count(DISTINCT)`` must shuffle
    anyway; refresh cost stays O(|changes|).

    NULL values are ignored, matching SQL ``COUNT(DISTINCT v)``: an image
    whose value is NULL contributes nothing on that side (so NULL→5 only
    adds support for (g,5), and 5→NULL only retires (g,5))."""
    signed = signed_changes(changes, []).where(f"{quote(value_col)} IS NOT NULL")
    aux2 = fold_window(aux, signed, [group_col, value_col], [], {}, None)
    derived = aux2.groupBy(quote(group_col)).agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    return aux2, derived
