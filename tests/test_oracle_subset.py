"""Oracle-replica regression net for driver-unsampled queries.

The driver's correctness gate checks the same fixed ~50 catalog queries each
round; everything else is only protected by the manual
``tools/check_oracle.py`` run.  This module runs the SAME compare (Spark vs
DuckDB value hash) inside pytest over a deterministic subset of the
unsampled queries — small enough to stay in the default run (~2 min at
sf0.001), broad enough that a regression in the long tail cannot hide
between judge rounds.

Subset = every 4th unsampled query (sorted) + every query touched in the
current round.  Full-catalog coverage remains ``python tools/check_oracle.py``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import __spark_entry__ as entrymod  # noqa: E402
import check_oracle  # noqa: E402

#: queries added/rewritten in the current round — always checked
CURRENT_ROUND = [
    # change-feed aggregates maintained by the one-aggregate IVM fold
    "q_fs_incremental_agg",
    "q_fs_ivm_join_view",
    # round 13: sf100-runnable oracle twins (FastSS fuzzy candidates,
    # sharded basket pair aggregation)
    "q_fuzzy_part_match",
    "q_market_basket",
    # round 12: sf100 precision reshapes (scale-robust rounding)
    "q_changepoint",
    "q_math_functions",
    "q_null_functions",
    "q_fs_materialized_view",
    # round 10: oracle upgrades (rows-only -> value-matched)
    "q_hash_bucket",
    "q_media_features",
    # round 10: exact percentiles moved to the level-table form
    "q_percentiles",
    "q_percentile_exact",
    "q_mad_robust",
    # round 10: change-feed synthetic-key offset widened (sf10 collision)
    "q_fs_change_feed",
    # round 10: 1-action supersteps / DPP probe
    "q_dedup_components",
    "q_ivf_topk",
    # round 10: persisted-index lifecycle (append/compact/hot-table)
    "q_incremental_dedup",
    "q_incremental_dedup_exact",
]


def _subset() -> list[str]:
    qmap = entrymod.queries()
    sampled: set[str] = set()
    corr = sorted(REPO.glob("CORRECTNESS_r*.json"))
    if corr:
        sampled = set(json.loads(corr[-1].read_text()))
    unsampled = sorted(set(qmap) - sampled)
    picked = set(unsampled[::4]) | (set(CURRENT_ROUND) & set(qmap))
    return sorted(picked)


@pytest.fixture(scope="module")
def duck_con(sf_dir):
    con = check_oracle.duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.oracle_subset
@pytest.mark.parametrize("name", _subset())
def test_oracle_subset(spark, sf_dir, duck_con, name):
    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    err = check_oracle.compare_query(spark, duck_con, qmap, omap, name, sf_dir)
    assert err is None, f"{name}: {err}"


def test_murmur3_duckdb_oracle_matches_spark_hash_on_edge_strings(spark):
    """The q_hash_bucket oracle re-implements Murmur3_x86_32(seed 42) as a
    DuckDB SQL fold (plans/queries_relational._MURMUR3_ORACLE).  The fixture
    data is fixed-width 18-byte names, which exercises exactly ONE
    (block-count, tail-length) shape — this pins the fold on every tail
    length (0-3), the empty string, single-block and many-block inputs, and
    the full printable-ASCII byte range, against F.hash itself.

    (ASCII-only by design: the oracle addresses bytes via ascii(substr), ==
    the UTF-8 byte only below 0x80 — same documented precondition as
    q_media_resize's oracle.)"""
    import duckdb
    from pyspark.sql import functions as F

    from databricks_feature_store_flight_school_spark.plans.queries_relational import (
        _MURMUR3_ORACLE,
    )

    edge = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "abcdefgh", "abcdefghi",
        " !\"#$%&'()*+,-./0123456789:;<=>?@ABC",  # low printable range
        "[\\]^_`abcdefghijklmnopqrstuvwxyz{|}~",  # high printable range
        "Customer#000000000",
        "x" * 101,  # 25 blocks + 1 tail byte
    ]
    rows = list(enumerate(edge))
    sdf = spark.createDataFrame(rows, "c_custkey long, c_name string")
    want = {
        r["c_custkey"]: r["e"]
        for r in sdf.select(
            "c_custkey", (F.hash(F.col("c_name")) % 100 < 35).alias("e")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR)")
    con.executemany("INSERT INTO customer VALUES (?, ?)", rows)
    got = dict(con.execute(_MURMUR3_ORACLE).fetchall())
    con.close()
    assert got == want


def test_round_sig_keeps_absolute_floor_for_cancellation_noise():
    """check_oracle's float rule is 12 significant digits RELATIVE plus the
    old round(9) ABSOLUTE floor: a value that is ~0 by cancellation comes
    out 3e-13 on one engine and -1e-13 (or -0.0, or exact 0.0) on the
    other — all must normalize to the same 0.0 — while large aggregates
    keep relative comparison (a 4e11 sum's last-ulp noise passes, a real
    relative difference fails)."""
    import pandas as pd

    got = check_oracle._round_sig(
        pd.Series([3e-13, -1e-13, 0.0, -0.0, 4.0e11 + 6e-5, 4.0e11, 1.23456789e-5])
    ).tolist()
    assert got[0] == got[1] == got[2] == got[3] == 0.0
    assert got[4] == got[5] == 4.0e11  # ulp noise collapses relatively
    assert got[6] == 1.23456789e-5  # small-but-real values keep 12 sig digits


def test_round_sig_snap_is_magnitude_conditioned():
    """VERDICT r11 #4: the 5e-10 zero-snap arms only when the column's max
    finite |v| exceeds 1e-3 (cancellation needs something large to cancel).
    An ALL-TINY column — a query answering in small probabilities — keeps
    exact values, so an injected 1e-12 cross-engine discrepancy is CAUGHT
    instead of masked; a mixed column (large aggregates + cancellation
    residue) still snaps its sub-5e-10 noise to 0.0."""
    import pandas as pd

    # all-tiny column: 1e-12 vs 2e-12 must stay distinguishable
    a = check_oracle._round_sig(pd.Series([1e-12, 5e-13]))
    b = check_oracle._round_sig(pd.Series([2e-12, 5e-13]))
    assert a.tolist() != b.tolist()
    assert abs(a.tolist()[0] - 1e-12) < 1e-20  # kept (not snapped to 0.0)

    # the same sub-band values WITH a large co-value: snap arms, noise
    # collapses — the cancellation behavior every covariance-style
    # aggregate in the catalog relies on
    c = check_oracle._round_sig(pd.Series([3e-13, -1e-13, 4.0e11])).tolist()
    assert c[0] == c[1] == 0.0

    # full-frame view: two all-tiny frames differing at 1e-12 must NOT
    # normalize equal (the synthetic fixture from the verdict's done bar)
    import pandas as pd  # noqa: F811

    f1 = check_oracle._normalize(pd.DataFrame({"p": [1.0e-12, 3.0e-13]}))
    f2 = check_oracle._normalize(pd.DataFrame({"p": [2.0e-12, 3.0e-13]}))
    assert not f1.equals(f2)

    # ADVICE r12 #2: a PURE-RESIDUAL column (every value ~0 by
    # cancellation, so its own max is tiny) next to an O(1)+ float
    # sibling: the frame-level gate arms the snap, so cross-engine noise
    # below 5e-10 normalizes equal instead of a spurious FAIL
    g1 = check_oracle._normalize(
        pd.DataFrame({"big": [4.0e11, 1.0], "resid": [3.0e-13, -1.0e-13]})
    )
    g2 = check_oracle._normalize(
        pd.DataFrame({"big": [4.0e11, 1.0], "resid": [0.0, 2.0e-13]})
    )
    assert g1.equals(g2)
    assert g1["resid"].tolist() == [0.0, 0.0]
