"""Seeded benchmark inputs, generated outside every timed region and cached
under the run's work directory, keyed by seed, sizes and generator code.

- ``fs_upserts``: a telco CSV (the column domains of the telco-flow test
  fixture) for the bootstrap table, plus a plan of small batches. Each batch
  is a delta CSV of updated and inserted customers, a list of deleted keys and
  a list of keys to read back. ``bootstrap_table`` and ``apply_batch`` keep
  the expected table in plain Python; the correctness gate compares against
  it.
- ``catalog_mix``: the star schema, documents and embeddings from
  ``tools/gen_testdata.gen``.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import json
import os
import random
import sys

CONTRACTS = ["Month-to-month", "One year", "Two year", "Prepaid-unknown"]
SERVICES = ["Yes", "No", "No internet service"]
PAYMENT = ["Electronic check", "Mailed check", "Bank transfer", "Credit card"]
OPTIONAL = ["OnlineSecurity", "OnlineBackup", "DeviceProtection",
            "TechSupport", "StreamingTV", "StreamingMovies"]
COLUMNS = [
    "customerID", "gender", "SeniorCitizen", "Partner", "Dependents", "tenure",
    "PhoneService", "MultipleLines", "InternetService", *OPTIONAL, "Contract",
    "PaperlessBilling", "PaymentMethod", "MonthlyCharges", "TotalCharges", "Churn",
]


def _telco_row(rng: random.Random, cid: str) -> list:
    tenure = rng.choice([0, 0, 1, 5, 12, 24, 48, 71])
    monthly = round(rng.uniform(18.0, 120.0), 2)
    total = "" if tenure == 0 and rng.random() < 0.7 else str(
        round(monthly * max(tenure, 1) * rng.uniform(0.9, 1.1), 2)
    )
    return [
        cid,
        rng.choice(["Male", "Female"]),
        rng.choice([0, 0, 0, 1]),
        rng.choice(["Yes", "No"]),
        rng.choice(["Yes", "No"]),
        tenure,
        rng.choice(["Yes", "No"]),
        rng.choice(["Yes", "No", "No phone service"]),
        rng.choice(["DSL", "Fiber optic", "No"]),
        *[rng.choice(SERVICES) for _ in OPTIONAL],
        rng.choice(CONTRACTS),
        rng.choice(["Yes", "No"]),
        rng.choice(PAYMENT),
        monthly,
        total,
        rng.choice(["Yes", "No", "No", "No"]),
    ]


def _write_csv(path: str, rows: list[list]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(COLUMNS)
        w.writerows(rows)


def key(cid: str) -> int:
    """The feature table's numeric key for a ``NNNNNNN-CUST`` id (the online
    store's JDBC DELETE cannot compare Derby CLOB string keys)."""
    return int(cid.split("-")[0])


def service_features(row: list) -> dict:
    """Plain-Python twin of ``flows.telco``'s clean -> service split -> v2
    columns, for one raw CSV row: the values the feature table must hold."""
    r = dict(zip(COLUMNS, row))
    tenure = int(r["tenure"])
    total = float(r["TotalCharges"]) if str(r["TotalCharges"]).strip() else 0.0
    monthly = float(r["MonthlyCharges"])
    return {
        "customerID": key(r["customerID"]),
        "tenure": tenure,
        "Contract": {"Month-to-month": 1, "One year": 12, "Two year": 24}.get(r["Contract"]),
        "PaymentMethod": r["PaymentMethod"],
        "MonthlyCharges": monthly,
        "TotalCharges": total,
        "NumOptionalServices": sum(r[c] == "Yes" for c in OPTIONAL),
        "AvgPriceIncrease": monthly - total / tenure if tenure > 0 else 0.0,
    }


def gen_upserts(outdir: str, seed: int, n_keys: int, changes: int,
                deletes: int, reads: int, batches: int) -> dict:
    """Bootstrap CSV of ``n_keys`` customers plus ``batches`` batch specs.
    Each batch updates ``changes * 3 // 4`` live customers, inserts the rest
    as new ones, deletes ``deletes`` other live customers and reads back
    ``reads`` keys it just wrote."""
    rng = random.Random(seed)
    rows = {f"{i:07d}-CUST": None for i in range(n_keys)}
    for cid in rows:
        rows[cid] = _telco_row(rng, cid)
    _write_csv(os.path.join(outdir, "telco.csv"), list(rows.values()))
    live = list(rows)
    next_id = n_keys
    plan = []
    for b in range(batches):
        n_upd = changes * 3 // 4
        upd = rng.sample(live, n_upd)
        ins = [f"{next_id + i:07d}-CUST" for i in range(changes - n_upd)]
        next_id += len(ins)
        delta = [_telco_row(rng, cid) for cid in upd + ins]
        path = os.path.join(outdir, f"delta_{b:03d}.csv")
        _write_csv(path, delta)
        live.extend(ins)
        touched = set(upd) | set(ins)
        dels = rng.sample([k for k in live if k not in touched], deletes)
        dead = set(dels)
        live = [k for k in live if k not in dead]
        plan.append({
            "delta_csv": path,
            "rows": delta,
            "deletes": [key(k) for k in dels],
            "reads": [key(k) for k in rng.sample(sorted(touched), min(reads, len(touched)))],
        })
    return {"bootstrap_csv": os.path.join(outdir, "telco.csv"),
            "bootstrap_rows": list(rows.values()), "batches": plan}


def bootstrap_table(inputs: dict) -> dict[int, dict]:
    """Expected feature-table contents before the first batch."""
    return {key(r[0]): service_features(r) for r in inputs["bootstrap_rows"]}


def apply_batch(table: dict[int, dict], batch: dict) -> None:
    """Advance the expected contents over one batch's upserts and deletes."""
    for r in batch["rows"]:
        table[key(r[0])] = service_features(r)
    for k in batch["deletes"]:
        table.pop(k, None)


def gen_catalog(outdir: str, seed: int, sf: float) -> dict:
    """The catalog star schema via ``tools/gen_testdata.gen`` (its table-size
    chatter goes to stderr so stdout stays the benchmark's report)."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import gen_testdata

    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.gen(sf, outdir, seed)
    return {"sf_dir": outdir, "sf": sf}


def source_digest(root: str) -> str:
    """Short hash of the generator code (this module and
    ``tools/gen_testdata.py``), for the input cache key."""
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), os.path.join(root, "tools", "gen_testdata.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cached(cache_dir: str, make) -> tuple[dict, bool]:
    """Return ``make(cache_dir)``'s result, generating it only when the
    directory has no completed manifest yet."""
    manifest = os.path.join(cache_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh), True
    os.makedirs(cache_dir, exist_ok=True)
    out = make(cache_dir)
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, manifest)
    return out, False
