"""Seeded generator of raw NYC TLC yellow-trip months.

Each month is one parquet file in the TLC column layout and physical types
(``VendorID`` int64, timestamps without time zone, ``passenger_count`` and
``RatecodeID`` as doubles, fees as nullable doubles).  Rows come in four
kinds, planted at fixed rates so the Job-1 fact contract has known answers:

- valid trips, each distinct (pickup times are strictly increasing), well
  inside every quality bound so float casts cannot flip a comparison;
- exact copies of valid trips, which the full-row dedup removes;
- one victim per quality rule (passengers < 1, > 6 or missing, distance
  < 5 or > 500 miles, fare <= 0, duration >= 1440 minutes);
- valid trips whose congestion and airport fees are missing.  Missing fees
  are written as nulls, as the TLC files do, never as NaN.

``expected`` is computed in numpy from the same arrays: the rows that must
survive and the exact ``total_amount`` sum in cents.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2021
DUP_RATE = 0.02
FEE_NULL_RATE = 0.03
# one share per quality rule; each victim breaks exactly one rule
VICTIM_RATES = {
    "passengers_low": 0.01,
    "passengers_high": 0.01,
    "passengers_missing": 0.01,
    "distance_low": 0.02,
    "distance_high": 0.005,
    "fare_not_positive": 0.01,
    "duration_too_long": 0.005,
}

SCHEMA = pa.schema(
    [
        ("VendorID", pa.int64()),
        ("tpep_pickup_datetime", pa.timestamp("us")),
        ("tpep_dropoff_datetime", pa.timestamp("us")),
        ("passenger_count", pa.float64()),
        ("trip_distance", pa.float64()),
        ("RatecodeID", pa.float64()),
        ("store_and_fwd_flag", pa.string()),
        ("PULocationID", pa.int64()),
        ("DOLocationID", pa.int64()),
        ("payment_type", pa.int64()),
        ("fare_amount", pa.float64()),
        ("extra", pa.float64()),
        ("mta_tax", pa.float64()),
        ("tip_amount", pa.float64()),
        ("tolls_amount", pa.float64()),
        ("improvement_surcharge", pa.float64()),
        ("total_amount", pa.float64()),
        ("congestion_surcharge", pa.float64()),
        ("airport_fee", pa.float64()),
    ]
)


@dataclass(frozen=True)
class Month:
    year: str
    month: str
    path: str
    raw_rows: int
    fact_rows: int
    total_cents: int


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n)


def month_table(seed: int, month: int, rows: int) -> tuple[pa.Table, int, int]:
    """One raw month: (table, expected fact rows, expected total cents)."""
    rng = np.random.default_rng([seed, month])
    n_victims = {k: int(rows * r) for k, r in VICTIM_RATES.items()}
    n_dup = int(rows * DUP_RATE)
    n_valid = rows - n_dup - sum(n_victims.values())
    n_distinct = n_valid + sum(n_victims.values())

    # strictly increasing pickups spread over the month: every distinct row
    # differs in its pickup second, so no two survive the dedup as one
    start = dt.datetime(YEAR, month, 1)
    span = (dt.datetime(YEAR + month // 12, month % 12 + 1, 1) - start).total_seconds()
    step = int(span // n_distinct)
    offs = np.arange(n_distinct, dtype=np.int64) * step + rng.integers(0, step, n_distinct)
    pickup_us = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    pickup = pickup_us + offs * 1_000_000
    duration_s = rng.integers(2 * 60, 90 * 60, n_distinct)

    passengers = rng.integers(1, 7, n_distinct).astype(np.float64)
    distance = np.round(rng.uniform(5.5, 60.0, n_distinct), 2)
    fare_c = _cents(rng, n_distinct, 12.0, 180.0)
    extra_c = rng.choice([0, 50, 100, 250], n_distinct)
    mta_c = np.full(n_distinct, 50)
    tip_c = _cents(rng, n_distinct, 0.0, 30.0)
    tolls_c = rng.choice([0, 0, 0, 655, 1312], n_distinct)
    surcharge_c = np.full(n_distinct, 30)
    congestion_c = rng.choice([0, 250], n_distinct)
    airport_c = rng.choice([0, 0, 0, 125], n_distinct)
    fee_null = np.zeros(n_distinct, dtype=bool)
    fee_null[rng.choice(n_valid, int(rows * FEE_NULL_RATE), replace=False)] = True
    pax_null = np.zeros(n_distinct, dtype=bool)

    # victims sit after the valid rows, one block per rule
    i = n_valid
    for rule, k in n_victims.items():
        sl = slice(i, i + k)
        if rule == "passengers_low":
            passengers[sl] = 0.0
        elif rule == "passengers_high":
            passengers[sl] = rng.integers(7, 10, k)
        elif rule == "passengers_missing":
            pax_null[sl] = True
        elif rule == "distance_low":
            distance[sl] = np.round(rng.uniform(0.3, 4.5, k), 2)
        elif rule == "distance_high":
            distance[sl] = np.round(rng.uniform(520.0, 900.0, k), 2)
        elif rule == "fare_not_positive":
            fare_c[sl] = -rng.integers(0, 2000, k)
        elif rule == "duration_too_long":
            duration_s[sl] = rng.integers(1500 * 60, 2000 * 60, k)
        i += k
    total_c = fare_c + extra_c + mta_c + tip_c + tolls_c + surcharge_c
    total_c = total_c + np.where(fee_null, 0, congestion_c + airport_c)
    cols = {
        "VendorID": rng.choice([1, 2, 6], n_distinct, p=[0.3, 0.65, 0.05]),
        "passenger_count": passengers,
        "trip_distance": distance,
        "RatecodeID": rng.choice([1.0, 1.0, 1.0, 2.0, 5.0], n_distinct),
        "store_and_fwd_flag": rng.choice(np.array(["N", "N", "N", "Y"], dtype=object), n_distinct),
        "PULocationID": rng.integers(1, 266, n_distinct),
        "DOLocationID": rng.integers(1, 266, n_distinct),
        "payment_type": rng.choice([1, 1, 2, 3, 4], n_distinct),
        "fare_amount": fare_c / 100,
        "extra": extra_c / 100,
        "mta_tax": mta_c / 100,
        "tip_amount": tip_c / 100,
        "tolls_amount": tolls_c / 100,
        "improvement_surcharge": surcharge_c / 100,
        "total_amount": total_c / 100,
        "congestion_surcharge": congestion_c / 100,
        "airport_fee": airport_c / 100,
    }
    # a TLC row with no passenger count also lacks rate code, flag and fees
    masks = {
        "passenger_count": pax_null,
        "RatecodeID": pax_null,
        "store_and_fwd_flag": pax_null,
        "congestion_surcharge": fee_null | pax_null,
        "airport_fee": fee_null | pax_null,
    }
    # interleave victims with valid rows: pickup slot p holds distinct row order[p]
    order = rng.permutation(n_distinct)
    placed = {k: v[order] for k, v in cols.items()}
    placed["tpep_pickup_datetime"] = pickup
    placed["tpep_dropoff_datetime"] = pickup + duration_s[order] * 1_000_000
    # exact duplicates of valid rows, shuffled in
    dup_src = rng.choice(np.flatnonzero(order < n_valid), n_dup, replace=True)
    take = np.concatenate([np.arange(n_distinct), dup_src])
    take = take[rng.permutation(len(take))]
    arrays = []
    for field in SCHEMA:
        mask = masks[field.name][order][take] if field.name in masks else None
        arrays.append(pa.array(placed[field.name][take], type=field.type, mask=mask))
    table = pa.Table.from_arrays(arrays, schema=SCHEMA)
    return table, int(n_valid), int(total_c[:n_valid].sum())


def write_months(seed: int, out_dir: str, months: int, rows: int) -> list[Month]:
    """Write ``months`` raw months of ``rows`` rows each; return their answers."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for m in range(1, months + 1):
        table, fact_rows, cents = month_table(seed, m, rows)
        path = os.path.join(out_dir, f"yellow_tripdata_{YEAR}-{m:02d}.parquet")
        pq.write_table(table, path, compression="snappy")
        out.append(Month(str(YEAR), str(m), path, table.num_rows, fact_rows, cents))
    return out
