"""Seeded input generators for the graft benchmark.

Every generator is a pure function of (seed, size constants below): the
same seed writes byte-identical files, and a different seed changes the
values but never the row counts, the file layout or the op mix.

  events(seed, out)  an `events` parquet file with the testdata schema
                     (one row group, SNAPPY), read by the streaming st*
                     queries.
  tlc_csv(seed, out) a synthetic NYC TLC yellow-taxi CSV in the reference's
                     17-column shape, Nov-Dec 2017, carrying every dirty-row
                     class the reference's quality checks look for, at the
                     rates in DIRTY_RATES.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts, sized so one op round fits the benchmark's per-run time
# budget on a 4-core machine.
EVENTS = 20_000
USERS = 1_500
TLC_ROWS = 60_000

# Share of TLC rows carrying each dirty-row class (a row carries at most
# one class; the remaining rows are clean).
DIRTY_RATES = {
    "negative_fare": 0.004,       # fare_amount and total_amount < 0
    "negative_tip": 0.002,        # tip_amount < 0
    "negative_tolls": 0.001,      # tolls_amount < 0
    "negative_surcharge": 0.002,  # improvement_surcharge < 0
    "negative_mta_tax": 0.002,    # mta_tax < 0
    "bad_extra": 0.006,           # extra not in {0, 0.5, 1}
    "ratecode_99": 0.001,         # RatecodeID = 99
    "zero_passengers": 0.008,     # passenger_count = 0
    "negative_duration": 0.001,   # dropoff before pickup
    "over_24h": 0.001,            # trip longer than 24 hours
    "out_of_window": 0.003,       # pickup outside Nov-Dec 2017
}

US_PER_DAY = 86_400_000_000


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us, type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy",
                   row_group_size=len(table) + 1)
    os.replace(tmp, path)


def events(seed: int, out: str) -> None:
    """`out`/events.parquet, read by the streaming st* queries."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = EVENTS
    types = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    value = np.round(rng.gamma(1.3, 45.0, n), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    _write(table, os.path.join(out, "events.parquet"))


TLC_HEADER = ("VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,"
              "passenger_count,trip_distance,RatecodeID,store_and_fwd_flag,"
              "PULocationID,DOLocationID,payment_type,fare_amount,extra,"
              "mta_tax,tip_amount,tolls_amount,improvement_surcharge,"
              "total_amount")


def tlc_csv(seed: int, out: str, rows: int = TLC_ROWS) -> str:
    """Writes `out`/trips.csv and returns its path."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = rows
    # every row gets at most one dirty class, drawn from DIRTY_RATES
    classes = list(DIRTY_RATES)
    probs = np.array([DIRTY_RATES[c] for c in classes])
    u = rng.random(n)
    edges = np.cumsum(probs)
    cls = np.searchsorted(edges, u, side="right")  # len(classes) = clean
    is_ = {c: cls == i for i, c in enumerate(classes)}

    pickup = rng.integers(0, 61 * 86_400, n)  # seconds from 2017-11-01
    early = rng.random(n) < 0.5
    pickup = np.where(is_["out_of_window"],
                      np.where(early, -rng.integers(1, 30 * 86_400, n),
                               61 * 86_400 + rng.integers(0, 30 * 86_400, n)),
                      pickup)
    dur = np.clip(rng.lognormal(6.5, 0.6, n), 60, 4 * 3600).astype(np.int64)
    dur = np.where(is_["negative_duration"], -rng.integers(60, 7200, n), dur)
    dur = np.where(is_["over_24h"], 86_400 + rng.integers(60, 86_400, n), dur)
    base = np.datetime64("2017-11-01T00:00:00", "s")
    pu = (base + pickup.astype("timedelta64[s]")).astype(str).tolist()
    do = (base + (pickup + dur).astype("timedelta64[s]")).astype(str).tolist()

    vendor = rng.integers(1, 3, n)
    passengers = np.where(is_["zero_passengers"], 0,
                          rng.choice([1, 1, 1, 1, 2, 2, 3, 4, 5, 6], n))
    dist = np.round(np.maximum(0.1, dur / 3600.0 * rng.uniform(4, 18, n)), 2)
    ratecode = np.where(is_["ratecode_99"], 99,
                        rng.choice([1] * 20 + [2, 3, 4, 5], n))
    flag = np.where(rng.random(n) < 0.01, "Y", "N")
    pul = rng.integers(1, 266, n)
    dol = rng.integers(1, 266, n)
    payment = rng.choice([1, 1, 1, 2, 2, 3, 4], n)
    fare = np.round(2.5 + dist * 2.5, 2)
    fare = np.where(is_["negative_fare"], -fare, fare)
    extra = rng.choice([0.0, 0.5, 1.0], n)
    extra = np.where(is_["bad_extra"],
                     rng.choice([4.5, -0.5, 0.3, 1.5], n), extra)
    mta = np.where(is_["negative_mta_tax"], -0.5, 0.5)
    tip = np.where(payment == 1, np.round(fare * rng.uniform(0, 0.3, n), 2),
                   0.0)
    tip = np.where(rng.random(n) < 0.003, np.round(rng.uniform(20, 60, n), 2),
                   tip)
    tip = np.where(is_["negative_tip"], -np.abs(tip) - 1.0, tip)
    tolls = np.where(rng.random(n) < 0.05, 5.76, 0.0)
    tolls = np.where(is_["negative_tolls"], -5.76, tolls)
    surcharge = np.where(is_["negative_surcharge"], -0.3, 0.3)
    total = np.round(fare + extra + mta + tip + tolls + surcharge, 2)

    money = zip(*(c.tolist() for c in
                  (dist, fare, extra, mta, tip, tolls, surcharge, total)))
    ints = zip(*(c.tolist() for c in
                 (vendor, passengers, ratecode, pul, dol, payment)))
    path = os.path.join(out, "trips.csv")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(TLC_HEADER + "\n")
        for p, d, fl, (v, pc, rc, pl, dl, pt), m in zip(
                pu, do, flag.tolist(), ints, money):
            f.write(f"{v},{p.replace('T', ' ')},{d.replace('T', ' ')},{pc},"
                    f"{m[0]:.2f},{rc},{fl},{pl},{dl},{pt},{m[1]:.2f},"
                    f"{m[2]:.2f},{m[3]:.2f},{m[4]:.2f},{m[5]:.2f},{m[6]:.2f},"
                    f"{m[7]:.2f}\n")
    os.replace(tmp, path)
    return path
