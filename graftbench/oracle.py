"""DuckDB oracles and the result comparison.

SparkEntry ops are checked against graft's own oracle SQL
(`SparkEntry.oracleSql`, handed over by the JVM) over the same parquet
inputs. taxi_etl ops are checked against the benchmark's own SQL over the
same CSV, below. Comparison: columns matched by name, rows compared as
sorted multisets, every value exactly, floats too (both sides round in
SQL, so a rounded aggregate must match to its printed digit).
"""
import copy
import datetime
import decimal
import json
import math
import os

import duckdb

TLC_COLUMNS = {
    "VendorID": "VARCHAR", "tpep_pickup_datetime": "TIMESTAMP",
    "tpep_dropoff_datetime": "TIMESTAMP", "passenger_count": "INTEGER",
    "trip_distance": "DOUBLE", "RatecodeID": "VARCHAR",
    "store_and_fwd_flag": "VARCHAR", "PULocationID": "VARCHAR",
    "DOLocationID": "VARCHAR", "payment_type": "VARCHAR",
    "fare_amount": "DOUBLE", "extra": "DOUBLE", "mta_tax": "DOUBLE",
    "tip_amount": "DOUBLE", "tolls_amount": "DOUBLE",
    "improvement_surcharge": "DOUBLE", "total_amount": "DOUBLE",
}

# TaxiAnalysis re-derived over the raw CSV (table `raw`, with `hd` = trip
# hours) and over its clean subset (table `clean`, with yr/mnth).
_HD = ("date_diff('second', tpep_pickup_datetime, tpep_dropoff_datetime)"
       " / 3600.0")
_CLEAN = ("fare_amount >= 0 AND tip_amount >= 0 AND extra IN (0, 0.5, 1)"
          " AND passenger_count > 0 AND tolls_amount >= 0"
          " AND improvement_surcharge >= 0 AND mta_tax >= 0"
          " AND total_amount >= 0 AND RatecodeID <> '99'"
          " AND year(tpep_pickup_datetime) = 2017"
          " AND month(tpep_pickup_datetime) IN (11, 12)"
          " AND hd >= 0 AND hd <= 24")


def _round(expr, d):
    """Spark's round() of a double: HALF_UP on its decimal form, so an exact
    decimal tie (33.355) goes up. DuckDB's round() works on the binary
    double (33.35499...) and would go down."""
    return f"CAST(round(CAST({expr} AS DECIMAL(38, 10)), {d}) AS DOUBLE)"


def _pct(expr, alias, n, src):
    pct = _round(f"{n} * 100.0 / sum({n}) OVER ()", 2)
    return (f"SELECT {alias}, {n}, {pct} AS pct FROM"
            f" (SELECT {expr} AS {alias}, count(*) AS {n}"
            f" FROM {src} GROUP BY 1)")


def _speed(where, key):
    return (f"SELECT {key}, {_round('avg(trip_distance / hd)', 2)}"
            f" AS avg_speed FROM clean WHERE hd > 0 {where} GROUP BY 1")


ETL_SQL = {
    "raw.records_per_vendor":
        "SELECT VendorID AS vendor, count(*) AS total FROM raw GROUP BY 1",
    "raw.duration_stats":
        f"SELECT VendorID AS vendor, {_round('min(hd)', 4)} AS minval,"
        f" {_round('max(hd)', 4)} AS maxval, {_round('avg(hd)', 4)}"
        f" AS average FROM raw GROUP BY 1",
    "raw.quality_violations":
        f"SELECT VendorID AS vendor, count(*) AS n_bad FROM raw"
        f" WHERE NOT ({_CLEAN}) GROUP BY 1",
    "etl_write":
        "SELECT yr, mnth, count(*) AS n,"
        " CAST(sum(passenger_count) AS BIGINT) AS passengers"
        " FROM clean GROUP BY 1, 2",
    "read.avg_fare_by_month":
        f"SELECT mnth, {_round('avg(fare_amount)', 2)} AS avg_fare"
        f" FROM clean GROUP BY 1",
    "read.passenger_distribution":
        _pct("passenger_count", "level", "n_trips", "clean"),
    "read.payment_preference":
        _pct("payment_type", "payment_type", "cnt", "clean"),
    "read.tip_percentiles":
        f"SELECT {_round('avg(tip_amount)', 2)} AS avg_tip,"
        f" {_round('quantile_cont(tip_amount, 0.25)', 2)} AS p25,"
        f" {_round('quantile_cont(tip_amount, 0.5)', 2)} AS p50,"
        f" {_round('quantile_cont(tip_amount, 0.75)', 2)} AS p75"
        f" FROM clean",
    "read.extra_charge_fraction":
        "SELECT count(*) FILTER (WHERE extra > 0) AS n_extra,"
        " count(*) AS n_total,"
        f" {_round('count(*) FILTER (WHERE extra > 0) * 1.0 / count(*)', 2)}"
        f" AS frac FROM clean",
    "read.tip_passenger_corr":
        f"SELECT {_round('corr(passenger_count, tip_amount)', 2)}"
        f" AS corr_pc_tip FROM clean",
    "read.tip_segments":
        f"SELECT segment, {_round('cnt * 100.0 / sum(cnt) OVER ()', 2)}"
        " AS pct FROM (SELECT CASE WHEN tip_amount < 5 THEN '[0-5)'"
        " WHEN tip_amount < 10 THEN '[5-10)'"
        " WHEN tip_amount < 15 THEN '[10-15)'"
        " WHEN tip_amount < 20 THEN '[15-20)' ELSE '>=20' END AS segment,"
        " count(*) AS cnt FROM clean GROUP BY 1)",
    "read.avg_speed_by_month": _speed("", "mnth"),
    "read.special_days_speed":
        _speed("AND mnth = 12 AND day(tpep_pickup_datetime) IN (25, 31)",
               "CAST(tpep_pickup_datetime AS DATE) AS d"),
}


def _connect(workload: str, inp: str, base: str):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"SET temp_directory = '{base}/duckdb_tmp'")
    if workload == "taxi_etl":
        cols = ", ".join(f"'{k}': '{v}'" for k, v in TLC_COLUMNS.items())
        con.sql(f"CREATE TABLE raw AS SELECT *, {_HD} AS hd FROM read_csv("
                f"'{inp}', header = true, columns = {{{cols}}})")
        con.sql(f"CREATE TABLE clean AS SELECT *,"
                f" year(tpep_pickup_datetime) AS yr,"
                f" month(tpep_pickup_datetime) AS mnth FROM raw"
                f" WHERE {_CLEAN}")
    else:
        for f in sorted(os.listdir(inp)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM"
                        f" '{os.path.join(inp, f)}'")
    return con


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return str(v).replace("nan", "NaN").replace("inf", "Infinity")
    return v


def expected(workload: str, inp: str, oracle_sql: dict, kinds: set) -> dict:
    """kind -> {"cols", "rows"} from DuckDB, cached beside the inputs with
    the SQL that made each entry, so a changed query is run again."""
    base = inp if os.path.isdir(inp) else os.path.dirname(inp)
    cache_path = os.path.join(base, "oracle.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    sql = ETL_SQL if workload == "taxi_etl" else oracle_sql
    missing = [k for k in sorted(kinds)
               if k in sql and cache.get(k, {}).get("sql") != sql[k]]
    if missing:
        con = _connect(workload, inp, base)
        for k in missing:
            try:
                r = con.sql(sql[k])
                cache[k] = {"sql": sql[k], "cols": r.columns,
                            "rows": [[_norm(v) for v in x]
                                     for x in r.fetchall()]}
            except Exception as e:  # an oracle that cannot run fails the op
                cache[k] = {"sql": sql[k],
                            "error": f"oracle SQL error: {e}"}
        con.close()
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return cache


def _sort_key(row):
    return tuple(repr(float(x)) if isinstance(x, (int, float))
                 and not isinstance(x, bool) else str(x) for x in row)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return ([cols[i].lower() for i in order],
            sorted(([r[i] for i in order] for r in rows), key=_sort_key))


def compare(got_cols, got_rows, exp) -> str:
    """None when equal, else the first difference."""
    if "error" in exp:
        return exp["error"]
    gc, gr = _canon(got_cols, got_rows)
    ec, er = _canon(exp["cols"], exp["rows"])
    if gc != ec:
        return f"columns differ: got {gc}, expected {ec}"
    if len(gr) != len(er):
        return f"row count differs: got {len(gr)}, expected {len(er)}"
    for i, (g, e) in enumerate(zip(gr, er)):
        if g != e:
            return f"row {i} differs: got {g}, expected {e}"
    return None


def check_payloads(payloads: list, exp: dict) -> dict:
    """(kind, digest) -> None when the payload matches its oracle, else
    the cause."""
    out = {}
    for p in payloads:
        e = exp.get(p["kind"])
        out[(p["kind"], p["digest"])] = (
            f"no oracle for {p['kind']}" if e is None
            else compare(p["cols"], p["rows"], e))
    return out


def _corrupt(rows) -> bool:
    """Changes the first number by 1 or the first string by a letter."""
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                r[i] = v + 1
                return True
            if isinstance(v, str):
                r[i] = v + "x"
                return True
    return False


def _shift_last_digit(rows, kind: type) -> bool:
    """Moves the first value of `kind` by one unit in its last printed
    digit (33.36 -> 33.37, 41 -> 42), the size of a rounding defect."""
    for r in rows:
        for i, v in enumerate(r):
            if kind is float and isinstance(v, float):
                text = repr(v)
                d = len(text.partition(".")[2])
                if "e" not in text and 1 <= d <= 6:
                    r[i] = round(v + 10 ** -d, d)
                    return True
            if kind is int and isinstance(v, int) \
                    and not isinstance(v, bool):
                r[i] = v + 1
                return True
    return False


def selftest(payloads: list, exp: dict) -> bool:
    """Corrupts checked results on purpose and requires the check to flag
    each: one value changed outright, and one value moved by one unit in
    its last printed digit, a float if any result holds one."""
    checkable = [p for p in payloads if p["rows"] and p["kind"] in exp
                 and "error" not in exp[p["kind"]]]

    def flags(corrupt):
        for p in checkable:
            bad = copy.deepcopy(p)
            if corrupt(bad["rows"]):
                return compare(bad["cols"], bad["rows"], exp[p["kind"]]) \
                    is not None
        return None

    outright = flags(_corrupt)
    last_digit = flags(lambda rows: _shift_last_digit(rows, float))
    if last_digit is None:
        last_digit = flags(lambda rows: _shift_last_digit(rows, int))
    return bool(outright and last_digit)
