"""Seeded NOAA-shaped input for the ``medallion_refresh`` workload.

Long-format daily observations (one measurement per row, the shape the
Bronze pivot ingests) for ``stations`` stations over ``years`` years and
the 10 whitelisted datatypes, written once to parquet by DuckDB. Every
value is a pure function of ``(seed, station, day, datatype)``, so the
same seed gives byte-identical rows.

Planted edge cases, as in ``pipeline/rehearsal.py``:

- about 1/7 of measurements missing              -> pivot nulls
- TAVG additionally missing for 1/3              -> (min+max)/2 repair
- station 0 reports no wind at all               -> group-mean falls to 0
- 1/11 of measurements re-delivered later with
  value + 10 and a higher ``seq``                -> last-write-wins pivot

``expected`` recomputes, in DuckDB over the same parquet file, the row
counts and per-year aggregates the pipeline must produce.
"""

from __future__ import annotations

import hashlib

import duckdb

DATATYPES = ("PRCP", "SNOW", "SNWD", "TMAX", "TMIN", "TAVG",
             "AWND", "WSF2", "WDF2", "WT01")
WIND_TYPES = ("AWND", "WSF2", "WDF2")
FIRST_YEAR = 2001


def stations(seed: int, n: int) -> list[tuple[str, str, float, float]]:
    """(station_id, name, latitude, longitude) rows of the station dim."""
    out = []
    for i in range(n):
        h = int(hashlib.sha256(f"{seed}:station:{i}".encode()).hexdigest(), 16)
        out.append((
            f"GHCND:USW{h % 100000:05d}{i:03d}",
            f"STATION {i:03d}",
            round(25.0 + (h >> 20) % 2400 / 100.0, 5),
            round(-124.0 + (h >> 40) % 5500 / 100.0, 5),
        ))
    return out


def _sql_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def write_raw(path: str, seed: int, n_stations: int, years: int) -> int:
    """Write the long-format input to ``path`` (one parquet file) and
    return its row count."""
    st = stations(seed, n_stations)
    st_sql = ", ".join(
        f"({i}, '{sid}', {lat}, {lon})" for i, (sid, _, lat, lon) in enumerate(st)
    )
    dt_sql = ", ".join(f"({i}, '{d}')" for i, d in enumerate(DATATYPES))
    n_days = (
        duckdb.sql(
            f"SELECT (DATE '{FIRST_YEAR + years}-01-01' - DATE '{FIRST_YEAR}-01-01')"
        ).fetchone()[0]
    )
    n_ids = n_stations * n_days * len(DATATYPES)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"""
        COPY (
          WITH st(st_idx, station, latitude, longitude) AS (VALUES {st_sql}),
          dt(dt_idx, datatype) AS (VALUES {dt_sql}),
          base AS (
            SELECT st.st_idx, st.station, st.latitude, st.longitude,
                   dt.datatype, d.day,
                   CAST(d.day * {n_stations * len(DATATYPES)}
                        + st.st_idx * {len(DATATYPES)} + dt.dt_idx AS BIGINT) AS seq,
                   hash({seed}, st.st_idx, d.day, dt.datatype) AS h
            FROM range({n_days}) d(day), st, dt
          ),
          present AS (
            SELECT strftime(DATE '{FIRST_YEAR}-01-01' + CAST(day AS INTEGER),
                            '%Y-%m-%dT%H:%M:%S') AS date,
                   station, latitude, longitude, datatype,
                   CASE WHEN datatype = 'WDF2' THEN CAST(h % 360 AS DOUBLE)
                        WHEN datatype = 'WT01' THEN 1.0
                        WHEN datatype IN ('TMAX', 'TMIN', 'TAVG')
                          THEN CAST(h % 400 AS DOUBLE) / 10.0 - 10.0
                        ELSE CAST(h % 600 AS DOUBLE) / 10.0 END AS value,
                   seq, h
            FROM base
            WHERE h % 7 <> 0
              AND NOT (datatype = 'TAVG' AND h % 3 = 0)
              AND NOT (st_idx = 0 AND datatype IN ({_sql_list(WIND_TYPES)}))
          )
          SELECT date, station, latitude, longitude, datatype, value, seq
          FROM present
          UNION ALL
          SELECT date, station, latitude, longitude, datatype, value + 10.0,
                 seq + {n_ids}
          FROM present WHERE h % 11 = 0
          ORDER BY seq
        ) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 200000)
        """)
        return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    finally:
        con.close()


def digest(path: str) -> str:
    """Order-insensitive digest of the raw input's rows."""
    return duckdb.sql(f"""
        SELECT CAST(count(*) AS VARCHAR) || ':' ||
               CAST(bit_xor(hash(date, station, latitude, longitude,
                                 datatype, value, seq)) AS VARCHAR)
        FROM '{path}'
    """).fetchone()[0]


def expected(path: str) -> dict:
    """Row counts and Gold figures the pipeline must produce.

    ``yearly`` maps year -> (n_days, exact sum of avg_temperature_rounded
    as a decimal string), where the repaired average follows Silver:
    TAVG if present, else (TMIN+TMAX)/2, else 0, rounded to 2 places.
    ``corr`` is precipitation vs that average over all days and
    ``slope`` the least-squares trend of the yearly means.
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"""
        CREATE TEMP TABLE wide AS
        SELECT date, station,
               arg_max(value, seq) FILTER (WHERE datatype = 'TMAX') AS tmax,
               arg_max(value, seq) FILTER (WHERE datatype = 'TMIN') AS tmin,
               arg_max(value, seq) FILTER (WHERE datatype = 'TAVG') AS tavg,
               arg_max(value, seq) FILTER (WHERE datatype = 'PRCP') AS prcp
        FROM '{path}'
        WHERE datatype IN ({_sql_list(DATATYPES)})
        GROUP BY date, station
        """)
        n_wide = con.execute("SELECT count(*) FROM wide").fetchone()[0]
        rows = con.execute("""
        SELECT CAST(substr(date, 1, 4) AS INTEGER) AS year,
               count(*) AS n_days,
               CAST(sum(CAST(round(CASE WHEN tavg IS NOT NULL THEN tavg
                        WHEN tmin IS NOT NULL AND tmax IS NOT NULL
                          THEN (tmin + tmax) / 2
                        ELSE 0.0 END, 2) AS DECIMAL(18, 2))) AS VARCHAR)
        FROM wide GROUP BY 1 ORDER BY 1
        """).fetchall()
        n_station_months, n_station_month_years = con.execute("""
        SELECT count(DISTINCT (station, substr(date, 6, 2))),
               count(DISTINCT (station, substr(date, 1, 7)))
        FROM wide
        """).fetchone()
        corr = con.execute("""
        SELECT corr(prcp, round(CASE WHEN tavg IS NOT NULL THEN tavg
                        WHEN tmin IS NOT NULL AND tmax IS NOT NULL
                          THEN (tmin + tmax) / 2
                        ELSE 0.0 END, 2))
        FROM wide
        """).fetchone()[0]
    finally:
        con.close()
    yearly = {int(y): (int(n), s) for y, n, s in rows}
    slope = duckdb.sql(
        "SELECT regr_slope(m, y) FROM (VALUES "
        + ", ".join(f"({y}, {float(s) / n!r})" for y, (n, s) in yearly.items())
        + ") t(y, m)"
    ).fetchone()[0]
    return {
        "bronze_rows": n_wide,
        "silver_rows": n_wide,
        "yearly": yearly,
        "station_months": n_station_months,
        "station_month_years": n_station_month_years,
        "corr": corr,
        "slope": slope,
    }
