"""Expected results, computed with DuckDB from the generated files.

Everything here runs during set-up or after the timed windows, never
inside one.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import duckdb


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con

#: readings carry four decimals, so sums of ``round(x * 1e4)`` are exact
#: integers in both engines whatever order they add in
SCALED_SUM = "sum(CAST(round(meter_reading * 10000) AS BIGINT))"


def bdg2_range(range_dir: str) -> dict:
    """Distinct keys and per-meter figures of one range's CSVs, with the
    null readings the melt keeps (``UNPIVOT ... INCLUDE NULLS``)."""
    con = _connect()
    try:
        parts = []
        for i, path in enumerate(sorted(glob.glob(os.path.join(range_dir, "raw", "*.csv")))):
            meter = os.path.splitext(os.path.basename(path))[0]
            con.execute(
                f"CREATE VIEW wide{i} AS SELECT * FROM read_csv('{path}', header=true, "
                f"timestampformat='%Y-%m-%d %H:%M:%S')"
            )
            parts.append(
                f"SELECT DISTINCT timestamp, building_id, '{meter}' AS meter, meter_reading "
                f"FROM wide{i} UNPIVOT INCLUDE NULLS "
                f"(meter_reading FOR building_id IN (COLUMNS(* EXCLUDE (timestamp))))"
            )
        con.execute("CREATE TABLE raw AS " + " UNION ALL ".join(parts))
        per_meter = {
            m: (n, nn, s)
            for m, n, nn, s in con.execute(
                f"SELECT meter, count(*), count(meter_reading), {SCALED_SUM} FROM raw GROUP BY meter"
            ).fetchall()
        }
        weather = os.path.join(range_dir, "weather", "weather.csv")
        (n_weather,) = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT timestamp, site_id FROM read_csv('{weather}', header=true))"
        ).fetchone()
        meta = os.path.join(range_dir, "metadata", "metadata.csv")
        (n_meta,) = con.execute(
            f"SELECT count(DISTINCT building_id) FROM read_csv('{meta}', header=true)"
        ).fetchone()
        return {
            "raw": sum(v[0] for v in per_meter.values()),
            "per_meter": per_meter,
            "weather": n_weather,
            "metadata": n_meta,
        }
    finally:
        con.close()


def stream_input(stream_dir: str) -> dict:
    """Rows in the stream files, and their distinct keys."""
    con = _connect()
    try:
        files = os.path.join(stream_dir, "*.parquet")
        rows, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT (timestamp, building_id, meter)) FROM read_parquet('{files}')"
        ).fetchone()
        return {"rows": rows, "distinct": distinct}
    finally:
        con.close()


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    return v


def result_hash(pdf) -> str:
    """Order-free hash of a result frame: sorted column names, and rows
    canonicalised the way the engine's oracle-parity tests compare them."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False):
        rows.append(tuple(None if (x is pd.NaT) else _norm(x) for x in row))
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def oracle_hashes(star_dir: str, names: list[str]) -> dict[str, str]:
    """Hash of each query's registered DuckDB oracle on ``star_dir``."""
    from building_energy_data_pipeline_spark.plans.queries import REGISTRY
    from building_energy_data_pipeline_spark.sources.readers import TPCH_TABLES

    con = _connect()
    try:
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
        return {q: result_hash(con.execute(REGISTRY[q].oracle).fetchdf()) for q in names}
    finally:
        con.close()


HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")


def stored_hashes() -> dict[str, str]:
    with open(HASHES) as fh:
        return json.load(fh)


def write_hashes(work: str) -> dict[str, str]:
    """Generate the star tables under ``work`` and store the oracle hashes
    of the headline workload's queries."""
    import gen_star
    from workloads import HEADLINE_SET

    gen_star.generate(work, gen_star.SEED)
    hashes = oracle_hashes(work, HEADLINE_SET)
    with open(HASHES, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return hashes


if __name__ == "__main__":
    # python3 perfbench/expect.py  (from the repository root) rewrites
    # expected_hashes.json; run it when a query or its oracle changes
    import shutil
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(HASHES)))
    work = os.path.join(os.getcwd(), ".perfbench_work", "expected")
    try:
        print(json.dumps(write_hashes(work), indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
