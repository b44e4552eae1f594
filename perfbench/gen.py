"""Seeded BDG2-shaped input generator.

Writes, for one seed, everything the ETL workload feeds the program,
for three consecutive time ranges R1, R2 and R3, each separated from the
last by more than the loader's 1 h overlap tolerance:

- ``<root>/r{1,2,3}/{raw,metadata,weather}/*.csv``: wide hourly meter
  matrices (one file per meter, one column per building), plus the
  ``metadata`` and ``weather`` side tables;
- ``<root>/r2_parquet/{raw,metadata,weather}``: R2 as the Parquet the
  program's transform step writes (long ``raw``, with its repeated rows);
- ``<root>/stream/part-NNNN.parquet``: R3 as long-format
  ``(timestamp, building_id, meter, meter_reading)`` files of
  ``STREAM_FILE_HOURS`` each, with rows duplicated inside a file and
  rows of the previous file replayed.

The shape follows BDG2: 1,636 buildings over 19 sites, with a quarter of
each meter's column count in the public release (3,053 columns in all),
so the proportions between meters stay BDG2's. Runs of null readings and
repeated timestamp rows give the melt and the dedup real work.
Everything is drawn from one ``numpy`` generator in a single process, so
a seed fixes every byte written.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: BDG2 meter columns per meter type (3,053 in all)
METER_WIDTHS = {
    "electricity": 1578,
    "chilledwater": 555,
    "steam": 370,
    "hotwater": 185,
    "gas": 177,
    "water": 146,
    "irrigation": 37,
    "solar": 5,
}
N_BUILDINGS = 1636
N_SITES = 19
USAGES = ("office", "education", "lodging", "assembly", "public", "health")
T0 = pd.Timestamp("2016-01-01 00:00:00")
GAP_HOURS = 6  # hours between one range's last and the next one's first hour
DUP_ROW_SHARE = 0.02  # wide rows written twice
REPLAY_SHARE = 0.05  # previous stream file's rows replayed in the next

HOURS = 24  # hours in R1 and in R2
STREAM_HOURS = 12  # hours in R3, the streamed range
STREAM_FILE_HOURS = 6  # hours of R3 per stream file
R2_START = T0 + pd.Timedelta(hours=HOURS + GAP_HOURS)
R3_START = R2_START + pd.Timedelta(hours=HOURS + GAP_HOURS)
#: meter columns written per meter type: a quarter of BDG2's (761 in all)
WIDTHS = {m: round(w / 4) for m, w in METER_WIDTHS.items()}


def buildings(rng: np.random.Generator) -> pd.DataFrame:
    """1,636 buildings spread over 19 sites, BDG2-style ids."""
    site = np.sort(rng.integers(0, N_SITES, N_BUILDINGS))
    usage = rng.integers(0, len(USAGES), N_BUILDINGS)
    ids = [
        f"site{s:02d}_{USAGES[u]}_{i:04d}" for i, (s, u) in enumerate(zip(site, usage))
    ]
    return pd.DataFrame(
        {
            "building_id": ids,
            "site_id": [f"site{s:02d}" for s in site],
            "primaryspaceusage": [USAGES[u] for u in usage],
            "sqm": np.round(rng.uniform(200, 40000, N_BUILDINGS), 1),
            "yearbuilt": rng.integers(1900, 2016, N_BUILDINGS).astype(float),
        }
    )


def _meter_columns(rng: np.random.Generator, ids: list[str]) -> dict[str, list[str]]:
    """Which buildings carry which meter (column order as in the CSV)."""
    out = {}
    for meter, width in WIDTHS.items():
        pick = np.sort(rng.choice(len(ids), width, replace=False))
        out[meter] = [ids[i] for i in pick]
    return out


def _wide_matrix(rng: np.random.Generator, hours: int, ncols: int) -> np.ndarray:
    """Hourly readings with runs of nulls. No column is null throughout:
    the CSV schema pass would type it as string, and the melt then fails
    with UNPIVOT_VALUE_DATA_TYPE_MISMATCH (see NOTES.md)."""
    base = rng.gamma(2.0, 50.0, ncols)
    daily = 1.0 + 0.3 * np.sin(np.arange(hours) * (2 * np.pi / 24.0))
    vals = np.round(base[None, :] * daily[:, None] * rng.uniform(0.8, 1.2, (hours, ncols)), 4)
    # null gaps: a few runs per column
    n_gaps = max(1, ncols // 4)
    cols = rng.integers(0, ncols, n_gaps)
    starts = rng.integers(0, hours, n_gaps)
    lens = rng.integers(1, max(2, hours // 4), n_gaps)
    for c, s, n in zip(cols, starts, lens):
        vals[s : s + n, c] = np.nan
    return vals


def _with_dup_rows(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Row order with a share of rows written twice (adjacent)."""
    order = np.arange(n)
    dups = rng.choice(n, max(1, int(n * share)), replace=False)
    return np.sort(np.concatenate([order, dups]), kind="stable")


def _write_range(
    rng: np.random.Generator,
    root: str,
    start: pd.Timestamp,
    hours: int,
    bldg: pd.DataFrame,
    meter_cols: dict[str, list[str]],
) -> dict[str, pd.DataFrame]:
    """One range's CSVs; returns the range as long ``raw`` (repeated rows
    included), ``metadata`` and ``weather`` frames."""
    ts = pd.date_range(start, periods=hours, freq="h")
    raw_dir = os.path.join(root, "raw")
    os.makedirs(raw_dir, exist_ok=True)
    longs = {}
    for meter, cols in meter_cols.items():
        vals = _wide_matrix(rng, hours, len(cols))
        order = _with_dup_rows(rng, hours, DUP_ROW_SHARE)
        wide = pd.DataFrame(vals[order], columns=cols)
        wide.insert(0, "timestamp", ts[order].strftime("%Y-%m-%d %H:%M:%S"))
        wide.to_csv(
            os.path.join(raw_dir, f"{meter}.csv"),
            index=False,
            float_format="%.4f",
            na_rep="",
        )
        longs[meter] = pd.DataFrame(
            {
                "timestamp": np.repeat(ts.values[order], len(cols)),
                "building_id": np.tile(np.array(cols, dtype=object), len(order)),
                "meter_reading": vals[order].reshape(-1),
                "meter": meter,
            }
        )
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    bldg.to_csv(os.path.join(meta_dir, "metadata.csv"), index=False, float_format="%.1f")
    sites = sorted(bldg["site_id"].unique())
    weather = pd.DataFrame(
        {
            "timestamp": np.repeat(ts.strftime("%Y-%m-%d %H:%M:%S"), len(sites)),
            "site_id": np.tile(sites, hours),
            "airTemperature": np.round(rng.normal(12, 8, hours * len(sites)), 1),
            "dewTemperature": np.round(rng.normal(5, 6, hours * len(sites)), 1),
            "windSpeed": np.round(rng.gamma(2.0, 2.0, hours * len(sites)), 1),
        }
    )
    weather.loc[rng.random(len(weather)) < 0.02, "airTemperature"] = np.nan
    weather_dir = os.path.join(root, "weather")
    os.makedirs(weather_dir, exist_ok=True)
    weather.to_csv(os.path.join(weather_dir, "weather.csv"), index=False, na_rep="")
    weather["timestamp"] = pd.to_datetime(weather["timestamp"])
    return {"raw": pd.concat(list(longs.values()), ignore_index=True), "metadata": bldg, "weather": weather}


def _write_parquet(frame: pd.DataFrame, path: str) -> None:
    """One parquet dataset, typed as the program's CSV transform types
    it (UTC timestamps, doubles, strings)."""
    frame = frame.copy()
    if "timestamp" in frame:
        ts = pd.to_datetime(frame["timestamp"]).dt.tz_localize("UTC")
        frame["timestamp"] = ts.astype("datetime64[us, UTC]")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), os.path.join(path, "part-00000.parquet"))


def _write_stream(rng: np.random.Generator, out: str, long: pd.DataFrame) -> int:
    """R3 as long files of ``STREAM_FILE_HOURS`` each, with in-file
    duplicates and replays of the previous file. File mtimes are set
    one second apart so the file source picks them up in order."""
    os.makedirs(out, exist_ok=True)
    long = long.drop_duplicates(["timestamp", "building_id", "meter"])
    long = long.sort_values(["timestamp", "meter", "building_id"], kind="stable")
    hour = ((long["timestamp"] - long["timestamp"].min()) // pd.Timedelta(hours=1)).to_numpy()
    block = hour // STREAM_FILE_HOURS
    schema = pa.schema(
        [
            ("timestamp", pa.timestamp("us")),
            ("building_id", pa.string()),
            ("meter", pa.string()),
            ("meter_reading", pa.float64()),
        ]
    )
    prev = None
    n_files = int(block.max()) + 1
    for b in range(n_files):
        part = long[block == b]
        extra = [part.iloc[rng.choice(len(part), max(1, len(part) // 50), replace=False)]]
        if prev is not None:
            extra.append(prev.iloc[rng.choice(len(prev), int(len(prev) * REPLAY_SHARE), replace=False)])
        body = pd.concat([part, *extra], ignore_index=True)
        path = os.path.join(out, f"part-{b:04d}.parquet")
        body = body[["timestamp", "building_id", "meter", "meter_reading"]]
        pq.write_table(pa.Table.from_pandas(body, schema=schema, preserve_index=False), path)
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
        prev = part
    return n_files


def generate(root: str, seed: int) -> dict:
    """Write every input for ``seed`` under ``root``; returns a manifest."""
    rng = np.random.default_rng(seed)
    bldg = buildings(rng)
    meter_cols = _meter_columns(rng, bldg["building_id"].tolist())
    _write_range(rng, os.path.join(root, "r1"), T0, HOURS, bldg, meter_cols)
    r2 = _write_range(rng, os.path.join(root, "r2"), R2_START, HOURS, bldg, meter_cols)
    # R2 as the Parquet the transform step would write, for the loads
    for table, frame in r2.items():
        _write_parquet(frame, os.path.join(root, "r2_parquet", table))
    r3 = _write_range(rng, os.path.join(root, "r3"), R3_START, STREAM_HOURS, bldg, meter_cols)
    n_files = _write_stream(rng, os.path.join(root, "stream"), r3["raw"])
    return {
        "root": root,
        "seed": seed,
        "hours": HOURS,
        "meter_columns": sum(WIDTHS.values()),
        "stream_files": n_files,
    }
