"""Tests of the benchmark's own parts: generators, statistics, spans."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

import gen
import gen_star
from stats import covered, self_time, tail_percentile


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_byte_identical_for_a_seed_and_differs_across_seeds(tmp_path):
    gen.generate(str(tmp_path / "a"), 7)
    gen.generate(str(tmp_path / "b"), 7)
    gen.generate(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert set(a) == set(c) and a != c
    gen_star.generate(str(tmp_path / "s1"), 7)
    gen_star.generate(str(tmp_path / "s2"), 7)
    gen_star.generate(str(tmp_path / "s3"), 8)
    assert _digest(str(tmp_path / "s1")) == _digest(str(tmp_path / "s2")) != _digest(str(tmp_path / "s3"))


def test_generator_shape(tmp_path):
    m = gen.generate(str(tmp_path), 1)
    assert sum(gen.METER_WIDTHS.values()) == 3053
    assert m["meter_columns"] == sum(gen.WIDTHS.values()) == 761
    wide = pd.read_csv(tmp_path / "r1" / "raw" / "electricity.csv")
    assert wide["timestamp"].duplicated().any()  # repeated rows for the dedup
    assert wide.drop(columns="timestamp").isna().any().any()  # null runs for the melt
    assert m["stream_files"] == gen.STREAM_HOURS // gen.STREAM_FILE_HOURS


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 55)]  # 54 samples
    p, v = tail_percentile(values)
    assert p == 81 and v == 44.0
    assert sum(x > v for x in values) == 10
    assert tail_percentile(values[:10]) is None
    assert tail_percentile(values[:11]) == (9, 1.0)


def test_self_time_subtracts_the_union_of_children():
    children = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]
    assert covered((0.0, 10.0), children) == pytest.approx(6.0)
    assert self_time((0.0, 10.0), children) == pytest.approx(4.0)
    assert self_time((0.0, 10.0), []) == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark():
    from building_energy_data_pipeline_spark.session import get_spark

    return get_spark(master="local[2]", shuffle_partitions=2)


def test_gate_rejects_a_range_within_the_tolerance_of_the_last(spark):
    """Why the generator leaves more than 1 h between R1 and R2: the
    gate's inclusive ``BETWEEN [min - 1h, max + 1h]`` rejects the hour
    right after R1, and passes a range that starts later."""
    from building_energy_data_pipeline_spark.etl.loader import check_data_overlap

    r1_end = gen.T0 + pd.Timedelta(hours=gen.HOURS - 1)

    def rows(start, hours):
        ts = pd.date_range(start, periods=hours, freq="h")
        return spark.createDataFrame(
            pd.DataFrame({"timestamp": ts, "building_id": "b1", "meter": "electricity", "meter_reading": 1.0})
        )

    existing = rows(gen.T0, gen.HOURS)
    next_hour = rows(r1_end + pd.Timedelta(hours=1), gen.HOURS)
    assert check_data_overlap(existing, next_hour, "raw").has_overlap
    r2 = rows(gen.R2_START, gen.HOURS)
    assert gen.R2_START - r1_end > pd.Timedelta(hours=1)
    assert not check_data_overlap(existing, r2, "raw").has_overlap


def test_benchmark_json_names_the_reported_metrics():
    import json

    import report

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_stored_hashes_are_the_oracles_on_the_generated_tables(tmp_path):
    import expect
    from workloads import HEADLINE_SET

    gen_star.generate(str(tmp_path), gen_star.SEED)
    assert expect.oracle_hashes(str(tmp_path), HEADLINE_SET) == expect.stored_hashes()
