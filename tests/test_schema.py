"""Schema subsystem tests — golden type-inference parity with
``src/schema_generator/type_inference_engine.py``, one-pass profiler,
sampling strategies, DDL text, schema diff.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from building_energy_data_pipeline_spark.schema import (
    ColumnProfile,
    derive_table_name,
    generate_ddl,
    infer_sql_type,
    is_monotonic,
    profile_columns,
    random_sample,
    schema_diff,
    sql_to_spark_type,
    stratified_sample,
    systematic_sample,
)


# ---------------------------------------------------------------------------
# T10 — golden inference table (pure function, no Spark needed)
# ---------------------------------------------------------------------------


def num(name="v", **kw):
    return ColumnProfile(name=name, kind="numeric", count=10, **kw)


class TestInferenceGolden:
    @pytest.mark.parametrize(
        "name,expect",
        [
            ("latitude", "NUMERIC(10,6)"),
            ("store_lat", "NUMERIC(10,6)"),  # substring match
            ("unit_price", "NUMERIC(15,2)"),
            ("zipcode", "VARCHAR(10)"),
            ("contact_email", "VARCHAR(255)"),
            ("phone", "VARCHAR(20)"),
        ],
    )
    def test_tier1_name_patterns(self, name, expect):
        # patterns win regardless of values (type_inference_engine.py:74-77)
        p = ColumnProfile(name=name, kind="string", count=3, max_str_len=4)
        assert infer_sql_type(p) == expect

    @pytest.mark.parametrize(
        "mn,mx,expect",
        [
            (0, 100, "SMALLINT"),
            (-32768, 32767, "SMALLINT"),
            (-32769, 0, "INTEGER"),
            (0, 2147483647, "INTEGER"),
            (0, 2147483648, "BIGINT"),
        ],
    )
    def test_tier2_integer_sizing(self, mn, mx, expect):
        assert infer_sql_type(num(min_val=mn, max_val=mx, all_integral=True)) == expect

    @pytest.mark.parametrize(
        "places,name,expect",
        [
            (0, "v", "INTEGER"),  # float column, whole values
            (2, "total_spend", "NUMERIC(12,6)"),
            (2, "sale_amount_usd", "NUMERIC(15,2)"),  # price/amount name
            (6, "reading", "NUMERIC(12,6)"),
            (7, "reading", "DOUBLE PRECISION"),
        ],
    )
    def test_tier2_float_narrowing(self, places, name, expect):
        p = num(name=name, min_val=0.0, max_val=1.0, max_decimal_places=places)
        assert infer_sql_type(p) == expect

    def test_tier2_bool_and_timestamps(self):
        assert infer_sql_type(ColumnProfile("f", "boolean", 2)) == "BOOLEAN"
        assert infer_sql_type(ColumnProfile("t", "timestamp", 2)) == "TIMESTAMP"
        assert (
            infer_sql_type(ColumnProfile("t", "timestamp", 2, has_tz=True))
            == "TIMESTAMP WITH TIME ZONE"
        )

    def test_tier3_strings_and_empty(self):
        assert (
            infer_sql_type(ColumnProfile("s", "string", 5, max_str_len=255))
            == "VARCHAR(255)"
        )
        assert (
            infer_sql_type(ColumnProfile("s", "string", 5, max_str_len=256))
            == "TEXT"
        )
        assert infer_sql_type(ColumnProfile("s", "empty", 0)) == "TEXT"

    def test_spark_mapping(self):
        assert sql_to_spark_type("SMALLINT") == T.ShortType()
        assert sql_to_spark_type("VARCHAR(10)") == T.StringType()
        assert sql_to_spark_type("NUMERIC(12,6)") == T.DecimalType(12, 6)
        assert sql_to_spark_type("TIMESTAMP WITH TIME ZONE") == T.TimestampType()


# ---------------------------------------------------------------------------
# T11 — profiler
# ---------------------------------------------------------------------------


class TestProfiler:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [
                (1, 1.5, "aa", None),
                (2, 2.0, "bbb", None),
                (3, None, "aa", None),
            ],
            "id long, reading double, tag string, empty string",
        )

    def test_one_pass_stats_and_types(self, df):
        infos = {c.name: c for c in profile_columns(df)}
        assert infos["id"].data_type == "SMALLINT"
        assert infos["id"].metadata["is_unique"] is True
        assert infos["id"].nullable is False
        assert (
            "Consider as primary key candidate"
            in infos["id"].metadata["recommendations"]
        )

        r = infos["reading"]
        assert r.data_type == "NUMERIC(12,6)"  # 1 decimal place ≤ 6
        assert r.stats["null_count"] == 1 and r.nullable is True

        t = infos["tag"]
        assert t.data_type == "VARCHAR(3)"
        assert t.stats["unique_count"] == 2
        assert sorted(t.sample_values) == ["aa", "bbb"]

        assert infos["empty"].data_type == "TEXT"

    def test_dotted_and_backticked_names(self, spark):
        """A dot or a backtick in a column name is part of the name,
        not struct access (CSV headers such as ``kWh.total``)."""
        df = spark.createDataFrame(
            [(1, "x"), (2, None), (3, "yy")], "`a.b` long, `c``d` string"
        )
        infos = {c.name: c for c in profile_columns(df)}
        assert set(infos) == {"a.b", "c`d"}
        ab, cd = infos["a.b"], infos["c`d"]
        assert ab.data_type == "SMALLINT" and ab.nullable is False
        assert ab.stats["unique_count"] == 3 and ab.metadata["is_unique"]
        assert ab.sample_values == [1, 2, 3]
        assert cd.data_type == "VARCHAR(2)" and cd.nullable is True
        assert cd.stats == {
            "count": 3,
            "null_count": 1,
            "unique_count": 2,
            "unique_ratio": 2 / 3,
        }
        assert cd.sample_values == ["x", "yy"]

    def test_one_query_whatever_the_width(self, spark):
        """Every stat and sample of a 12-column table comes from one
        aggregate: at most 2 Spark jobs, not one per column."""
        df = spark.range(200).selectExpr(
            "id",
            "CAST(id AS INT) AS i",
            "id * 1.25D AS d",
            "CAST(id AS FLOAT) AS f",
            "CAST(id / 8 AS DECIMAL(8, 3)) AS dec",
            "CAST(id % 7 AS STRING) AS s",
            "concat('tag-', CAST(id % 3 AS STRING)) AS t",
            "id % 2 = 0 AS b",
            "timestamp_seconds(id * 3600) AS ts",
            "date_add(DATE'2020-01-01', CAST(id AS INT)) AS day",
            "CAST(NULL AS STRING) AS null_s",
            "CAST(NULL AS DOUBLE) AS null_d",
        )
        sc = spark.sparkContext
        group = "test-profile-one-query"
        sc.setJobGroup(group, "profile_columns job count")
        try:
            infos = profile_columns(df.limit(10_000))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 1 <= len(jobs) <= 2, f"{len(jobs)} jobs for one profile"
        assert len(infos) == 12
        types = {c.name: c.data_type for c in infos}
        assert types["i"] == "SMALLINT" and types["b"] == "BOOLEAN"
        assert types["null_s"] == types["null_d"] == "TEXT"

    def test_unique_count_matches_count_distinct(self, spark):
        """NaN counts once and -0.0 equals 0.0, as in Spark's own
        count(DISTINCT) — collect_set alone keeps two NaNs."""
        nan = float("nan")
        df = spark.createDataFrame(
            [(0.0,), (-0.0,), (nan,), (nan,), (None,), (1.0,)], "x double"
        )
        (info,) = profile_columns(df)
        want = df.selectExpr("count(DISTINCT x)").first()[0]
        assert want == 3
        assert info.stats["unique_count"] == want

    def test_samples_are_smallest_distinct_values(self, spark):
        vals = [17, 3, None, 42, 3, 8, 99, 1, 8, None, 25]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        (info,) = profile_columns(df)
        want = sorted({v for v in vals if v is not None})[:5]
        assert info.sample_values == want == [1, 3, 8, 17, 25]
        (two,) = profile_columns(df, sample_values=2)
        assert two.sample_values == [1, 3]

    def test_monotonicity(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 15)], "ord int, v int"
        )
        assert is_monotonic(df, "ord", "ord") is True
        assert is_monotonic(df, "v", "ord") is False
        desc = spark.createDataFrame([(1, 30), (2, 20), (3, 10)], "ord int, v int")
        assert is_monotonic(desc, "v", "ord") is True  # non-increasing counts

    def test_monotonicity_null_order_keys(self, spark):
        """NULL order keys carry no position: they are excluded from
        the check instead of crashing the driver-side boundary stitch
        (ADVICE r5 #2 — an all-null range partition yielded
        first_o=None and a None<int TypeError)."""
        df = spark.createDataFrame(
            [(None, 99), (1, 10), (None, 0), (2, 20), (3, 30)],
            "ord int, v int",
        )
        assert is_monotonic(df, "v", "ord") is True
        all_null = spark.createDataFrame(
            [(None, 5), (None, 1)], "ord int, v int"
        )
        # no ordered rows at all → vacuously monotonic, no crash
        assert is_monotonic(all_null, "v", "ord") is True


# ---------------------------------------------------------------------------
# T6–T8 — sampling
# ---------------------------------------------------------------------------


class TestSampling:
    @pytest.fixture()
    def big(self, spark):
        return spark.range(10_000).withColumn(
            "grp", (F.col("id") % 4).cast("string")
        )

    def test_random_keeps_endpoints(self, big):
        out = random_sample(big, 50, order_col="id").collect()
        ids = {r["id"] for r in out}
        assert 0 in ids and 9_999 in ids
        assert 2 <= len(ids) < 10_000

    def test_random_small_input_passthrough(self, spark):
        df = spark.range(5)
        assert random_sample(df, 100).count() == 5

    def test_systematic_step(self, big):
        out = systematic_sample(big, 100, "id")
        ids = [r["id"] for r in out.orderBy("id").collect()]
        assert len(ids) == 100
        assert ids[:3] == [0, 100, 200]  # every total/n-th row

    def test_stratified_quota(self, big):
        out = stratified_sample(big, "grp", 400, seed=42)
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        assert set(sizes) == {"0", "1", "2", "3"}
        for n in sizes.values():  # ~100 each (Bernoulli tolerance)
            assert 50 <= n <= 200

    def test_hash_random_deterministic_with_endpoints(self, big):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_random_sample,
        )

        a = {r["id"] for r in hash_random_sample(big, "id", 5_000).collect()}
        b = {r["id"] for r in hash_random_sample(big, "id", 5_000).collect()}
        assert a == b  # no RNG anywhere — bit-identical reruns
        assert 0 in a and 9_999 in a  # reference endpoint guarantee
        # target = min(5000, 100000, 10000 // 200) = 50; Bernoulli-ish
        # spread around it, endpoints included
        assert 20 <= len(a) <= 100

    def test_hash_random_small_input_passthrough(self, spark):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_random_sample,
        )

        assert hash_random_sample(spark.range(5), "id", 100).count() == 5

    def test_hash_stratified_quota_and_determinism(self, big):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_stratified_sample,
        )

        out = hash_stratified_sample(big, "grp", "id", 400)
        again = hash_stratified_sample(big, "grp", "id", 400)
        assert sorted(r["id"] for r in out.collect()) == sorted(
            r["id"] for r in again.collect()
        )
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        assert set(sizes) == {"0", "1", "2", "3"}
        for n in sizes.values():  # quota 100 per 2500-row stratum
            assert 50 <= n <= 200

    def test_hash_stratified_small_stratum_kept_whole(self, spark):
        from building_energy_data_pipeline_spark.schema.sampling import (
            hash_stratified_sample,
        )

        # quota (50) >= stratum size (10) → the whole stratum survives
        df = spark.range(20).withColumn(
            "grp", (F.col("id") % 2).cast("string")
        )
        out = hash_stratified_sample(df, "grp", "id", 100)
        assert out.count() == 20


# ---------------------------------------------------------------------------
# T12–T14 — DDL + diff
# ---------------------------------------------------------------------------


#: ``generate_ddl`` text for ``TestDDL.test_ddl_golden_text``'s table,
#: as the per-column-job profiler produced it — the one-aggregate
#: profiler must reproduce it byte for byte.
_GOLDEN_DDL = """\
-- Schema generated for Meter-Readings.csv
-- Generated on 2026-01-01 12:00:00
-- Number of columns: 13

-- Table Definition
CREATE TABLE IF NOT EXISTS "meter_readings" (
    "id" SMALLINT NOT NULL,
    "reading" NUMERIC(12,6),
    "tag" VARCHAR(3),
    "flag" BOOLEAN,
    "ts" TIMESTAMP WITH TIME ZONE,
    "price" NUMERIC(15,2) NOT NULL,
    "empty" TEXT,
    "big" INTEGER NOT NULL,
    "ratio" NUMERIC(12,6) NOT NULL,
    "whole" SMALLINT NOT NULL,
    "precise" DOUBLE PRECISION NOT NULL,
    "huge" BIGINT NOT NULL,
    "dec" NUMERIC(12,6),
    PRIMARY KEY (id)
);

-- Column Information:
-- id:
--   Type: bigint -> SMALLINT
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Consider as primary key candidate
--
-- reading:
--   Type: double -> NUMERIC(12,6)
--   Nullable: True
--   Unique Values: 3
--   Recommendations:
--
-- tag:
--   Type: string -> VARCHAR(3)
--   Nullable: True
--   Unique Values: 2
--   Recommendations:
--
-- flag:
--   Type: boolean -> BOOLEAN
--   Nullable: True
--   Unique Values: 2
--   Recommendations:
--
-- ts:
--   Type: timestamp -> TIMESTAMP WITH TIME ZONE
--   Nullable: True
--   Unique Values: 3
--   Recommendations:
--
-- price:
--   Type: double -> NUMERIC(15,2)
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Consider as primary key candidate
--
-- empty:
--   Type: string -> TEXT
--   Nullable: True
--   Unique Values: 0
--   Recommendations:
--     * Low cardinality - consider using as categorical
--
-- big:
--   Type: int -> INTEGER
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Consider as primary key candidate
--
-- ratio:
--   Type: double -> NUMERIC(12,6)
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Consider as primary key candidate
--
-- whole:
--   Type: double -> SMALLINT
--   Nullable: False
--   Unique Values: 3
--   Recommendations:
--
-- precise:
--   Type: double -> DOUBLE PRECISION
--   Nullable: False
--   Unique Values: 3
--   Recommendations:
--
-- huge:
--   Type: bigint -> BIGINT
--   Nullable: False
--   Unique Values: 4
--   Recommendations:
--     * Consider as primary key candidate
--
-- dec:
--   Type: decimal(10,2) -> NUMERIC(12,6)
--   Nullable: True
--   Unique Values: 3
--   Recommendations:
--"""


class TestDDL:
    def test_table_name_derivation(self):
        # reference parametrized cases (test_schema_analysis_orchestrator.py)
        assert derive_table_name("/data/My-File.v2.csv") == "my_file_v2"
        assert derive_table_name("2020_data.parquet") == "tbl_2020_data"

    def test_ddl_text(self, spark):
        df = spark.createDataFrame([(1, "a")], "id long, tag string")
        ddl = generate_ddl(
            profile_columns(df),
            "readings.csv",
            now=dt.datetime(2026, 1, 1, 12, 0, 0),
        )
        assert '-- Schema generated for readings.csv' in ddl
        assert 'CREATE TABLE IF NOT EXISTS "readings" (' in ddl
        assert '"id" SMALLINT NOT NULL' in ddl
        assert '"tag" VARCHAR(1) NOT NULL' in ddl
        assert "-- Column Information:" in ddl
        assert "Consider as primary key candidate" in ddl

    def test_ddl_golden_text(self, spark):
        D = decimal.Decimal
        rows = [
            (1, 1.5, "aa", True, dt.datetime(2020, 1, 1, 0, 0), 9.99, None,
             40000, 0.125, 1.0, 0.1234567, 3_000_000_000, D("1.50")),
            (2, 2.0, "bbb", False, dt.datetime(2020, 1, 1, 1, 0), 19.5, None,
             -5, 1.0, 2.0, 0.5, 1, D("2.25")),
            (3, None, "aa", None, dt.datetime(2020, 1, 1, 2, 0), 3.0, None,
             7, 2.0, 3.0, 1.0, 2, None),
            (4, 4.25, None, True, None, 0.5, None,
             12, 3.0, 2.0, 1.0, 3, D("-0.10")),
        ]
        df = spark.createDataFrame(
            rows,
            "id long, reading double, tag string, flag boolean, "
            "ts timestamp, price double, empty string, big int, "
            "ratio double, whole double, precise double, huge long, "
            "dec decimal(10,2)",
        )
        ddl = generate_ddl(
            profile_columns(df),
            "/data/Meter-Readings.csv",
            primary_key="id",
            now=dt.datetime(2026, 1, 1, 12, 0, 0),
        )
        assert ddl == _GOLDEN_DDL

    def test_primary_key_clause(self, spark):
        df = spark.createDataFrame([(1,)], "id long")
        ddl = generate_ddl(profile_columns(df), "x.csv", primary_key="id")
        assert "    PRIMARY KEY (id)" in ddl

    def test_schema_diff(self):
        left = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.DoubleType()),
            ]
        )
        right = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.IntegerType()),
                T.StructField("d", T.StringType()),
            ]
        )
        d = schema_diff(left, right)
        assert d["only_in_left"] == ["c"]
        assert d["only_in_right"] == ["d"]
        assert d["type_mismatch"] == [("b", "string", "int")]
