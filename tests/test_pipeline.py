"""End-to-end pipeline facade tests: CSV corpus → transform →
load (schema files + idempotent warehouse writes) → reload skips;
plus writer/acquisition utilities.
"""

from __future__ import annotations

import os
import threading
import uuid
import zipfile

import pytest

from building_energy_data_pipeline_spark import pipeline
from building_energy_data_pipeline_spark.etl.transforms import (
    _run_concurrently,
    transform_sources,
)
from building_energy_data_pipeline_spark.pipeline import Pipeline
from building_energy_data_pipeline_spark.sources.acquire import (
    download_from_zenodo,
    get_parquet_info,
    unzip_folders,
)
from building_energy_data_pipeline_spark.sources.readers import find_sources
from building_energy_data_pipeline_spark.sources.writers import (
    csv_to_parquet,
    parquet_to_csv,
    write_parquet,
)


@pytest.fixture()
def corpus(tmp_path):
    raw = tmp_path / "src" / "raw"
    meta = tmp_path / "src" / "metadata"
    raw.mkdir(parents=True)
    meta.mkdir(parents=True)
    (raw / "electricity.csv").write_text(
        "timestamp,b1,b2\n2016-01-01 00:00:00,1.0,2.0\n2016-01-01 01:00:00,3.0,4.0\n"
    )
    (meta / "metadata.csv").write_text("building_id,sqft\nb1,100\nb2,200\n")
    return tmp_path


def make_pipeline(spark, tmp_path):
    return Pipeline(
        spark,
        {
            "data_sources_path": str(tmp_path / "src"),
            "parquet_output_path": str(tmp_path / "parquet"),
            "warehouse_path": str(tmp_path / "warehouse"),
            "project_data": {
                "record_id": "3887306",
                "file_name": "data.zip",
                "raw_data_file_path": str(tmp_path / "zips"),
                "unique_columns": {
                    "raw": ["timestamp", "building_id", "meter"],
                    "metadata": ["building_id"],
                },
            },
        },
    )


class TestPipelineEndToEnd:
    def test_transform_then_load_then_idempotent_reload(self, spark, corpus):
        p = make_pipeline(spark, corpus)

        out = p.transform_data()
        assert set(out) == {"raw", "metadata"}

        results = p.load_data()
        assert set(results) == {"raw", "metadata"}
        assert not results["raw"].has_overlap
        assert not results["metadata"].has_overlap

        # warehouse tables exist, raw partitioned by meter
        raw = spark.table if False else spark.read.parquet(
            str(corpus / "warehouse" / "raw")
        )
        assert raw.count() == 4
        assert "meter=electricity" in os.listdir(str(corpus / "warehouse" / "raw"))

        # DDL files frozen (§3.1 step 2)
        schemas = os.listdir(str(corpus / "warehouse" / "_schemas"))
        assert sorted(schemas) == ["metadata_schema.sql", "raw_schema.sql"]
        ddl = (corpus / "warehouse" / "_schemas" / "raw_schema.sql").read_text()
        assert 'CREATE TABLE IF NOT EXISTS "raw"' in ddl

        # reload: the overlap gate rejects every table, nothing doubles
        results2 = p.load_data()
        assert results2["raw"].has_overlap
        assert results2["metadata"].has_overlap
        assert spark.read.parquet(str(corpus / "warehouse" / "raw")).count() == 4

    def test_meter_filter_prunes_partitions(self, spark, corpus):
        # the partitionBy("meter") layout must turn a meter predicate
        # into scan-level partition pruning (PartitionFilters), not a
        # post-scan Filter over every partition — at 100 TB this is
        # the difference between reading one meter and reading all 8
        from building_energy_data_pipeline_spark.ops import explain_str

        p = make_pipeline(spark, corpus)
        p.transform_data()
        p.load_data()
        raw = spark.read.parquet(str(corpus / "warehouse" / "raw"))
        plan = explain_str(raw.filter(raw.meter == "electricity"))
        section = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "meter" in section, plan

    def test_parquet_info(self, spark, corpus):
        p = make_pipeline(spark, corpus)
        p.transform_data()
        info = p.read_parquet_info()
        assert info  # one entry per part file
        first = next(iter(info.values()))
        assert first["num_rows"] >= 0 and first["num_columns"] >= 2


class TestConcurrentSources:
    """Files, folders and tables are independent work: they run on a
    driver pool that keeps the caller's job group and the sequential
    results and failure semantics. Each overlap pin waits on a 2-party
    barrier, so it passes only when two items really run at once."""

    def test_run_concurrently_order_and_first_failure(self, spark):
        import time

        assert _run_concurrently(spark, lambda i: i * i, [3, 1, 2]) == [9, 1, 4]
        assert _run_concurrently(spark, lambda i: i, []) == []

        done = []

        def work(i):
            time.sleep(0.05 * (5 - i))  # later items finish first
            done.append(i)
            if i in (2, 4):
                raise ValueError(i)
            return i

        with pytest.raises(ValueError) as err:
            _run_concurrently(spark, work, list(range(5)))
        assert err.value.args == (2,)
        assert sorted(done) == [0, 1, 2, 3, 4]  # every item ran

    def test_files_transform_concurrently(self, spark, corpus):
        barrier = threading.Barrier(2, timeout=60)

        def wait_then_pass(df, _meter_type):
            barrier.wait()
            return df

        out = transform_sources(
            spark,
            find_sources(str(corpus / "src"), "csv"),
            str(corpus / "parquet"),
            dispatch={r".*": wait_then_pass},
        )
        assert spark.read.parquet(out["raw"]).count() == 2
        assert spark.read.parquet(out["metadata"]).count() == 2

    def test_tables_load_concurrently(self, spark, corpus, monkeypatch):
        barrier = threading.Barrier(2, timeout=60)
        write = pipeline.write_idempotent

        def wait_then_write(*args, **kwargs):
            barrier.wait()
            return write(*args, **kwargs)

        monkeypatch.setattr(pipeline, "write_idempotent", wait_then_write)
        p = make_pipeline(spark, corpus)
        p.transform_data()
        results = p.load_data()
        assert not results["raw"].has_overlap
        assert not results["metadata"].has_overlap

    def test_jobs_stay_in_the_callers_job_group(self, spark, corpus):
        # job ids are handed out in submission order: every id between
        # the two marker jobs must belong to the caller's group
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"pool-{uuid.uuid4().hex}"

        def marker(name):
            sc.setJobGroup(name, "marker")
            spark.range(1).collect()
            return tracker.getJobIdsForGroup(name)

        p = make_pipeline(spark, corpus)
        try:
            lo = max(marker(f"{group}-lo"))
            sc.setJobGroup(group, "pipeline")
            p.transform_data()
            p.load_data()
            hi = min(marker(f"{group}-hi"))
        finally:
            for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
                sc.setLocalProperty(f"spark.{key}", None)
        grouped = set(tracker.getJobIdsForGroup(group))
        assert grouped and grouped == set(range(lo + 1, hi))

    def test_failed_table_leaves_the_others_written(self, spark, corpus):
        p = make_pipeline(spark, corpus)
        p.transform_data()
        unique = p.config["project_data"]["unique_columns"]
        metadata_keys = unique.pop("metadata")

        with pytest.raises(KeyError, match="metadata"):
            p.load_data()
        raw = spark.read.parquet(str(corpus / "warehouse" / "raw"))
        assert raw.count() == 4
        assert not os.path.exists(corpus / "warehouse" / "metadata")

        unique["metadata"] = metadata_keys
        results = p.load_data()
        assert results["raw"].has_overlap
        assert not results["metadata"].has_overlap
        assert spark.read.parquet(str(corpus / "warehouse" / "raw")).count() == 4
        assert spark.read.parquet(str(corpus / "warehouse" / "metadata")).count() == 2

    def test_hive_partitioned_source_loads_as_one_table(self, spark, corpus):
        (corpus / "src" / "raw" / "gas.csv").write_text(
            "timestamp,b1,b2\n2016-01-01 00:00:00,5.0,6.0\n"
        )
        transform_sources(
            spark,
            find_sources(str(corpus / "src"), "csv"),
            str(corpus / "parquet"),
            partition_by={"raw": ["meter"]},
        )
        results = make_pipeline(spark, corpus).load_data()
        assert set(results) == {"raw", "metadata"}
        raw = spark.read.parquet(str(corpus / "warehouse" / "raw"))
        assert "meter" in raw.columns
        assert sorted(
            (r.meter, r.building_id, r.meter_reading) for r in raw.collect()
        ) == [
            ("electricity", "b1", 1.0),
            ("electricity", "b1", 3.0),
            ("electricity", "b2", 2.0),
            ("electricity", "b2", 4.0),
            ("gas", "b1", 5.0),
            ("gas", "b2", 6.0),
        ]


class TestWriters:
    def test_csv_parquet_roundtrip(self, spark, tmp_path):
        src = tmp_path / "in.csv"
        src.write_text("a,b\n1,x\n2,y\n")
        pq_dir = str(tmp_path / "t.parquet")
        csv_to_parquet(spark, str(src), pq_dir)
        assert spark.read.parquet(pq_dir).count() == 2

        csv_dir = str(tmp_path / "out.csv")
        parquet_to_csv(spark, pq_dir, csv_dir)
        files = [f for f in os.listdir(csv_dir) if f.endswith(".csv")]
        assert len(files) == 1  # single-file export contract

    def test_jsonl_roundtrip_gzip(self, spark, tmp_path):
        from building_energy_data_pipeline_spark.sources.readers import (
            read_jsonl,
        )
        from building_energy_data_pipeline_spark.sources.writers import (
            write_jsonl,
        )

        df = spark.createDataFrame(
            [(1, 'he said "hi"\nand left', None), (2, "plain", "en")],
            "id long, text string, lang string",
        )
        out = str(tmp_path / "docs_jsonl")
        write_jsonl(df, out, compression="gzip")
        assert any(f.endswith(".json.gz") for f in os.listdir(out))
        back = read_jsonl(spark, out, schema=df.schema)
        # escaping, embedded newline, and null all survive
        assert sorted(
            (r.id, r.text, r.lang) for r in back.collect()
        ) == sorted((r.id, r.text, r.lang) for r in df.collect())

    def test_orc_roundtrip(self, spark, tmp_path):
        from building_energy_data_pipeline_spark.sources.readers import (
            read_any,
            read_orc,
        )
        from building_energy_data_pipeline_spark.sources.writers import (
            write_orc,
        )

        df = spark.createDataFrame(
            [(1, 1.5, "a"), (2, float("nan"), "b")],
            "id long, v double, k string",
        )
        out = str(tmp_path / "t.orc")
        write_orc(df, out)
        back = read_orc(spark, out, schema=df.schema)
        assert back.count() == 2
        # NaN survives the stripe encoding
        assert (
            back.filter("isnan(v)").select("id").first()[0] == 2
        )
        # extension dispatch (S6) covers .orc
        assert read_any(spark, out).count() == 2

    def test_partitioned_write(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, part string")
        write_parquet(df, str(tmp_path / "t"), partition_by=["part"])
        assert sorted(
            d for d in os.listdir(tmp_path / "t") if d.startswith("part=")
        ) == ["part=a", "part=b"]


class TestLoadTableMemo:
    """``load_table`` memoizes the built scan plan per session, keyed
    by the table's file-tree stats: a hit returns the same object, and
    an in-place rewrite anywhere in the tree must miss."""

    @staticmethod
    def _rewrite(path, value: int) -> None:
        import pandas as pd

        before = os.stat(path).st_mtime_ns if path.exists() else 0
        pd.DataFrame({"v": [value]}).to_parquet(path)  # same file name
        # coarse-mtime filesystems must still see a new mtime
        bumped = max(before + 10**9, os.stat(path).st_mtime_ns)
        os.utime(path, ns=(bumped, bumped))

    def test_hit_and_in_place_rewrites(self, spark, tmp_path):
        from building_energy_data_pipeline_spark.sources.readers import (
            load_table,
        )

        flat = tmp_path / "flat.parquet"
        nested = tmp_path / "hive.parquet" / "k=1"
        flat.mkdir()
        nested.mkdir(parents=True)
        self._rewrite(flat / "part-0.parquet", 1)
        self._rewrite(nested / "part-0.parquet", 1)
        sf = str(tmp_path)

        first = load_table(spark, sf, "flat")
        assert load_table(spark, sf, "flat") is first

        self._rewrite(flat / "part-0.parquet", 2)
        assert load_table(spark, sf, "flat") is not first

        hive = load_table(spark, sf, "hive")
        assert load_table(spark, sf, "hive") is hive
        self._rewrite(nested / "part-0.parquet", 2)
        fresh = load_table(spark, sf, "hive")
        assert fresh is not hive
        assert [r["v"] for r in fresh.collect()] == [2]


class TestAcquire:
    def test_download_skips_existing(self, tmp_path):
        # no network: the skip-if-exists path (zenodo_client.py:44-50)
        dest = tmp_path / "zips"
        dest.mkdir()
        (dest / "data.zip").write_bytes(b"cached")
        got = download_from_zenodo("0000", "data.zip", str(dest))
        assert got == str(dest / "data.zip")

    def test_unzip_selective_folders(self, tmp_path):
        z = tmp_path / "a.zip"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr("raw/electricity.csv", "ts,b1\n")
            zf.writestr("weather/weather.csv", "ts,site\n")
            zf.writestr("junk/skip.txt", "no")
        got = unzip_folders(str(z), str(tmp_path / "out"), ["raw", "weather"])
        assert sorted(got) == ["raw/electricity.csv", "weather/weather.csv"]
        assert (tmp_path / "out" / "raw" / "electricity.csv").exists()
        assert not (tmp_path / "out" / "junk").exists()

    def test_unzip_all_when_no_filter(self, tmp_path):
        z = tmp_path / "a.zip"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr("raw/x.csv", "1")
            zf.writestr("other/y.csv", "2")
        got = unzip_folders(str(z), str(tmp_path / "out"))
        assert len(got) == 2

    def test_parquet_footer_info(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        spark.range(100).coalesce(1).write.parquet(p)
        part = next(
            os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
        )
        info = get_parquet_info(part)
        assert info["num_rows"] == 100
        assert info["columns"] == {"id": "INT64"}


class TestSchemaEvolution:
    def test_merge_schema_read_unions_file_schemas(self, spark, tmp_path):
        # a table whose later files gained a column: mergeSchema=True
        # surfaces the union with NULLs for the older vintage;
        # default read keeps the fast single-footer path
        from building_energy_data_pipeline_spark.sources.readers import (
            read_parquet,
        )

        p = str(tmp_path / "evolving")
        spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
            p + "/batch=1"
        )
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"
        ).write.parquet(p + "/batch=2")

        merged = read_parquet(spark, p, merge_schema=True)
        assert "score" in merged.columns
        rows = {r.id: r.score for r in merged.collect()}
        assert rows[2] == 9.5 and rows[1] is None


class TestFolderBootstrap:
    """Reference parity: ``Orchestrator.create_folder_structure`` →
    ``FileUtils.create_directories_from_yaml``
    (``src/orchestrator/orchestrator.py:47-48``,
    ``tests/test_file_utils.py:170-184`` — the same nested-dict
    fixture and assertions)."""

    def test_create_directories_from_yaml(self, tmp_path):
        from building_energy_data_pipeline_spark.sources.acquire import (
            create_directories_from_yaml,
        )

        structure = {"src": {"module1": {}, "module2": {}}}
        made = create_directories_from_yaml(structure, str(tmp_path))

        assert (tmp_path / "src" / "module1").exists()
        assert (tmp_path / "src" / "module2").exists()
        assert (tmp_path / "src" / "module1" / "__init__.py").exists()
        # `resources` contains "src" as a substring but is NOT a src
        # path segment — no package marker (documented deviation from
        # the reference's substring check)
        create_directories_from_yaml({"resources": {}}, str(tmp_path))
        assert (tmp_path / "resources").exists()
        assert not (tmp_path / "resources" / "__init__.py").exists()
        assert str(tmp_path / "src") in made
        # idempotent re-run
        again = create_directories_from_yaml(structure, str(tmp_path))
        assert made == again

    def test_pipeline_facade_reads_project_structure_config(
        self, spark, tmp_path
    ):
        pipe = Pipeline(
            spark,
            {
                "warehouse_path": str(tmp_path / "wh"),
                "project_structure": {
                    "data_sources": {"raw_data": None, "cleaned_data": None},
                    "logs": None,
                },
            },
        )
        made = pipe.create_folder_structure(str(tmp_path))
        assert (tmp_path / "data_sources" / "raw_data").is_dir()
        assert (tmp_path / "logs").is_dir()
        assert len(made) == 4
