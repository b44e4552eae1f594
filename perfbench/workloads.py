"""The two workloads. Each is a closed loop: one driver thread issues one
operation at a time and waits for it.

A workload object writes its inputs under ``<work>/in`` in ``stage``
(repeatable, timed for ``setup_s``), finishes its set-up in ``setup``, runs one pass of work in
``run_pass`` (the cold pass first, then warm passes while the window is
open; each pass works in directories of its own) and checks the
program's outputs in ``check``, after every timed window: ``check``
computes the expected results with DuckDB first, so that work is in no
timed figure, and returns ``(attempted, failed)`` over the operations it
verified. Each pass returns a record of the workload's own format, which
only the workload reads: ``detail`` turns the records into the figures
the notes name, ``layer_figures`` into the per-layer figures that need
them.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import expect
import gen
import gen_star
from stats import tail_percentile

UNIQUE_COLUMNS = {
    "raw": ["timestamp", "building_id", "meter"],
    "weather": ["timestamp", "site_id"],
    "metadata": ["building_id"],
}

#: headline queries timed by ``headline_queries``: four of the six
#: ROADMAP singles out for driver build chatter and fixed job cost (q28:
#: 1,029 py4j round trips per build; q150: build is most of its wall;
#: q154: the 7 s cold build; q246: many small jobs). NOTES.md says why
#: q173 and q234 are left out.
HEADLINE_SET = [
    "q28_minhash_lsh_pairs",
    "q150_power_iteration",
    "q154_ivf_pq_recall",
    "q246_wau_hll_window",
]

#: per-layer ``streaming.<name>`` figure -> the phase in a micro-batch's
#: ``durationMs`` it is the median of
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def _files(root: str) -> set[str]:
    out = set()
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            out.add(os.path.join(dirpath, n))
    return out


def _bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in _files(root))


def _tail(name: str, values: list[float]) -> dict:
    """``<name>_p<P>_s``: the highest percentile with ten samples beyond
    it, when there are enough samples for one."""
    hit = tail_percentile(values)
    if hit is None:
        return {}
    p, v = hit
    return {f"{name}_p{p}_s": v}


def _pipeline_config(src: str, parquet: str, warehouse: str) -> dict:
    return {
        "data_sources_path": src,
        "parquet_output_path": parquet,
        "warehouse_path": warehouse,
        "project_data": {"unique_columns": UNIQUE_COLUMNS},
    }


class Workload:
    name = ""
    #: warm passes run even when the cold pass filled the window; with a
    #: window shorter than the cold pass, the number of warm passes
    min_warm = 0

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.passes: list[dict] = []  # one record per timed pass
        self.failures: list[str] = []

    def stage(self, root: str) -> None:
        """Write this seed's inputs under ``root``, replacing any there."""
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, cold: bool) -> dict:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        raise NotImplementedError

    def detail(self, warm: list[dict], cold: dict) -> dict:
        """The workload's own figures from its pass records: ``warm``
        (the warm passes, or the cold pass when it is the only one) and
        ``cold``."""
        return {}

    def layer_figures(self, warm: list[dict], n: int, span_jobs) -> dict:
        """Per-layer figures that need the pass records, per timed pass
        (``n`` of them); ``span_jobs(name)`` gives the Spark jobs under
        the traced spans of that name."""
        return {}

    def warmup(self) -> None:
        """One small Spark job outside the measured code paths: it starts
        the task threads without running any of the workload's own
        operations."""
        self.spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


class Bdg2Etl(Workload):
    """The paper's workflow, then its streaming form, on one warehouse:

    1. ingest R1 into an empty warehouse (``transform_data`` then
       ``load_data``; the gate finds no table);
    2. reload R1: the gate must reject every table and write nothing;
    3. load R2, staged as Parquet: the gate passes ``raw`` and
       ``weather`` and rejects ``metadata``, the rest is deduped and
       appended;
    4. drain R3's stream files with ``availableNow`` under RocksDB state:
       ``read_meter_stream(maxFilesPerTrigger=1)`` -> ``dedup_stream`` ->
       ``write_stream_idempotent``.
    """

    name = "bdg2_etl"

    def stage(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        self.manifest = gen.generate(root, self.seed)

    def setup(self) -> None:
        from building_energy_data_pipeline_spark.streaming import enable_rocksdb_state

        self.inputs = os.path.join(self.work, "in")
        self.stream_bytes = _bytes(os.path.join(self.inputs, "stream"))
        enable_rocksdb_state(self.spark)

    def run_pass(self, cold: bool) -> dict:
        from building_energy_data_pipeline_spark.pipeline import Pipeline
        from building_energy_data_pipeline_spark.streaming import (
            dedup_stream,
            read_meter_stream,
            write_stream_idempotent,
        )

        n = len(self.passes)
        wh = os.path.join(self.work, f"wh{n}")
        pq_out = os.path.join(self.work, f"pq{n}")
        ckpt = os.path.join(self.work, f"ckpt{n}")
        pipe = Pipeline(self.spark, _pipeline_config(os.path.join(self.inputs, "r1"), pq_out, wh))
        t0 = time.perf_counter()
        pipe.transform_data()
        t1 = time.perf_counter()
        first = pipe.load_data()
        t2 = time.perf_counter()
        before, wh_bytes = _files(wh), _bytes(wh)
        t3 = time.perf_counter()
        reject = pipe.load_data()
        t4 = time.perf_counter()
        unchanged = _files(wh) == before
        t5 = time.perf_counter()
        append = pipe.load_data(os.path.join(self.inputs, "r2_parquet"))
        t6 = time.perf_counter()
        raw_bytes = _bytes(os.path.join(wh, "raw"))
        # the stream's time starts when start() has returned; defining it
        # is a span of its own
        t7 = time.perf_counter()
        with self.tracer.span("streaming.define"):
            stream = dedup_stream(
                read_meter_stream(self.spark, os.path.join(self.inputs, "stream"), max_files_per_trigger=1)
            )
            query = write_stream_idempotent(
                stream, os.path.join(wh, "raw"), "raw", UNIQUE_COLUMNS["raw"], ckpt, partition_by=["meter"]
            )
        t8 = time.perf_counter()
        with self.tracer.span("streaming.drain"):
            query.awaitTermination()
        t9 = time.perf_counter()
        times = {
            "transform_s": t1 - t0,
            "load_s": t2 - t1,
            "reload_skip_s": t4 - t3,
            "append_range_s": t6 - t5,
            "stream_define_s": t8 - t7,
            "stream_s": t9 - t8,
        }
        ckpt_files = _files(ckpt)
        return {
            **times,
            "work_s": sum(times.values()),
            "cold": cold,
            "warehouse": wh,
            "warehouse_bytes_before_reload": wh_bytes,
            "raw_bytes_batch": raw_bytes,
            "files_written": sum(f.endswith(".parquet") for f in _files(wh) | _files(pq_out)),
            "first": first,
            "reject": reject,
            "append": append,
            "reject_unchanged": unchanged,
            "progress": [p for p in query.recentProgress if p.get("numInputRows", 0) > 0],
            "stream_error": query.exception(),
            "changelog_files": sum(f.endswith(".changelog") for f in ckpt_files),
            "checkpoint_files": len(ckpt_files),
        }

    def check(self) -> tuple[int, int]:
        from pyspark.sql import functions as F

        self.want = {r: expect.bdg2_range(os.path.join(self.inputs, r)) for r in ("r1", "r2", "r3")}
        self.want_stream = expect.stream_input(os.path.join(self.inputs, "stream"))
        attempted = failed = 0

        def verify(ok: bool, what: str) -> None:
            nonlocal attempted, failed
            attempted += 1
            if not ok:
                failed += 1
                self.failures.append(what)

        ranges = [self.want[r] for r in ("r1", "r2", "r3")]
        for p in self.passes:
            wh = p["warehouse"]
            # 1. ingest: the gate saw no table; the DDL files exist
            verify(not any(r.has_overlap for r in p["first"].values()), "ingest gate")
            verify(
                all(os.path.exists(os.path.join(wh, "_schemas", f"{t}_schema.sql")) for t in UNIQUE_COLUMNS),
                "schema files",
            )
            # 2. reload of R1: every table rejected, no file added or removed
            verify(all(r.has_overlap for r in p["reject"].values()) and p["reject_unchanged"], "reload reject")
            # 3. R2: raw and weather pass the gate, metadata is rejected
            a = p["append"]
            verify(
                not a["raw"].has_overlap and not a["weather"].has_overlap and a["metadata"].has_overlap,
                "append gate",
            )
            # 4. the stream ran every file without error
            verify(p["stream_error"] is None and len(p["progress"]) == self.manifest["stream_files"], "stream drain")
            # the warehouse holds every distinct key of R1, R2 and R3, with
            # the per-meter null counts and sums DuckDB finds in the CSVs
            raw = self.spark.read.parquet(os.path.join(wh, "raw"))
            got = {
                row["meter"]: (row["n"], row["nn"], row["s"])
                for row in raw.groupBy("meter")
                .agg(
                    F.count("*").alias("n"),
                    F.count("meter_reading").alias("nn"),
                    F.sum(F.round(F.col("meter_reading") * 10000).cast("long")).alias("s"),
                )
                .collect()
            }
            want = {m: tuple(map(sum, zip(*(r["per_meter"][m] for r in ranges)))) for m in ranges[0]["per_meter"]}
            verify(got == want, "warehouse raw per-meter counts and sums")
            n_weather = self.spark.read.parquet(os.path.join(wh, "weather")).count()
            verify(n_weather == ranges[0]["weather"] + ranges[1]["weather"], "warehouse weather keys")
            n_meta = self.spark.read.parquet(os.path.join(wh, "metadata")).count()
            verify(n_meta == ranges[0]["metadata"], "warehouse metadata keys")
        return attempted, failed

    def detail(self, warm: list[dict], cold: dict) -> dict:
        out = {
            k: statistics.median([p[k] for p in warm])
            for k in ("transform_s", "load_s", "reload_skip_s", "append_range_s", "stream_define_s", "stream_s")
        }
        r1, r2 = self.want["r1"]["raw"], self.want["r2"]["raw"]
        out["ingest_rows_per_s"] = r1 / (out["transform_s"] + out["load_s"])
        out["stored_bytes_per_reading"] = statistics.median([p["raw_bytes_batch"] for p in warm]) / (r1 + r2)
        batches = [b["durationMs"]["triggerExecution"] / 1e3 for p in warm for b in p["progress"]]
        out["stream_rows_per_s"] = self.want_stream["rows"] / out["stream_s"]
        out["stream_batch_p50_s"] = statistics.median(batches)
        out.update(_tail("stream_batch", batches))
        out["stream_batches"] = len(batches)
        out["readings"] = {"r1": r1, "r2": r2, "r3": self.want["r3"]["raw"], "stream_rows": self.want_stream["rows"]}
        out["meter_columns"] = self.manifest["meter_columns"]
        return out

    def layer_figures(self, warm: list[dict], n: int, span_jobs) -> dict:
        def jsum(js, key):
            return sum(j.get(key, 0) for j in js)

        m = {"sources.files_written": sum(p["files_written"] for p in warm) / n}
        wh_bytes = sum(p["warehouse_bytes_before_reload"] for p in warm)
        m["etl.gate_scan_fraction"] = jsum(span_jobs("etl.gate"), "input_bytes") / wh_bytes
        batches = [b for p in warm for b in p["progress"]]
        m["streaming.batches"] = len(batches) / n
        for k, phase in STREAM_PHASES.items():
            vals = [b["durationMs"].get(phase, 0) for b in batches]
            m[f"streaming.{k}"] = statistics.median(vals) if vals else 0.0
        last_ops = [p["progress"][-1].get("stateOperators", []) for p in warm if p["progress"]]
        m["streaming.state_rows_total"] = sum(sum(o.get("numRowsTotal", 0) for o in ops) for ops in last_ops) / n
        m["streaming.state_memory_bytes"] = sum(sum(o.get("memoryUsedBytes", 0) for o in ops) for ops in last_ops) / n
        m["streaming.rocksdb_bytes_written"] = sum(
            sum(_rocksdb_written(o) for o in b.get("stateOperators", [])) for b in batches
        ) / n
        m["streaming.changelog_files"] = sum(p["changelog_files"] for p in warm) / n
        m["streaming.checkpoint_files"] = sum(p["checkpoint_files"] for p in warm) / n
        drain_jobs = span_jobs("streaming.drain")
        m["streaming.sink_existing_bytes_read"] = max(0.0, jsum(drain_jobs, "input_bytes") / n - self.stream_bytes)
        rows_in = sum(b.get("numInputRows", 0) for b in batches)
        m["streaming.rows_kept_ratio"] = jsum(drain_jobs, "output_rows") / rows_in if rows_in else 0.0
        return m


def _rocksdb_written(op: dict) -> int:
    cm = op.get("customMetrics") or {}
    return int(cm.get("rocksdbTotalBytesWritten", cm.get("rocksdbBytesCopied", 0)))


class HeadlineQueries(Workload):
    """The analyst read path: registered headline queries on generated
    star-schema tables, each run to a ``noop`` sink, in an order the seed
    permutes. The tables are the same for every seed, so the hashes of
    the queries' DuckDB oracles on them are stored with the benchmark
    (``expected_hashes.json``). The first pass runs on a fresh session
    with empty persist slots (cold); later passes are warm."""

    name = "headline_queries"
    #: two warm passes, not three: a run of this workload costs about
    #: 60 s, and 48 runs of the two workloads must fit the benchmark's
    #: time budget (NOTES.md, Sizing)
    min_warm = 2

    def stage(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        gen_star.generate(root, gen_star.SEED)
        self.star = root

    def setup(self) -> None:
        from building_energy_data_pipeline_spark import caching

        self.order = list(HEADLINE_SET)
        random.Random(self.seed).shuffle(self.order)
        caching.release_caches()

    def run_pass(self, cold: bool) -> dict:
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        build, total = {}, {}
        self.frames = {}  # the latest pass's DataFrames, which check() collects
        for q in self.order:
            short = q.split("_", 1)[0]
            t0 = time.perf_counter()
            with self.tracer.span(f"plans.{short}.build"):
                df = REGISTRY[q].spark(self.spark, self.star)
            t1 = time.perf_counter()
            if self.tracer.enabled:  # planning apart from execution, traced runs only
                with self.tracer.span(f"spark.{short}.plan"):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            t2 = time.perf_counter()
            with self.tracer.span(f"spark.{short}.exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            build[q], total[q] = t1 - t0, (t1 - t0) + (t3 - t2)
            self.frames[q] = df
        return {"cold": cold, "work_s": sum(total.values()), "per_query": total, "build": build}

    def check(self) -> tuple[int, int]:
        self.want = expect.stored_hashes()
        failed = 0
        for q in HEADLINE_SET:
            got = expect.result_hash(self.frames[q].toPandas())
            if got != self.want.get(q):
                failed += 1
                self.failures.append(f"{q} result hash")
        return len(HEADLINE_SET), failed

    def detail(self, warm: list[dict], cold: dict) -> dict:
        samples = [t for p in warm for t in p["per_query"].values()]
        return {
            "headline_total_s": statistics.median([p["work_s"] for p in warm]),
            "headline_cold_total_s": cold["work_s"],
            "query_p50_s": statistics.median(samples),
            **_tail("query", samples),
            "query_samples": len(samples),
            "order": self.order,
            "per_query_warm_s": {q: statistics.median([p["per_query"][q] for p in warm]) for q in self.order},
            "per_query_cold_s": cold["per_query"],
        }


WORKLOADS = {w.name: w for w in (Bdg2Etl, HeadlineQueries)}
