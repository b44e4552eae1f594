"""Spans and counters for the traced run.

The tracer wraps, from outside the program, the public functions the
benchmark calls into: each call becomes a span (name, start, end,
parent) kept in memory and written out when the run ends. Spark jobs
are attributed to spans through job groups, or, for jobs started on a
streaming thread that carries no group, by the deepest span open when
the job was submitted. Stage metrics come from Spark's UI REST endpoint
after the run, so nothing is fetched inside a timed window.

A span's layer is the part of its name before the first dot
(``etl.gate`` is in layer ``etl``). Each job becomes a ``spark.job``
child span of the span it belongs to, so a layer's self-time is its
driver-side time and ``spark`` holds execution.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

from stats import covered, self_time

_GROUP_PREFIX = "perfbench-span-"
_SLACK = 0.002  # seconds


class NullTracer:
    """Tracing off: spans and counters cost nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def count(self, key: str, n: float = 1) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.py4j_calls = 0
        self._muted = 0
        self._undo: list = []
        self._count_py4j()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.time(),
            "end": None,
            "py4j": self.py4j_calls,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec["py4j"]
            self.stack.pop()
            self._set_group(self.stack[-1]["id"] if self.stack else None)

    def count(self, key: str, n: float = 1) -> None:
        """Add ``n`` to counter ``key`` of the innermost open span."""
        if self.stack:
            counts = self.stack[-1].setdefault("counts", {})
            counts[key] = counts.get(key, 0) + n
        self.counters[key] += n

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span that ended before the tracer existed."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": None, "start": start, "end": end, "py4j": 0}
        )

    def _set_group(self, span_id: int | None) -> None:
        self._muted += 1
        try:
            if span_id is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{span_id}", "perfbench")
        finally:
            self._muted -= 1

    # -- py4j round trips ---------------------------------------------------
    def _count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client  # noqa: SLF001
        original = client.send_command

        def send_command(*args, **kwargs):
            if not self._muted:
                self.py4j_calls += 1
            return original(*args, **kwargs)

        client.send_command = send_command
        self._undo.append(lambda: delattr(client, "send_command"))

    # -- wrapping the program's public functions ---------------------------
    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper (undone by ``uninstall``)."""
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap(original, name))
        self._undo.append(lambda: setattr(owner, attr, original))

    def patch_everywhere(self, fn, name: str, package: str, wrapper=None) -> None:
        """Replace ``fn`` by a traced wrapper (or by ``wrapper``) in every
        module of ``package`` that bound it by name."""
        wrapper = wrapper or self.wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, wrapper)
                    self._undo.append(functools.partial(setattr, mod, attr, fn))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- Spark jobs and stages ---------------------------------------------
    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def attach_jobs(self) -> None:
        """Add one ``spark.job`` child span per Spark job, with its stage
        metrics, under the span that started it."""
        self._muted += 1
        try:
            jobs = self._rest("jobs")
            stages = {
                (s["stageId"], s.get("attemptId", 0)): s
                for s in self._rest("stages?details=false")
            }
        finally:
            self._muted -= 1
        by_stage: dict[int, list[dict]] = defaultdict(list)
        for (sid, _attempt), s in stages.items():
            by_stage[sid].append(s)
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            if "submissionTime" not in job:
                continue
            start = _epoch(job["submissionTime"])
            end = _epoch(job["completionTime"]) if "completionTime" in job else time.time()
            owner = self._owner(job.get("jobGroup"), start)
            if owner is None:
                continue
            metrics = defaultdict(float)
            metrics["stages"] = 0
            for sid in job.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    metrics["stages"] += 1
                    metrics["tasks"] += s.get("numCompleteTasks", s.get("numTasks", 0))
                    metrics["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                    metrics["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    metrics["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    metrics["input_bytes"] += s.get("inputBytes", 0)
                    metrics["input_rows"] += s.get("inputRecords", 0)
                    metrics["output_bytes"] += s.get("outputBytes", 0)
                    metrics["output_rows"] += s.get("outputRecords", 0)
                    metrics["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                    metrics["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                    metrics["spill_bytes"] += s.get("diskBytesSpilled", 0) + s.get(
                        "memoryBytesSpilled", 0
                    )
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": "spark.job",
                    "parent": owner["id"],
                    "start": max(start, owner["start"]),
                    "end": min(end, owner["end"] or end),
                    "py4j": 0,
                    "job": job["jobId"],
                    **metrics,
                }
            )

    def _owner(self, group: str | None, submitted: float) -> dict | None:
        if group and group.startswith(_GROUP_PREFIX):
            owner = self.spans[int(group[len(_GROUP_PREFIX):])]
            # a stream thread inherits the group open at ``start()``;
            # its later jobs belong to whatever span is open then (REST
            # times are whole milliseconds, hence the slack)
            if owner["start"] - _SLACK <= submitted <= owner["end"] + _SLACK:
                return owner
        best = None
        for s in self.spans:
            if s["name"] == "spark.job" or s["end"] is None:
                continue
            if s["start"] <= submitted <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    # -- reporting -----------------------------------------------------------
    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self-time per layer over ``spans``. A span's Spark jobs count
        once however many overlap, as the union of their intervals."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            if s["name"] == "spark.job":
                continue
            iv = (s["start"], s["end"])
            out[s["name"].split(".", 1)[0]] += self_time(
                iv, [(c["start"], c["end"]) for c in kids[s["id"]]]
            )
            jobs = [(c["start"], c["end"]) for c in kids[s["id"]] if c["name"] == "spark.job"]
            out["spark"] += covered(iv, jobs)
        return dict(out)

    def descendants(self, span: dict) -> list[dict]:
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out, todo = [], [span["id"]]
        while todo:
            for s in kids[todo.pop()]:
                out.append(s)
                todo.append(s["id"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


def _epoch(stamp: str) -> float:
    """Spark REST time (``2026-01-01T00:00:00.123GMT``) to epoch seconds."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def install(tracer: Tracer) -> None:
    """Wrap the program's public functions the workloads reach."""
    import pyspark.sql.readwriter as rw

    from building_energy_data_pipeline_spark import caching, pipeline
    from building_energy_data_pipeline_spark.etl import loader, transforms
    from building_energy_data_pipeline_spark.schema import ddl, profiler

    pkg = "building_energy_data_pipeline_spark"
    tracer.patch(pipeline.Pipeline, "transform_data", "pipeline.transform_data")
    tracer.patch(pipeline.Pipeline, "load_data", "pipeline.load_data")
    tracer.patch_everywhere(transforms.transform_sources, "etl.transform_sources", pkg)
    tracer.patch_everywhere(profiler.profile_columns, "schema.profile", pkg)
    tracer.patch_everywhere(ddl.generate_ddl, "schema.ddl", pkg)
    tracer.patch_everywhere(loader.check_data_overlap, "etl.gate", pkg)
    tracer.patch_everywhere(loader.write_idempotent, "etl.write_idempotent", pkg)
    tracer.patch(rw.DataFrameReader, "csv", "sources.csv_read")
    tracer.patch(rw.DataFrameWriter, "parquet", "sources.parquet_write")

    dispatch = transforms.DEFAULT_DISPATCH
    melt = dispatch[r".*"]
    dispatch[r".*"] = tracer.wrap(melt, "etl.melt")
    tracer._undo.append(lambda: dispatch.__setitem__(r".*", melt))  # noqa: SLF001

    lookup, persist = caching.slot_lookup, caching.slot_persist

    def slot_lookup(name, sig, session):
        with tracer.span("caching.slot_lookup"):
            out = lookup(name, sig, session)
        tracer.count("caching.slot_lookups")
        tracer.count("caching.slot_hits", out is not None)
        return out

    def slot_persist(name, df, *args, **kwargs):
        held = caching._CACHE_SLOTS.get(name)  # noqa: SLF001
        with tracer.span("caching.slot_persist"):
            out = persist(name, df, *args, **kwargs)
        hit = held is not None and out is held[1]
        tracer.count("caching.slot_lookups")
        tracer.count("caching.slot_hits", hit)
        tracer.count("caching.slot_persists", not hit)
        return out

    tracer.patch_everywhere(lookup, "", pkg, wrapper=slot_lookup)
    tracer.patch_everywhere(persist, "", pkg, wrapper=slot_persist)
