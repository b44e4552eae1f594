"""Turn a finished run into its figures.

``detail`` gives every figure the workload has, under the names the
notes use (``transform_s``, ``query_p50_s``, ...): those all workloads
share, and the workload's own from ``Workload.detail``. ``end_to_end``
picks the ones ``BENCHMARK.json`` bounds, which every workload has.
``per_layer`` reads the spans of a traced run, and adds the figures
``Workload.layer_figures`` takes from the pass records. Warm figures are per warm
pass: medians for the untraced times, means over the warm passes for
the traced layer figures, so that the layer self-times add up to the
traced pass time.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from stats import covered
from workloads import STREAM_PHASES

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "cold_work_s": "s",
}

LAYERS = ("bench", "session", "pipeline", "sources", "etl", "schema", "plans", "caching", "streaming", "spark")
TRACKED_QUERIES = ("q28", "q150", "q154", "q246")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.csv_read_s": "s",
    "sources.csv_read_jobs": "count",
    "sources.csv_bytes_read": "bytes",
    "sources.commit_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "etl.melt_build_s": "s",
    "etl.melt_py4j_calls": "count",
    "etl.transform_exec_s": "s",
    "etl.transform_tasks": "count",
    "etl.transform_shuffle_bytes": "bytes",
    "etl.gate_s": "s",
    "etl.gate_jobs": "count",
    "etl.gate_bytes_read": "bytes",
    "etl.gate_rows_read": "count",
    "etl.gate_scan_fraction": "ratio",
    "etl.dedup_write_s": "s",
    "etl.dedup_shuffle_bytes": "bytes",
    "etl.dedup_spill_bytes": "bytes",
    "etl.dedup_kept_ratio": "ratio",
    "schema.profile_s": "s",
    "schema.profile_jobs": "count",
    "schema.ddl_s": "s",
    "plans.build_s": "s",
    "plans.build_cold_s": "s",
    "plans.py4j_calls": "count",
    **{f"plans.{q}.build_s": "s" for q in TRACKED_QUERIES},
    **{f"spark.{q}.stages": "count" for q in TRACKED_QUERIES},
    **{f"spark.{q}.exec_s": "s" for q in TRACKED_QUERIES},
    "caching.slot_lookups": "count",
    "caching.slot_hits": "count",
    "caching.slot_persists": "count",
    "caching.hit_ratio": "ratio",
    "streaming.batches": "count",
    **{f"streaming.{k}": "ms" for k in STREAM_PHASES},
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rocksdb_bytes_written": "bytes",
    "streaming.changelog_files": "count",
    "streaming.checkpoint_files": "count",
    "streaming.sink_existing_bytes_read": "bytes",
    "streaming.rows_kept_ratio": "ratio",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_utilization": "ratio",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.work_s": "s",
    "trace.cold_work_s": "s",
}


def detail(wl, cores: int, setup_s: float, session_s: float, warmup_s: float,
           peak_rss_mb: float, steal_s: float, attempted: int, failed: int) -> dict:
    cold = wl.passes[0]
    warm = [p for p in wl.passes if not p["cold"]] or [cold]
    out = {
        "cores": cores,
        "warm_passes": len(warm),
        "setup_s": setup_s,
        "session_s": session_s,
        "warmup_s": warmup_s,
        "peak_rss_mb": peak_rss_mb,
        "cpu_steal_s": steal_s,
        "work_s": statistics.median([p["work_s"] for p in warm]),
        "cold_work_s": cold["work_s"],
        "failed_op_ratio": failed / attempted,
    }
    out.update(wl.detail(warm, cold))
    return out


def end_to_end(info: dict) -> dict:
    return {k: {"value": info[k], "unit": unit} for k, unit in END_TO_END.items()}


def per_layer(wl, tracer, cores: int, session_s: float, warmup_s: float) -> dict:
    cold_root = next(s for s in tracer.spans if s["name"] == "bench.cold")
    roots = [s for s in tracer.spans if s["name"] == "bench.warm"] or [cold_root]
    warm = [p for p in wl.passes if not p["cold"]] or wl.passes[:1]
    n = len(roots)
    under = [d for r in roots for d in tracer.descendants(r)]
    named = defaultdict(list)
    for s in under:
        named[s["name"]].append(s)
    m: dict[str, float] = defaultdict(float)

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans)

    def jobs(spans, exclude: str | None = None):
        out = []
        for s in spans:
            for d in tracer.descendants(s):
                if d["name"] != "spark.job":
                    continue
                if exclude and _has_ancestor(tracer, d, exclude, stop=s):
                    continue
                out.append(d)
        return out

    def jsum(js, key):
        return sum(j.get(key, 0) for j in js)

    def exec_time(spans, exclude: str | None = None):
        return sum(
            covered((s["start"], s["end"]), [(j["start"], j["end"]) for j in jobs([s], exclude)])
            for s in spans
        )

    m["session.start_s"] = session_s
    m["session.warmup_s"] = warmup_s

    csv = named["sources.csv_read"]
    m["sources.csv_read_s"] = dur(csv) / n
    m["sources.csv_read_jobs"] = len(jobs(csv)) / n
    m["sources.csv_bytes_read"] = jsum(jobs(csv), "input_bytes") / n
    writes = named["sources.parquet_write"]
    m["sources.commit_s"] = (dur(writes) - exec_time(writes)) / n
    m["sources.bytes_written"] = jsum(jobs(writes), "output_bytes") / n

    melt = named["etl.melt"]
    m["etl.melt_build_s"] = dur(melt) / n
    m["etl.melt_py4j_calls"] = sum(s["py4j"] for s in melt) / n
    # the transform's own execution: its jobs apart from the CSV schema pass
    tr = named["etl.transform_sources"]
    tj = jobs(tr, exclude="sources.csv_read")
    m["etl.transform_exec_s"] = exec_time(tr, exclude="sources.csv_read") / n
    m["etl.transform_tasks"] = jsum(tj, "tasks") / n
    m["etl.transform_shuffle_bytes"] = jsum(tj, "shuffle_write_bytes") / n

    gate = named["etl.gate"]
    gj = jobs(gate)
    m["etl.gate_s"] = dur(gate) / n
    m["etl.gate_jobs"] = len(gj) / n
    m["etl.gate_bytes_read"] = jsum(gj, "input_bytes") / n
    m["etl.gate_rows_read"] = jsum(gj, "input_rows") / n
    wi = named["etl.write_idempotent"]
    dj = jobs(wi, exclude="etl.gate")
    m["etl.dedup_write_s"] = (dur(wi) - dur([g for g in gate if _has_ancestor(tracer, g, "etl.write_idempotent")])) / n
    m["etl.dedup_shuffle_bytes"] = jsum(dj, "shuffle_write_bytes") / n
    m["etl.dedup_spill_bytes"] = jsum(dj, "spill_bytes") / n
    rows_in = jsum(dj, "input_rows")
    m["etl.dedup_kept_ratio"] = jsum(dj, "output_rows") / rows_in if rows_in else 0.0

    prof = named["schema.profile"]
    m["schema.profile_s"] = dur(prof) / n
    m["schema.profile_jobs"] = len(jobs(prof)) / n
    m["schema.ddl_s"] = dur(named["schema.ddl"]) / n

    builds = [s for s in under if s["name"].startswith("plans.") and s["name"].endswith(".build")]
    cold_builds = [
        s for s in tracer.descendants(cold_root)
        if s["name"].startswith("plans.") and s["name"].endswith(".build")
    ]
    m["plans.build_s"] = dur(builds) / n
    m["plans.build_cold_s"] = dur(cold_builds)
    m["plans.py4j_calls"] = sum(s["py4j"] for s in builds) / n
    for q in TRACKED_QUERIES:
        m[f"plans.{q}.build_s"] = dur(named[f"plans.{q}.build"]) / n
        ex = named[f"spark.{q}.exec"]
        m[f"spark.{q}.stages"] = jsum(jobs(ex), "stages") / n
        m[f"spark.{q}.exec_s"] = dur(ex) / n

    counts = defaultdict(float)
    for s in under:
        for k, v in s.get("counts", {}).items():
            counts[k] += v
    for k in ("caching.slot_lookups", "caching.slot_hits", "caching.slot_persists"):
        m[k] = counts[k] / n
    m["caching.hit_ratio"] = counts["caching.slot_hits"] / counts["caching.slot_lookups"] if counts["caching.slot_lookups"] else 0.0

    m.update(wl.layer_figures(warm, n, lambda name: jobs(named[name])))

    m["spark.plan_s"] = dur([s for s in under if s["name"].startswith("spark.") and s["name"].endswith(".plan")]) / n
    all_jobs = [s for s in under if s["name"] == "spark.job"]
    m["spark.exec_s"] = sum(
        covered((r["start"], r["end"]), [(j["start"], j["end"]) for j in all_jobs]) for r in roots
    ) / n
    m["spark.jobs"] = len(all_jobs) / n
    for k in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{k}"] = jsum(all_jobs, k) / n
    m["spark.slot_utilization"] = (
        m["spark.executor_run_s"] / (m["spark.exec_s"] * cores) if m["spark.exec_s"] else 0.0
    )

    st = tracer.self_times(roots + under)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = st.get(layer, 0.0) / n
    m["trace.work_s"] = dur(roots) / n
    m["trace.cold_work_s"] = dur([cold_root])
    return {k: {"value": float(m.get(k, 0.0)), "unit": unit} for k, unit in PER_LAYER.items()}


def _has_ancestor(tracer, span: dict, name: str, stop: dict | None = None) -> bool:
    pid = span["parent"]
    while pid is not None:
        parent = tracer.spans[pid]
        if stop is not None and parent["id"] == stop["id"]:
            return False
        if parent["name"] == name:
            return True
        pid = parent["parent"]
    return False

