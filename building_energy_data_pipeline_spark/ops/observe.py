"""Observability (SURVEY §2.10 C9/C13/C14).

- :func:`explain_str` — C9 EXPLAIN passthrough as a string (the
  reference captures PostgreSQL EXPLAIN JSON,
  ``postgres_manager.py:1134-1151``).
- :class:`QueryHistory` — C14: the reference records its last 1 000
  queries with latency by wrapping its own ``execute_query``
  (``postgres_manager.py:99-100,418-428``); this is the same wrapper
  pattern around DataFrame actions, plus C13's result caching.
"""

from __future__ import annotations

import logging
import time
from collections import deque
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

#: Advisory plan-introspection probes log their misses here at DEBUG
#: (VERDICT r11 #8: silent ``pass`` hid genuine JVM API drift across
#: Spark versions; a wrapper-type miss is routine, so DEBUG, not
#: WARNING — but a test run with debug logging now SHOWS the drift).
_LOG = logging.getLogger(__name__)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """C9: the physical plan as a string (``df.explain`` prints to
    stdout; tooling wants the text)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def _walk_plan(node):
    """Depth-first over an executed SparkPlan, descending through the
    AQE / codegen wrappers that hide the real operators:
    ``AdaptiveSparkPlanExec.executedPlan`` (the final re-planned tree),
    ``QueryStageExec.plan`` (materialized stages), and ordinary
    ``children``."""
    yield node
    for attr in ("executedPlan", "plan"):
        try:
            inner = getattr(node, attr)()
            yield from _walk_plan(inner)
            return
        except Exception as exc:  # noqa: BLE001 — wrapper type probing
            _LOG.debug("plan-walk probe .%s() missed: %s", attr, exc)
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_plan(it.next())


def shuffle_count(df: DataFrame) -> int:
    """Number of real shuffle exchanges in the (pre-execution)
    physical plan — the engine-wide "shuffle budget" number.

    Counts ``ShuffleExchangeExec`` nodes by walking the plan TREE,
    not by grepping the plan STRING: ``toString`` re-prints every
    ``InMemoryTableScan``'s cached build lineage, so a slot-using
    query's text shows the same exchanges once per cache consumer
    (q173's string shows 71 where the tree holds a handful).
    Broadcast exchanges are deliberately excluded — they are the
    cheap alternative the budget is steering toward.
    """
    n = 0
    for node in _walk_plan(df._jdf.queryExecution().executedPlan()):  # noqa: SLF001
        try:
            if node.getClass().getSimpleName().startswith(
                "ShuffleExchange"
            ):
                n += 1
        except Exception as exc:  # noqa: BLE001 — non-JVM probing safety
            _LOG.debug("shuffle-count class probe missed: %s", exc)
    return n


def explain_analyze(
    df: DataFrame, action: Callable[[DataFrame], Any] | None = None
) -> dict[str, Any]:
    """EXPLAIN ANALYZE analogue (the reference captures
    runtime-instrumented plans via ``EXPLAIN (ANALYZE, BUFFERS, ...)``,
    ``postgres_manager.py:537-540,1134-1151``): run the query, then
    read the **runtime** ``SQLMetric`` values (rows produced, bytes
    scanned, spill, shuffle bytes, time in exchange...) off every
    executed-plan operator — the same numbers the Spark UI's SQL tab
    shows, as data.

    Returns ``{"duration_s", "result", "operators": [{"operator",
    "metrics": {name: value}}, ...]}``; operators are listed root
    first, metric keys are Spark's internal SQLMetric names
    (``numOutputRows``, ``spillSize``, ``shuffleBytesWritten``...).

    The default action executes the DataFrame's OWN physical plan
    (``queryExecution().toRdd().count()`` — full execution, nothing
    shipped to the driver). That matters: ``df.count()`` would build
    a NEW QueryExecution and leave this plan's metrics empty. A
    custom ``action`` must likewise run this plan (``collect`` /
    ``toPandas`` / a ``toRdd`` job) for the metrics to be non-empty.
    """
    t0 = time.time()
    if action is None:
        result = df._jdf.queryExecution().toRdd().count()  # noqa: SLF001
    else:
        result = action(df)
    duration = time.time() - t0
    ops: list[dict[str, Any]] = []
    try:
        root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        for node in _walk_plan(root):
            metrics: dict[str, int] = {}
            try:
                mit = node.metrics().iterator()
                while mit.hasNext():
                    kv = mit.next()
                    metrics[str(kv._1())] = int(kv._2().value())
            except Exception as exc:  # noqa: BLE001 — metric-free node
                _LOG.debug("SQLMetric probe missed: %s", exc)
            ops.append({"operator": str(node.nodeName()), "metrics": metrics})
    except Exception as exc:  # noqa: BLE001 — plan introspection is advisory
        _LOG.debug("executed-plan introspection failed: %s", exc)
    return {"duration_s": duration, "result": result, "operators": ops}


class StreamingMetricsRecorder:
    """StreamingQueryListener feeding per-batch runtime metrics into a
    :class:`QueryHistory` — the streaming analogue of
    :func:`explain_analyze` (VERDICT r4 #7): batch queries already get
    per-operator SQLMetrics; this gives the q96/q100/q115 family the
    same surface for rows/latency/state-size per micro-batch.

    Implemented as a factory (:meth:`listener`) because PySpark's
    ``StreamingQueryListener`` base class is imported lazily — the
    recorder itself stays importable in environments without the
    streaming stack. Usage::

        rec = StreamingMetricsRecorder()
        spark.streams.addListener(rec.listener())
        ... run / drain streams ...
        rec.history.stats(); rec.batches[-1]["state_rows_total"]

    Each progress event appends (a) a dict to :attr:`batches` with the
    raw per-batch numbers and (b) a :class:`QueryRecord` named
    ``<stream>#<batchId>`` to :attr:`history`, with the state-operator
    rows riding the record's ``operators`` field — so streaming
    batches fold into the same ``stats()`` as batch queries.

    Listener delivery is asynchronous (Spark's listener bus) —
    callers that assert on recorded events after draining a stream
    should poll briefly (see ``tests/test_streaming.py``).
    """

    def __init__(self, history: "QueryHistory | None" = None, maxlen: int = 1000):
        self.history = history or QueryHistory(maxlen=maxlen)
        self.batches: deque[dict] = deque(maxlen=maxlen)

    def _record(self, progress) -> None:
        try:
            dur_ms = dict(progress.durationMs or {})
            state = [
                {
                    "operator": "stateOperator",
                    "metrics": {
                        "numRowsTotal": s.numRowsTotal,
                        "numRowsUpdated": s.numRowsUpdated,
                        "memoryUsedBytes": s.memoryUsedBytes,
                    },
                }
                for s in (progress.stateOperators or [])
            ]
            batch = {
                "name": progress.name,
                "batch_id": progress.batchId,
                "num_input_rows": progress.numInputRows,
                "trigger_ms": dur_ms.get("triggerExecution", 0),
                "state_rows_total": sum(
                    s["metrics"]["numRowsTotal"] for s in state
                ),
            }
            self.batches.append(batch)
            self.history.records.append(
                QueryRecord(
                    name=f"{progress.name or progress.runId}"
                    f"#{progress.batchId}",
                    duration_s=batch["trigger_ms"] / 1000.0,
                    started_at=time.time(),
                    n_rows=progress.numInputRows,
                    operators=state or None,
                )
            )
        except Exception:  # noqa: BLE001 — metrics are advisory; a
            # malformed event must never kill the listener bus
            _LOG.debug("streaming progress record skipped", exc_info=True)

    def listener(self):
        """Build the PySpark listener object to pass to
        ``spark.streams.addListener`` (keep a reference for
        ``removeListener``)."""
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                recorder._record(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Listener()


@dataclass
class QueryRecord:
    name: str
    duration_s: float
    started_at: float
    n_rows: int | None
    operators: list | None = None


class QueryHistory:
    """Ring buffer of executed queries with latency (C14) and an
    optional per-name DataFrame cache (C13: the reference LRU-caches
    SELECT results keyed by SQL+params; here the cache is Spark's
    own ``persist`` — cluster-wide, partition-granular)."""

    def __init__(self, maxlen: int = 1000):
        self.records: deque[QueryRecord] = deque(maxlen=maxlen)
        self._cached: dict[str, DataFrame] = {}

    def run(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        action: Callable[[DataFrame], Any] | None = None,
        cache: bool = False,
        analyze: bool = False,
    ) -> Any:
        """Execute ``fn`` (a DataFrame program), time its action
        (default ``count``), record it, and return the action's
        result. ``analyze=True`` additionally records the
        per-operator runtime metrics (:func:`explain_analyze`)."""
        t0 = time.time()
        df = fn()
        if cache:
            if name not in self._cached:
                self._cached[name] = df.persist()
            df = self._cached[name]
        operators = None
        if analyze:
            analyzed = explain_analyze(df, action)
            result = analyzed["result"]
            operators = analyzed["operators"]
        else:
            result = (action or (lambda d: d.count()))(df)
        self.records.append(
            QueryRecord(
                name=name,
                duration_s=time.time() - t0,
                started_at=t0,
                n_rows=result if isinstance(result, int) else None,
                operators=operators,
            )
        )
        return result

    def clear_cache(self) -> None:
        for df in self._cached.values():
            df.unpersist()
        self._cached.clear()

    def stats(self) -> dict[str, Any]:
        """Fold the ring buffer the way the reference folds load
        statistics (``data_loader.py:938-979``)."""
        if not self.records:
            return {"n_queries": 0}
        durs = sorted(r.duration_s for r in self.records)
        return {
            "n_queries": len(durs),
            "total_s": sum(durs),
            "mean_s": sum(durs) / len(durs),
            "p50_s": durs[len(durs) // 2],
            "max_s": durs[-1],
        }


def plan_lint(df: DataFrame) -> list[str]:
    """Static scale-killer audit of a DataFrame's physical plan —
    the codified form of the review checklist every query in
    ``plans/`` is held to (and the check the reference's EXPLAIN
    tooling, ``postgres_manager.py:537-540``, leaves to a human).

    Walks the plan TREE (same rationale as ``shuffle_count`` — the
    string re-prints cached lineage) and reports, as
    ``"code: detail"`` strings:

    - ``cartesian-product`` — ``CartesianProductExec`` anywhere;
    - ``python-row-udf`` — ``BatchEvalPythonExec``, the
      row-at-a-time Python eval the engine bans (Arrow/pandas
      evals pass: they are the sanctioned vectorized path);
    - ``unpartitioned-window`` — a window operator whose partition
      spec is empty, i.e. a single-partition sort of its input.
      Legitimate ONLY under the compact-table policy (input bounded
      by a catalog/calendar/domain, never by data volume) — the
      registry audit in ``tests/test_plan_lint.py`` whitelists
      exactly the documented cases;
    - ``single-partition-exchange`` — a shuffle INTO one partition
      whose child is NOT a partial aggregate. A SinglePartition
      exchange under a final ungrouped aggregate carries one
      partial row per task and is how EVERY engine computes a
      global aggregate; one under anything else is a
      ``repartition(1)``-style funnel of real rows.

    ``BroadcastNestedLoopJoinExec`` is deliberately NOT flagged: a
    BNLJ by construction has a broadcast side, and the engine's
    sanctioned broadcast-scalar / tiny-cross-join pattern (every
    ``crossJoin`` site broadcasts a bounded aggregate) compiles to
    exactly that operator; the all-pairs killer — no broadcast side
    at all — is ``CartesianProductExec``, which stays flagged.
    """
    findings: list[str] = []
    for node in _walk_plan(
        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    ):
        try:
            cls = node.getClass().getSimpleName()
        except Exception:  # noqa: BLE001
            continue
        if cls.startswith("CartesianProduct"):
            findings.append("cartesian-product: " + cls)
        elif cls.startswith("BatchEvalPython"):
            findings.append("python-row-udf: " + cls)
        elif "Window" in cls:
            try:
                if node.partitionSpec().isEmpty():
                    findings.append("unpartitioned-window: " + cls)
            except Exception:  # noqa: BLE001 — no partitionSpec()
                _LOG.debug("plan-lint window probe missed", exc_info=True)
        elif cls.startswith("ShuffleExchange"):
            try:
                if (
                    node.outputPartitioning().toString()
                    == "SinglePartition"
                ):
                    child = node.child().getClass().getSimpleName()
                    if "Aggregate" not in child:
                        findings.append(
                            "single-partition-exchange: "
                            f"{cls} over {child}"
                        )
            except Exception:  # noqa: BLE001
                _LOG.debug("plan-lint exchange probe missed", exc_info=True)
    return findings
