"""Read the Spark-side layers from outside the program.

Everything here goes through py4j into the driver JVM's own status stores;
nothing in the engine is changed or instrumented:

* stages: ``AppStatusStore.lastStageAttempt`` for every stage of every SQL
  execution that started after a mark (run time, CPU time, input, shuffle,
  spill);
* SQL executions: ``SQLAppStatusStore`` walls, descriptions and stages;
* Catalyst: ``QueryExecution.tracker().phases()`` of a DataFrame the caller
  holds;
* physical-plan SQL metrics of a DataFrame the caller executed (e.g. the
  ``MapInPandas`` node's Python rows and bytes);
* ``StreamingQuery.recentProgress`` durations;
* storage: memory and disk held by persisted RDDs.

Listener events are delivered asynchronously; :meth:`SparkStats.since`
drains the listener bus first so a finished action is fully visible.
"""

from __future__ import annotations

from dataclasses import dataclass, field

_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Execution:
    """One SQL execution: wall clock, its physical plan text (to tell the
    executions of one call apart) and the metrics of its stages."""

    id: int
    description: str
    plan: str
    start_ms: int
    end_ms: int
    stages: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _as_java(self, scala_coll):
        return self._cc.asJava(scala_coll)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """The newest SQL execution id so far; pass it to :meth:`since`."""
        self.drain()
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return max(int(e.executionId()) for e in self._as_java(self._sql.executionsList(n - 1, 1)))

    def since(self, mark: int, limit: int = 400) -> list[Execution]:
        """Finished SQL executions with an id above ``mark``, with the
        metrics of their stages."""
        self.drain()
        n = int(self._sql.executionsCount())
        tail = self._as_java(self._sql.executionsList(max(0, n - limit), min(n, limit)))
        out = []
        for e in tail:
            eid = int(e.executionId())
            if eid <= mark:
                continue
            done = e.completionTime()
            if not done.isDefined():
                continue
            stages = {}
            for sid in self._as_java(e.stages()):
                stages[int(sid)] = self.stage(int(sid))
            out.append(
                Execution(
                    id=eid,
                    description=str(e.description()),
                    plan=str(e.physicalPlanDescription()),
                    start_ms=int(e.submissionTime()),
                    end_ms=int(done.get().getTime()),
                    stages=stages,
                )
            )
        return out

    def stage(self, stage_id: int) -> dict:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # evicted from the store, or never ran
            return dict.fromkeys(_STAGE_FIELDS, 0)
        return {k: int(getattr(sd, f)()) for k, f in _STAGE_FIELDS.items()}

    def storage_bytes(self) -> int:
        """Memory plus disk held by persisted RDDs right now."""
        total = 0
        for info in self._sc.getRDDStorageInfo():
            total += int(info.memSize()) + int(info.diskSize())
        return total

    @staticmethod
    def catalyst_ms(df) -> dict:
        """Analysis / optimization / planning wall (ms) of ``df``'s query
        execution; a phase that has not run yet reads 0."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                p = phases.apply(name)
                out[name] = float(p.endTimeMs() - p.startTimeMs())
            else:
                out[name] = 0.0
        return out

    def plan_metrics(self, df, node_prefix: str) -> dict:
        """Summed SQL metrics of every executed-plan node of ``df`` whose
        name starts with ``node_prefix`` (AQE stages are unwrapped)."""
        total: dict = {}

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(node.executedPlan())
            if cls.endswith("QueryStageExec"):
                return walk(node.plan())
            if str(node.nodeName()).startswith(node_prefix):
                ms = self._as_java(node.metrics())
                for k in ms.keySet():
                    total[k] = total.get(k, 0) + int(ms.get(k).value())
            for child in self._as_java(node.children()):
                walk(child)

        walk(df._jdf.queryExecution().executedPlan())
        return total


def exec_totals(executions: list[Execution]) -> dict:
    """Stage metrics summed over executions (a stage counted once)."""
    seen: dict = {}
    for e in executions:
        seen.update(e.stages)
    tot = dict.fromkeys(_STAGE_FIELDS, 0)
    for st in seen.values():
        for k in tot:
            tot[k] += st[k]
    return tot


def progress_durations(query) -> dict:
    """Per-batch ``durationMs`` entries of a finished streaming query,
    as lists keyed by phase (``addBatch``, ``walCommit``, ...)."""
    out: dict = {}
    for p in query.recentProgress:
        for k, v in (p.get("durationMs") or {}).items():
            out.setdefault(k, []).append(float(v))
    return out
