"""Per-op Spark counters for the traced run: jobs, stages and tasks from
the StatusTracker under a per-op job group, and rows and bytes from the
executed plans' SQLMetrics in the SQL status store.

The Spark UI is off, so everything is read through the JVM objects the
UI would otherwise render: ``SparkContext.statusTracker()`` and
``SharedState.statusStore()``."""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

# SQL executions must outlive the op that ran them until they are read;
# the traced run raises the store's retention to this.
RETAINED_EXECUTIONS = 100_000

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_count(text: str) -> int:
    """A sum metric as the status store renders it, e.g. ``1,234``."""
    return int(text.replace(",", "").strip() or 0)


def parse_size(text: str) -> float:
    """A size metric as rendered: ``4.6 MiB`` for one task, or
    ``total (min, med, max ...)\\n6.9 KiB (...)`` for several. The
    total is the first size after the last line break; it carries the
    three significant digits the store keeps."""
    m = _SIZE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkProbe:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        shared = spark._jsparkSession.sharedState()
        self._store = shared.statusStore()
        self._cache = shared.cacheManager()
        self._tracker = self.sc.statusTracker()
        self._op: str | None = None
        self._exec_before = 0

    def begin_op(self, op_id: str) -> None:
        self._op = op_id
        self.phase("construct")

    def phase(self, name: str) -> None:
        """Tag the jobs fired from here on with ``<op>.<name>``. The
        ``exec`` phase also marks where the op's SQL executions start."""
        if self._op is None:
            return
        if name == "exec":
            self._exec_before = self._store.executionsCount()
        self.sc.setJobGroup(f"{self._op}.{name}", self._op)

    def end_op(self) -> dict[str, float]:
        """Counters of the op begun last; clears the job group."""
        op, self._op = self._op, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {"construct_jobs": len(self._tracker.getJobIdsForGroup(f"{op}.construct"))}
        out.update(self._job_counts(f"{op}.exec"))
        out.update(self._sql_counts(self._exec_before))
        out["cache_entries"] = self._cache.numCachedEntries()
        return out

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _job_counts(self, group: str) -> dict[str, float]:
        jobs = stages = tasks = failed = 0
        for jid in self._tracker.getJobIdsForGroup(group):
            jobs += 1
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}

    def _sql_counts(self, first_index: int) -> dict[str, float]:
        """Rows scanned from files, shuffle bytes written, and rows and
        files landed by file writes, over the SQL executions the op's
        exec phase ran."""
        out = {"scan_rows": 0, "shuffle_bytes": 0.0, "write_rows": 0, "files_written": 0}
        count = self._store.executionsCount()
        if count <= first_index:
            return out
        execs = self._store.executionsList(first_index, count - first_index)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    text, mname = v.get(), m.name()
                    if name.startswith("Scan parquet") and mname == "number of output rows":
                        out["scan_rows"] += parse_count(text)
                    elif name == "Exchange" and mname == "shuffle bytes written":
                        out["shuffle_bytes"] += parse_size(text)
                    elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                        if mname == "number of output rows":
                            out["write_rows"] += parse_count(text)
                        elif mname == "number of written files":
                            out["files_written"] += parse_count(text)
        return out
