"""Reads per-layer counters from outside the package.

Three sources, all in-process and readable with ``spark.ui.enabled=false``:

- the core ``AppStatusStore`` (jobs and stages with their task-metric
  sums), serialized to JSON by the JVM in one call;
- the SQL status store (``sharedState().statusStore()``): per-execution
  plan graphs and ``executionMetrics(id)``, whose values are formatted
  strings parsed by ``stats.parse_metric``;
- file-system operation counts from ``benchfs.CountingLocalFileSystem``
  (installed as ``fs.file.impl``, because the stock local file system
  keeps only byte counts in its Hadoop statistics) and Hadoop's
  ``FileSystem`` byte statistics; both see the driver and the executor
  threads alike in ``local[N]`` mode.

Status data is read once, after the measured window, and attributed to
spans by time (``stats.attribute``); only the FS counters are sampled at
span boundaries, because they carry no timestamps.
"""

from __future__ import annotations

import json

from stats import parse_metric

#: SQL-node metrics summed per layer, by node kind
SCAN_METRICS = {
    "size of files read": "file_bytes",
    "number of output rows": "rows",
    "scan time": "time_s",
    "number of files read": "files",
}
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self._mapper = mapper

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def fs_counters(self) -> dict[str, int]:
        """Cumulative local-FS operation counts of this JVM (from
        ``benchfs.CountingLocalFileSystem``) and Hadoop's byte counter."""
        c = list(self._jvm.benchfs.CountingLocalFileSystem.counts())
        st = self._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get("file")
        return {
            "read_ops": c[0],
            "write_ops": c[1] + c[2] + c[3] + c[4],
            "list_ops": c[5],
            "stat_ops": c[6],
            "bytes_written": int(st.getLong("bytesWritten")) if st is not None else 0,
        }

    def stages(self) -> list[dict]:
        """Finished stages with their task-metric sums; ``t`` is the
        completion time in epoch seconds."""
        jl = self._jvm.java.util.ArrayList
        empty_q = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        rows = self._json(self._store.stageList(jl(), False, False, empty_q, jl()))
        out = []
        for r in rows:
            if r.get("completionTime") is None or r.get("status") == "SKIPPED":
                continue
            out.append(
                {
                    "t": r["completionTime"] / 1000.0,
                    "start": (r.get("submissionTime") or r["completionTime"]) / 1000.0,
                    "tasks": r.get("numCompleteTasks", 0),
                    "failed_tasks": r.get("numFailedTasks", 0),
                    "run_s": r.get("executorRunTime", 0) / 1000.0,
                    "cpu_s": r.get("executorCpuTime", 0) / 1e9,
                    "gc_s": r.get("jvmGcTime", 0) / 1000.0,
                    "shuffle_write_bytes": r.get("shuffleWriteBytes", 0),
                    "shuffle_read_bytes": r.get("shuffleReadBytes", 0),
                    "fetch_wait_s": r.get("shuffleFetchWaitTime", 0) / 1000.0,
                    "spill_memory_bytes": r.get("memoryBytesSpilled", 0),
                    "spill_disk_bytes": r.get("diskBytesSpilled", 0),
                }
            )
        return out

    def jobs(self) -> list[dict]:
        rows = self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))
        return [
            {
                "t": r["completionTime"] / 1000.0,
                "start": (r.get("submissionTime") or r["completionTime"]) / 1000.0,
            }
            for r in rows
            if r.get("completionTime") is not None
        ]

    def executions(self, since: float) -> list[dict]:
        """SQL executions submitted at or after ``since`` (epoch s), with
        scan-node and Python-node metrics summed per execution."""
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            sub = e.submissionTime() / 1000.0
            if sub < since:
                continue
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else sub
            eid = e.executionId()
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            rec = {"t": end, "start": sub}
            rec.update({f"scan.{v}": 0.0 for v in SCAN_METRICS.values()})
            rec.update({f"python.{v}": 0.0 for v in PYTHON_METRICS.values()})
            for node in nodes:
                is_scan = node.get("name", "").startswith("Scan")
                for m in node.get("metrics", []):
                    raw = values.get(str(m["accumulatorId"]))
                    if raw is None:
                        continue
                    name = m["name"]
                    if is_scan and name in SCAN_METRICS:
                        rec[f"scan.{SCAN_METRICS[name]}"] += parse_metric(raw)
                    elif name in PYTHON_METRICS:
                        rec[f"python.{PYTHON_METRICS[name]}"] += parse_metric(raw)
            out.append(rec)
        return out

