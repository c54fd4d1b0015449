"""Per-layer probes for the traced run, all from outside the engine.

- Job groups: each script runs under ``sc.setJobGroup``; the group's jobs,
  stages and tasks are read back from Spark's status REST API
  (``sc.uiWebUrl + /api/v1/...``).
- Catalyst: ``queryExecution().optimizedPlan()`` and ``.executedPlan()``
  are forced and timed before the script's action, and the physical plan
  is scanned for exchanges and single-partition exchanges.
- Storage: ``/storage/rdd`` gives the memory held by persisted plans.

The engine's session keeps the Spark UI on; tracing needs it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.parse
import urllib.request
from datetime import datetime

_EXCHANGE = re.compile(r"^[\s:|+-]*(\(\d+\)\s*)?(Broadcast)?Exchange\b")
_TERMINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc.applicationId
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("tracing reads the status REST API; "
                               "the session has spark.ui.enabled=false")
        # the UI listens on all interfaces; talk to it over loopback
        port = urllib.parse.urlparse(url).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.app}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def tag(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    @staticmethod
    def plan(df) -> dict:
        """Force and time Catalyst optimisation and physical planning."""
        qe = df._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.optimizedPlan()
        t1 = time.perf_counter()
        physical = qe.executedPlan().toString()
        t2 = time.perf_counter()
        exchanges = [ln for ln in physical.splitlines() if _EXCHANGE.match(ln)]
        return {"optimize_s": t1 - t0, "physical_s": t2 - t1,
                "exchanges": len(exchanges),
                "single_partition_ops": sum("SinglePartition" in ln
                                            for ln in exchanges)}

    def _settled_stages(self, group: str, deadline_s: float = 10.0):
        """Jobs and stage attempts of ``group`` once the status store has
        caught up with the listener bus (it lags the action's return)."""
        end = time.monotonic() + deadline_s
        while True:
            jobs = [self._get(f"/jobs/{j}") for j in self.job_ids(group)]
            stages = [a for j in jobs for sid in j["stageIds"]
                      for a in self._stage(sid)]
            settled = (all(j["status"] != "RUNNING" for j in jobs)
                       and all(a["status"] in _TERMINAL_STAGE for a in stages))
            if settled or time.monotonic() > end:
                return jobs, stages
            time.sleep(0.05)

    def _stage(self, sid: int) -> list[dict]:
        try:
            return self._get(f"/stages/{sid}")
        except OSError:   # stage never ran (pending when skipped)
            return []

    def harvest(self, group: str, eager: set[int]) -> dict:
        """Executor-side totals of one job group, from the stages API, and
        ``eager_store_s``: the run time of the write jobs among ``eager``
        (jobs started while the script was being built, e.g. its STOREs)."""
        jobs, stages = self._settled_stages(group)
        done = [a for a in stages if a["status"] == "COMPLETE"]
        mb = 1024 * 1024
        out = {
            "jobs": len(jobs), "stages": len(done),
            "tasks": sum(a["numCompleteTasks"] for a in done),
            "run_s": sum(a["executorRunTime"] for a in done) / 1e3,
            "cpu_s": sum(a["executorCpuTime"] for a in done) / 1e9,
            "gc_s": sum(a["jvmGcTime"] for a in done) / 1e3,
            "input_mb": sum(a["inputBytes"] for a in done) / mb,
            "shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in done) / mb,
            "shuffle_read_mb": sum(a["shuffleReadBytes"] for a in done) / mb,
            "spill_mb": sum(a["memoryBytesSpilled"] for a in done) / mb,
            "skew": None,
            "job_s": _union_s(jobs),
            "eager_store_s": sum(
                _job_s(j) for j in jobs
                if j["jobId"] in eager and j["name"].startswith("save at")),
        }
        if done:
            slow = max(done, key=lambda a: a["executorRunTime"])
            q = self._get(f"/stages/{slow['stageId']}/{slow['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return out

    def storage_mb(self) -> float:
        return sum(r.get("memoryUsed", 0)
                   for r in self._get("/storage/rdd")) / (1024 * 1024)


def _ts(v: str) -> float:
    return datetime.strptime(v.replace("GMT", ""),
                             "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _job_s(job: dict) -> float:
    if "completionTime" not in job:
        return 0.0
    return _ts(job["completionTime"]) - _ts(job["submissionTime"])


def _union_s(jobs: list[dict]) -> float:
    """Wall time during which at least one of ``jobs`` was running."""
    spans = sorted((_ts(j["submissionTime"]), _ts(j["completionTime"]))
                   for j in jobs if "completionTime" in j)
    total, end = 0.0, float("-inf")
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def output_stats(paths: list[str]) -> tuple[int, float]:
    """(records, MB) of stored outputs: parquet row counts from the
    footers, text lines otherwise."""
    import pyarrow.parquet as pq
    records, size = 0, 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                full = os.path.join(root, f)
                size += os.path.getsize(full)
                if f.endswith(".parquet"):
                    records += pq.ParquetFile(full).metadata.num_rows
                else:
                    with open(full, "rb") as fh:
                        records += sum(1 for _ in fh)
    return records, size / (1024 * 1024)


# per-layer metric -> (unit, how one pass's per-script values combine)
LAYER_METRICS = {
    "parser.preprocess_s": ("s", "sum"),
    "parser.tokens": ("count", "sum"),
    "compile.check_s": ("s", "sum"),
    "compile.plan_ops": ("count", "sum"),
    "catalyst.optimize_s": ("s", "sum"),
    "catalyst.physical_s": ("s", "sum"),
    "catalyst.exchanges": ("count", "sum"),
    "catalyst.single_partition_ops": ("count", "sum"),
    "exec.jobs": ("count", "sum"),
    "exec.stages": ("count", "sum"),
    "exec.tasks": ("count", "sum"),
    "exec.run_s": ("s", "sum"),
    "exec.cpu_s": ("s", "sum"),
    "exec.gc_s": ("s", "sum"),
    "exec.input_mb": ("MB", "sum"),
    "exec.shuffle_write_mb": ("MB", "sum"),
    "exec.shuffle_read_mb": ("MB", "sum"),
    "exec.spill_mb": ("MB", "sum"),
    "exec.skew": ("ratio", "median"),
    "exec.job_s": ("s", "sum"),
    "operators.build_s": ("s", "sum"),
    "operators.eager_jobs": ("count", "sum"),
    "operators.output_rows": ("count", "sum"),
    "store.s": ("s", "sum"),
    "store.records": ("count", "sum"),
    "store.mb": ("MB", "sum"),
    "caching.persisted": ("count", "sum"),
    "caching.mem_mb": ("MB", "sum"),
    "trace.probe_s": ("s", "sum"),
    # derived from the totals above
    "exec.core_util": ("ratio", None),
    "trace.overhead_frac": ("ratio", None),
}


def combine(per_script: list[dict], wall_s: float, cores: int) -> dict:
    """One pass's per-layer totals from its per-script records."""
    out = {}
    for name, (_unit, how) in LAYER_METRICS.items():
        vals = [r[name] for r in per_script if r.get(name) is not None]
        if how == "median":
            out[name] = statistics.median(vals) if vals else 0.0
        elif how == "sum":
            out[name] = sum(vals)
    # executor busy time over the cores' time; probe time over the rest
    out["exec.core_util"] = out["exec.run_s"] / (wall_s * cores)
    out["trace.overhead_frac"] = (out["trace.probe_s"]
                                  / (wall_s - out["trace.probe_s"]))
    return out
