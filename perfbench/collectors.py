"""Layer collectors for a traced run (``--trace 1``).

Nothing here changes the package. Each op runs under its own job group;
job, stage and task counts come from the status tracker, stage CPU, GC,
shuffle and spill from the Spark UI REST API on localhost, and py4j round
trips from a counting wrapper around the gateway client's
``send_command``. After each op, the persisted RDDs and temporary views it
left behind are counted. The py4j count includes background calls, so it is
approximate (about ±10% run to run).

With tracing off every method is a no-op, so an untraced run executes the
same code path without collectors.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.on = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j_calls = 0
        self.collect_s = 0.0  # time spent inside the collectors themselves
        self.ops: list[dict] = []
        self.timers: dict[str, list[float]] = {}
        if enabled:
            client = self.sc._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                self.py4j_calls += 1
                return send(*args, **kwargs)

            client.send_command = counted

    # -- per op -----------------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """Run one op under its own job group; record its jobs afterwards."""
        if not self.on:
            yield {}
            return
        group = f"perfbench-{len(self.ops)}-{name}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "group": group, "py4j0": self.py4j_calls}
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            tracker = self.sc.statusTracker()
            jobs = sorted(tracker.getJobIdsForGroup(group))
            rec["jobs"] = len(jobs)
            stages = []
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            rec["stage_ids"] = sorted(set(stages))
            # State the op leaves behind, counted before the next op's
            # clearCache() can release it.
            rec["rdds_left"] = self.sc._jsc.getPersistentRDDs().size()
            rec["views_left"] = sum(1 for t in self.spark.catalog.listTables()
                                    if t.isTemporary)
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.ops.append(rec)
            self.collect_s += time.perf_counter() - t0

    def jobs_so_far(self, rec: dict) -> int:
        """Jobs the op's group has launched up to now (e.g. at build time)."""
        if not self.on:
            return 0
        t0 = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
        self.collect_s += time.perf_counter() - t0
        return n

    def plan(self, df) -> float:
        """Time Catalyst planning (``executedPlan``) of a built DataFrame."""
        if not self.on:
            return 0.0
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0

    def add(self, key: str, value: float) -> None:
        if self.on:
            self.timers.setdefault(key, []).append(value)

    # -- whole run --------------------------------------------------------
    def stage_metrics(self, ops: list[dict], timeout_s: float = 20.0) -> dict:
        """Sum the REST stage metrics over the stages the given ops ran."""
        want = {s for op in ops for s in op["stage_ids"]}
        url = urlparse(self.sc.uiWebUrl)
        base = (f"http://localhost:{url.port}/api/v1/applications/"
                f"{self.sc.applicationId}/stages?details=false")
        deadline = time.monotonic() + timeout_s
        while True:
            with urllib.request.urlopen(base, timeout=10) as resp:
                rows = json.load(resp)
            seen = {r["stageId"]: r for r in rows
                    if r["stageId"] in want and r["status"] in ("COMPLETE", "SKIPPED", "FAILED")}
            if len(seen) == len(want) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        done = [r for r in seen.values() if r["status"] == "COMPLETE"]
        mb = 1024.0 * 1024.0
        return {
            "stages": len(done),
            "tasks": sum(r["numCompleteTasks"] for r in done),
            "executor_run_s": sum(r["executorRunTime"] for r in done) / 1e3,
            "executor_cpu_s": sum(r["executorCpuTime"] for r in done) / 1e9,
            "gc_s": sum(r.get("jvmGcTime", 0) for r in done) / 1e3,
            "shuffle_read_mb": sum(r["shuffleReadBytes"] for r in done) / mb,
            "shuffle_write_mb": sum(r["shuffleWriteBytes"] for r in done) / mb,
            "spill_mb": sum(r["memoryBytesSpilled"] + r["diskBytesSpilled"]
                            for r in done) / mb,
        }
