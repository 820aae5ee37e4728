"""Spark's own stage, task and SQL metrics for one job group, read from the
driver's monitoring REST endpoint (``sparkContext.uiWebUrl``) over loopback
after the group's jobs have finished.

The extraction stage is found through the SQL plan: the topmost
``MapInArrow`` node is the fused extraction stage of
``pipeline.plan_extraction``; on crawl_ingest the deepest one is
``sources.warc.explode_warc``. Each node's metric text names the stage that
ran it.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+):")
REST_TIMEOUT_S = 30.0


def _sql_value(text: str) -> float:
    """Total of an SQL metric as shown by the UI: '16', '373 ms',
    'total (min, med, max (stageId: taskId))\\n5.2 MiB (...)'. Sizes come
    back in bytes, durations in seconds."""
    line = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    parts = line.replace(",", "").split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0])


def _sql_stage(node: dict) -> int | None:
    for m in node["metrics"]:
        hit = _STAGE_RE.search(m["value"])
        if hit:
            return int(hit.group(1))
    return None


class SparkMetrics:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=REST_TIMEOUT_S) as r:
            return json.load(r)

    def _jobs(self, group: str) -> list[dict]:
        """The group's jobs, once the status store has seen every one end."""
        deadline = time.monotonic() + REST_TIMEOUT_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"spark jobs of {group} did not finish")
            time.sleep(0.2)

    def group(self, group: str, wall_s: float) -> dict[str, float]:
        """pipeline.plan_extraction.* and sources.warc.explode_warc.* for one
        job group whose wall time (plan start to sink done) was wall_s."""
        jobs = self._jobs(group)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = {s["stageId"]: s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"}
        arrow_nodes = []
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if job_ids & set(ex.get("successJobIds", [])):
                arrow_nodes += [n for n in ex["nodes"] if n["nodeName"] == "MapInArrow"]
        if not arrow_nodes:
            raise RuntimeError(f"no MapInArrow node in the SQL plans of {group}")
        arrow_nodes.sort(key=lambda n: n["nodeId"])

        def node_metric(node, name):
            return sum(_sql_value(m["value"]) for m in node["metrics"] if m["name"] == name)

        ext_node = arrow_nodes[0]
        ext_stage = stages[_sql_stage(ext_node)]
        q = self._get(f"/stages/{ext_stage['stageId']}/{ext_stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        run_s = sum(s["executorRunTime"] for s in stages.values()) / 1e3
        out = {
            "pipeline.plan_extraction.tasks": ext_stage["numTasks"],
            "pipeline.plan_extraction.task_s_p50": q["duration"][0] / 1e3,
            "pipeline.plan_extraction.task_s_max": q["duration"][1] / 1e3,
            "pipeline.plan_extraction.core_idle_share": 1.0 - run_s / (self.cores * wall_s),
            "pipeline.plan_extraction.shuffle_write_mb":
                sum(s["shuffleWriteBytes"] for s in stages.values()) / 1e6,
            "pipeline.plan_extraction.shuffle_read_mb":
                sum(s["shuffleReadBytes"] for s in stages.values()) / 1e6,
            "pipeline.plan_extraction.arrow_sent_mb":
                node_metric(ext_node, "data sent to Python workers") / 1e6,
            "pipeline.plan_extraction.arrow_recv_mb":
                node_metric(ext_node, "data returned from Python workers") / 1e6,
            "pipeline.plan_extraction.py_init_s":
                node_metric(ext_node, "time to initialize Python workers"),
            "pipeline.plan_extraction.executor_cpu_s":
                sum(s["executorCpuTime"] for s in stages.values()) / 1e9,
            "pipeline.plan_extraction.gc_s":
                sum(s["jvmGcTime"] for s in stages.values()) / 1e3,
        }
        # 0 when the job reads no WARC files (the page workloads)
        busy_s = records = mb_in = 0.0
        if len(arrow_nodes) > 1:
            warc_node = arrow_nodes[-1]
            warc_stage = stages[_sql_stage(warc_node)]
            busy_s = warc_stage["executorRunTime"] / 1e3
            records = node_metric(warc_node, "number of output rows")
            mb_in = warc_stage["inputBytes"] / 1e6
        out["sources.warc.explode_warc.busy_s"] = busy_s
        out["sources.warc.explode_warc.records_out"] = records
        out["sources.warc.explode_warc.mb_in"] = mb_in
        return out
