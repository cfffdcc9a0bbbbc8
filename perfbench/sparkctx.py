"""Spark session sized to this machine, per-operation job/task/shuffle
counts for the traced run, and a shutdown that waits for the JVM."""

from __future__ import annotations

import json
import os
import subprocess
import time
import urllib.request
from typing import Dict, List

from perfbench import procinfo


def driver_memory_mb() -> int:
    """A quarter of the machine's memory, at most 1 GiB: the inputs are a
    few tens of MB and the machine is shared. With a 2 GiB cap the JVM's
    resident memory ranged over 1.4-2.0 GB from run to run, as the
    collector grew the heap more or less far."""
    return min(1024, procinfo.mem_total_bytes() // 4 // (1 << 20))


def build_session(run_dir: str, root: str, trace: bool):
    """``local[nproc]`` session whose scratch files all stay under
    ``run_dir``. The web UI (and with it the monitoring REST API) is on
    only in the traced run."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers are forked by the JVM from a fresh interpreter: they find the
    # engine through PYTHONPATH, and their temp files through TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    n = procinfo.nproc()
    # The settings of the engine's own launch path (bench.py), sized to
    # this machine; everything else is Spark's default.
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.port", "0")
    )
    return builder.getOrCreate()


def shutdown(spark) -> None:
    """Stop the context, close the py4j gateway and wait for the JVM (and,
    through it, the Python workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    procinfo.reap_children()


class JobCounter:
    """Jobs, tasks, shuffle-write and spill bytes of the Spark work done
    under one job group: counts from ``statusTracker``, bytes from the
    monitoring REST API (traced run only, where the UI is on)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui = self.sc.uiWebUrl
        self.app_id = self.sc.applicationId

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> Dict[str, int]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: List[int] = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.extend(info.stageIds)
        stages = self._stages(set(stage_ids))
        tasks = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return {
            "jobs": len(job_ids),
            "tasks": tasks,
            "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            ),
        }

    def _stages(self, ids: set) -> List[Dict]:
        """Stage records for ``ids`` from the REST API. The status store is
        fed asynchronously, so poll briefly until every stage has reached
        a final state."""
        if not ids or not self.ui:
            return []
        url = f"{self.ui}/api/v1/applications/{self.app_id}/stages"
        final = {"COMPLETE", "SKIPPED", "FAILED"}
        deadline = time.monotonic() + 10
        while True:
            with urllib.request.urlopen(url, timeout=10) as r:
                rows = [s for s in json.load(r) if s["stageId"] in ids]
            done = {s["stageId"] for s in rows if s["status"] in final}
            if done >= ids or time.monotonic() > deadline:
                return rows
            time.sleep(0.05)
