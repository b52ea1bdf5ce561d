"""Spark session lifecycle and driver-side attribution of Spark actions.

``start_spark`` runs Spark on ``local[nproc]`` with every scratch
directory inside the run's work directory; ``stop_spark`` waits for the
JVM to exit.  ``Attributor`` runs one action under its own job group and
reads the driver's status store and query-planning tracker to split its
wall time into build, Catalyst, pre-job and executor time.
"""

from __future__ import annotations

import os
import sys
import time

FIELDS = (
    "build_ms",
    "catalyst_ms",
    "pre_job_ms",
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_bytes",
    "spill_bytes",
    "coordination_ms",
)

_now = time.perf_counter


def start_spark(workdir: str):
    """Spark on local[nproc] with every temp dir inside ``workdir``, and
    ``format("shardpack")`` registered."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(workdir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    from shardpack_spark.format.datasource import register
    from shardpack_spark.session import get_spark

    spark = get_spark("perfbench_spark_format")
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Attributor:
    """Runs actions under per-action job groups and attributes each one."""

    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.n = 0

    def run(self, label: str, build, act, tracer=None) -> tuple[object, float, dict | None]:
        """``build()`` makes the DataFrame or writer, ``act(obj)`` runs the
        action.  Returns (result, seconds spent in ``act``, attribution).
        Without a tracer nothing but the action's time is recorded and the
        attribution is None; with one, the action gets ``<label>``,
        ``<label>.build`` and ``<label>.action`` spans."""
        if tracer is None:
            obj = build()
            t1 = _now()
            result = act(obj)
            return result, _now() - t1, None
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, label)
        frame = tracer.begin(label)
        b = tracer.begin(f"{label}.build")
        t0 = _now()
        obj = build()
        t1 = _now()
        tracer.end(b)
        a = tracer.begin(f"{label}.action")
        wall0 = time.time()
        try:
            result = act(obj)
        finally:
            t2 = _now()
            tracer.end(a)
            tracer.end(frame)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return result, t2 - t1, self.attribute(group, obj, (t1 - t0) * 1e3, (t2 - t1) * 1e3, wall0)

    def attribute(self, group, obj, build_ms, action_ms, wall0) -> dict:
        """Driver-side attribution of one action from the status store."""
        sc = self.sc
        jvm, store = sc._jvm, sc._jsc.sc().statusStore()
        phases_ms = 0.0
        jdf = getattr(obj, "_jdf", None) or getattr(getattr(obj, "_df", None), "_jdf", None)
        if jdf is not None:
            phases = jdf.queryExecution().tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                p = phases.get(name)
                if p.isDefined():
                    phases_ms += p.get().durationMs()
        out = dict.fromkeys(FIELDS, 0.0)
        out.update(build_ms=build_ms, catalyst_ms=phases_ms)
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        first_submit = None
        critical_ms = 0.0
        cores = os.cpu_count()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for jid in job_ids:
            job = store.job(jid)
            sub = job.submissionTime()
            if sub.isDefined():
                ms = sub.get().getTime()
                first_submit = ms if first_submit is None else min(first_submit, ms)
            sids = job.stageIds()
            for k in range(sids.size()):
                attempts = store.stageData(int(sids.apply(k)), False, no_status, False, no_quantiles)
                for j in range(attempts.size()):
                    st = attempts.apply(j)
                    if (
                        st.numCompleteTasks() == 0
                        and st.numTasks() > 0
                        and not st.completionTime().isDefined()
                    ):
                        continue  # skipped stage: its output was reused
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["executor_run_ms"] += st.executorRunTime()
                    out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    critical_ms += st.executorRunTime() / max(1, min(st.numTasks(), cores))
        out["jobs"] = len(job_ids)
        out["pre_job_ms"] = first_submit - wall0 * 1e3 if first_submit is not None else action_ms
        out["coordination_ms"] = action_ms - critical_ms
        return out

    def session_state(self) -> dict:
        """Cached bytes and temporary views left in the session."""
        storage_info = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "cached_bytes_after_query": sum(i.memSize() + i.diskSize() for i in storage_info),
            "temp_views_after_query": sum(
                1 for tb in self.spark.catalog.listTables() if tb.isTemporary
            ),
        }
