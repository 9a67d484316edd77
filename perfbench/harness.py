"""Session lifecycle, memory sampling and the traced-run recorder.

The benchmark only calls the program's public functions; everything in
this module observes from the outside:

* :class:`Engine` builds the session through ``session.build_session`` and
  times set-up (build + first trivial job), restarts the SparkContext for
  the ``local[1]`` baseline and samples driver + JVM resident memory.
* :class:`Tracer` keeps spans in memory (name, start, end, parent, run id)
  around the calls into each layer, tags every Spark job launched inside a
  span with a job group, and reads Spark's own counters afterwards from the
  application status store, the Catalyst phase tracker and streaming
  progress events. Disabled, every method is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import resource
import statistics
import tempfile
import time

#: session confs the benchmark adds on top of ``build_session``'s own: keep
#: the status store large enough to hold a whole run's jobs, keep every
#: streaming progress event, and keep the console free of progress bars
BENCH_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for an empty sample."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)])


class Engine:
    """One local Spark session with timed set-up and memory sampling."""

    def __init__(self, cores: int, scratch: str) -> None:
        self.cores = cores
        self.spark = None
        self._jvm_rss_kb = 0
        # keep Spark's and the JVM's temporary files inside ``scratch``
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = tmp
        self.conf = dict(BENCH_CONF)
        self.conf["spark.local.dir"] = tmp
        self.conf["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}")

    def _build(self, cores: int):
        from ingestion_scripts_spark.session import build_session

        spark = build_session(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=self.cores, extra_conf=self.conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # the first trivial job
        return spark

    def start(self) -> float:
        """Launch the JVM and build the first session; returns seconds."""
        t0 = time.perf_counter()
        self.spark = self._build(self.cores)
        return time.perf_counter() - t0

    def setup_samples(self, n: int) -> list[float]:
        """Stop and rebuild the session ``n`` times in the running JVM,
        timing ``build_session`` plus the first trivial job each time."""
        out = []
        for _ in range(n):
            self.sample_rss()
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._build(self.cores)
            out.append(time.perf_counter() - t0)
        return out

    def restart(self, cores: int) -> None:
        self.sample_rss()
        self.spark.stop()
        self.spark = self._build(cores)

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {"spark": self.spark.version,
                "java": jvm.java.lang.System.getProperty("java.version")}

    def sample_rss(self) -> None:
        """Fold the JVM's current high-water mark into the run's peak."""
        if self.spark is None:
            return
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(("VmHWM:", "VmRSS:")):
                    self._jvm_rss_kb = max(self._jvm_rss_kb, int(line.split()[1]))

    def retained_mb(self) -> float:
        """Python peak RSS plus the JVM's live heap after a full GC and its
        class metadata: the memory the run still holds, without the heap
        headroom the collector happened to keep or the JIT's code cache."""
        jvm = self.spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        # the first collection only queues what Spark's ContextCleaner
        # frees (shuffles, broadcasts, checkpoints); the second reclaims it
        # (one collection left 200-435 MB live where two left 154-172 MB)
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        jvm_bytes = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getName() in ("Metaspace", "Compressed Class Space"):
                jvm_bytes += pool.getUsage().getUsed()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return py_kb / 1024.0 + jvm_bytes / float(1 << 20)

    def peak_rss_mb(self) -> float:
        self.sample_rss()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + self._jvm_rss_kb) / 1024.0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class Tracer:
    """In-memory spans plus Spark counters per span (see module doc)."""

    def __init__(self, engine: Engine, run_id: str, enabled: bool) -> None:
        self.engine = engine
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self._listener = None

    @property
    def spark(self):
        return self.engine.spark

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(self._group(sid), name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(self._group(parent), self.spans[parent]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _group(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    # -- spans -------------------------------------------------------------
    def descendants(self, sid: int) -> list[int]:
        out, frontier = [sid], {sid}
        for s in self.spans[sid + 1:]:
            if s["parent"] in frontier:
                out.append(s["id"])
                frontier.add(s["id"])
        return out

    def durations(self, name: str, within: list[int] | None = None) -> list[float]:
        ids = set(within) if within is not None else None
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (ids is None or s["id"] in ids)]

    def job_ids(self, span_ids) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        out: list[int] = []
        for sid in span_ids:
            out.extend(tracker.getJobIdsForGroup(self._group(sid)) or [])
        return out

    # -- Spark's own counters ------------------------------------------------
    def counters(self, job_ids) -> dict:
        """Jobs, stages, tasks, executor run time, GC, shuffle and spill for
        ``job_ids``, summed over the completed stages of those jobs (a stage
        shared by two jobs is counted once) from the app status store."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        seen: set[int] = set()
        c = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
             "spark.executor_run_s": 0.0, "spark.gc_s": 0.0,
             "spark.shuffle_write_bytes": 0, "spark.shuffle_read_bytes": 0,
             "spark.spill_bytes": 0}
        for jid in job_ids:
            c["spark.jobs"] += 1
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks()
                c["spark.executor_run_s"] += st.executorRunTime() / 1000.0
                c["spark.gc_s"] += st.jvmGcTime() / 1000.0
                c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def all_job_ids(self) -> set[int]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        out = set()
        while it.hasNext():
            out.add(it.next().jobId())
        return out

    @staticmethod
    def catalyst_phases(df) -> dict:
        """Analysis / optimization / planning seconds of ``df``'s query
        execution, forcing planning first (the tracker only records the
        phases that have run)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    # -- streaming progress ------------------------------------------------
    def listen(self) -> None:
        """Attach a ``StreamingQueryListener`` collecting every progress."""
        if not self.enabled or self._listener is not None:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "progress": self.progress}, f)
