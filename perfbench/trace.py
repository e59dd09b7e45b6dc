"""Per-layer tracing for the benchmark, recorded from the benchmark's own
calls into the engine's public functions.

A span records name, layer, start, end and parent id. In a traced pass
every span runs its Spark jobs under its own job group, so the status
store attributes stages (run/CPU time, shuffle, spill, task quantiles)
to the span, and the pandas-UDF profiler (`spark.sql.pyspark.udf.profiler
= perf`) attributes Python time. Spark is lazy, so a traced layer call
ends at an action on its output (`settle`: persist + count); untraced
passes keep the engine's fused plans and record nothing.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls = 0
        self._stack: list[int] = []
        self._cached = []

    @contextmanager
    def span(self, name: str, layer: str):
        """One call into a layer. Counts the call; when tracing, records
        the span under a job group named after its id."""
        self.calls += 1
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "layer": layer, "group": f"perfbench-span-{sid}"}
        self.spans.append(rec)
        self.spark.profile.clear()
        sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["udf_python_s"] = sum(
                st.total_tt for st in self.spark._profiler_collector._perf_profile_results.values()
            )
            if parent is not None:
                sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def settle(self, df):
        """Traced: persist and count df so the span ends at its output.
        Untraced: return df unchanged (the engine's lazy plan)."""
        if not self.enabled:
            return df
        df = df.persist()
        rows = df.count()
        if self._stack:
            self.spans[self._stack[-1]]["rows"] = rows
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ---- post-pass: ledger from spans + status store -------------------

    def _jobs_by_group(self) -> dict[str, list[list[int]]]:
        """Stage ids of every job, per job group of this tracer."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out: dict[str, list] = {s["group"]: [] for s in self.spans}
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() in out:
                ids = job.stageIds()
                out[grp.get()].append([ids.apply(i) for i in range(ids.length())])
        return out

    def _stage(self, store, stage_id: int, quantiles) -> dict | None:
        sd = store.lastStageAttempt(stage_id)
        if sd.numCompleteTasks() == 0:  # skipped: reused shuffle output
            return None
        rec = {
            "stage": stage_id,
            "tasks": sd.numCompleteTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "shuffle_read_mb": sd.shuffleReadBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "spill_mb": sd.diskBytesSpilled() / MB,
        }
        summary = store.taskSummary(stage_id, sd.attemptId(), quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            rec["task_p50_s"], rec["task_p95_s"], rec["task_max_s"] = (rt.apply(i) / 1e3 for i in range(3))
        return rec

    def ledger(self) -> dict:
        """Every span with its wall, self time, jobs and stages. Span 0 is
        the pass itself: its self time is the time outside any layer."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        quantiles = sc._gateway.new_array(sc._jvm.double, 3)
        for i, q in enumerate((0.5, 0.95, 1.0)):
            quantiles[i] = q
        by_group = self._jobs_by_group()
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["wall_s"]
        for s in self.spans:
            jobs = by_group[s["group"]]
            s["jobs"] = len(jobs)
            stages = (self._stage(store, sid, quantiles) for sid in sorted({i for j in jobs for i in j}))
            s["stages"] = [st for st in stages if st is not None]
        return {"spans": self.spans}


def sum_stage(spans: list[dict], key: str, names=None, layers=None) -> float:
    return sum(
        st[key]
        for s in spans
        if (names is None or s["name"] in names) and (layers is None or s["layer"] in layers)
        for st in s["stages"]
    )


def self_time(spans: list[dict], name: str) -> float:
    return sum(s["self_s"] for s in spans if s["name"] == name)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc every `interval` seconds:
    the largest sum of the tree's VmRSS seen in any one sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.root: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self, root_pid: int) -> None:
        self.root = root_pid
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        """The root and its Python descendants. Other children (the short
        shell commands the JVM runs while writing files) are left out:
        between fork and exec they carry the JVM's whole image."""
        children: dict[int, list[tuple[int, str]]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append((int(entry), comm))
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(c for c, comm in children.get(pid, ()) if comm.startswith("python"))
        return tree

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        total += next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")) * 1024
                except (OSError, StopIteration):
                    continue
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)
