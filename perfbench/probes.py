"""Measurement probes the benchmark runs from outside the program.

* :class:`RssSampler` — peak resident memory of this process's child
  tree (the Spark driver JVM and its Python workers), read from /proc.
* :class:`Tracer` — in-memory spans around the benchmark's calls into
  the library; each span also names the Spark job group of the jobs it
  causes, so Spark's own jobs and stages can be parented to it later.
* :func:`harvest_spark` — jobs, stages, SQL executions and executor
  peaks from Spark's monitoring REST API (traced runs only; the UI is
  off in end-to-end runs).
* :class:`KernelPool` — the bare shade+encode kernel in N spawned
  processes, timed in the same run as the Spark numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces: fields resume after the last ')'
        state, ppid = stat[stat.rindex(b")") + 2 :].split()[:2]
        if state != b"Z":  # an exited child not yet reaped holds nothing
            kids.setdefault(int(ppid), []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid or os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant
    (the JVM's threads, the Python workers).  A reaped child's time
    moves into its parent's cutime/cstime, so it is counted once.  The
    kernel yardstick's processes are not alive while units run."""
    total = 0
    for pid, fields in ((os.getpid(), slice(11, 13)),
                        *((p, slice(11, 15)) for p in descendants())):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[fields])
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples, in a thread, the summed RSS of every descendant process
    (the driver JVM and the Python workers below it) and keeps the
    largest sums seen per interval (``take_peaks``).  ``cpu_s`` is the
    CPU the sampling thread itself has used, so callers can take it out
    of what they charge to the program."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = jvm = 0
        for pid in descendants():
            rss = _rss_bytes(pid)
            total += rss
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        jvm += rss
            except OSError:
                pass
        self.peak = {"total": max(self.peak["total"], total),
                     "jvm": max(self.peak["jvm"], jvm),
                     "python": max(self.peak["python"], total - jvm)}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
            self.cpu_s = time.thread_time()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def take_peaks(self) -> dict[str, float]:
        """Peak MB since the previous call (total, the JVM's part, the
        Python workers' part); the next interval starts from zero."""
        self.sample()
        peak, self.peak = self.peak, {"total": 0, "jvm": 0, "python": 0}
        return {k: v / 1e6 for k, v in peak.items()}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: name, start, end, parent, run id.  With
    ``enabled=False`` every call is a no-op, so the end-to-end path runs
    the same code with tracing off."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc = None  # SparkContext whose job group follows the stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start_ms": time.time() * 1e3, "end_ms": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1e3
            self._stack.pop()
            if self._stack:
                parent = self.by_id(self._stack[-1])
                self._set_group(parent["id"], parent["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, sid: str | None, name: str | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(sid, name or sid)

    def by_id(self, sid: str) -> dict:
        return self.spans[int(sid[1:])]

    def add(self, name: str, parent: str | None, start_ms: float,
            end_ms: float, **attrs) -> dict:
        """A finished span recorded after the fact (Spark jobs/stages)."""
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "run_id": self.run_id, "parent": parent,
               "start_ms": start_ms, "end_ms": end_ms, **attrs}
        self.spans.append(rec)
        return rec

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_ms``: duration minus the union of the
        intervals its children cover."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start_ms"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
                lo = max(c["start_ms"], cur_end)
                hi = min(c["end_ms"], s["end_ms"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "self_ms": (s["end_ms"] - s["start_ms"]) - covered})
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "run_id": self.run_id,
                       "spans": self.with_self_time()}, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark monitoring REST API
# ---------------------------------------------------------------------------

def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as resp:
        return json.load(resp)


def _epoch_ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


def _rest_base(spark) -> str:
    url = spark.sparkContext.uiWebUrl
    port = url.rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    return f"http://127.0.0.1:{port}/api/v1/applications/{app}"


def _number(text: str) -> float:
    """First number of a SQL metric value string ("8,812,345", "1.2 MiB
    (min …)" → 8812345, 1.2)."""
    head = text.strip().split()[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


_JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def harvest_spark(spark, tracer: Tracer) -> dict[str, dict]:
    """Attach Spark jobs and stages as child spans of the benchmark span
    whose job group caused them; return per-span Spark totals keyed by
    span id: stage list, largest band-join output, SQL executions."""
    base = _rest_base(spark)
    jobs = _get(base, "/jobs")
    stages = {(s["stageId"], s["attemptId"]): s
              for s in _get(base, "/stages?status=complete")}
    sql = _get(base, "/sql?details=true&planDescription=false&length=100000")
    # streaming micro-batch jobs carry the query's run id as job group
    stream_runs = {s["stream_run_id"]: s["id"] for s in tracer.spans
                   if s.get("stream_run_id")}
    span_ids = {s["id"] for s in tracer.spans}
    per_span: dict[str, dict] = {}
    job_owner: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup")
        owner = group if group in span_ids else None
        owner = owner or stream_runs.get(group)
        if owner is None:
            continue
        job_owner[job["jobId"]] = owner
        jspan = tracer.add(f"spark.job.{job['jobId']}", owner,
                           _epoch_ms(job.get("submissionTime")),
                           _epoch_ms(job.get("completionTime")),
                           kind="spark_job")
        acc = per_span.setdefault(owner, {"stages": [], "join_rows": 0.0})
        for sid in job.get("stageIds", []):
            st = stages.get((sid, 0))
            if st is None:  # skipped (reused shuffle) or retried stage
                continue
            acc["stages"].append(st)
            tracer.add(f"spark.stage.{sid}", jspan["id"],
                       _epoch_ms(st.get("submissionTime")),
                       _epoch_ms(st.get("completionTime")),
                       kind="spark_stage", name_detail=st.get("name", ""))
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        owner = next((job_owner[j] for j in ids if j in job_owner), None)
        if owner is None:
            continue
        for node in ex.get("nodes", []):
            if node.get("nodeName") not in _JOIN_NODES:
                continue
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    acc = per_span[owner]
                    acc["join_rows"] = max(acc["join_rows"], _number(m["value"]))
    return per_span


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "task_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
        "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6,
        "records_out": float(sum(s.get("shuffleWriteRecords", 0) for s in stages)),
    }


def map_and_reduce(stages: list[dict]) -> tuple[dict | None, dict | None]:
    """The hillshade map stage (the first that scans input and writes a
    shuffle) and its reduce stage (the first later one that reads a
    shuffle).  Later stages, such as an aggregate over the output, are
    neither."""
    stages = sorted(stages, key=lambda s: s["stageId"])
    m = next((s for s in stages if s.get("inputBytes", 0) > 0
              and s.get("shuffleWriteBytes", 0) > 0), None)
    r = m and next((s for s in stages if s["stageId"] > m["stageId"]
                    and s.get("shuffleReadBytes", 0) > 0), None)
    return m, r


def task_max_over_median(spark, stage: dict) -> float:
    """Slowest over median run time among the stage's non-empty tasks."""
    base = _rest_base(spark)
    tasks = _get(base, f"/stages/{stage['stageId']}/{stage['attemptId']}"
                       "/taskList?length=100000")
    times = [t["taskMetrics"]["executorRunTime"] for t in tasks
             if t.get("taskMetrics")
             and t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"] > 0]
    if not times or statistics.median(times) <= 0:
        return 0.0
    return max(times) / statistics.median(times)


def executor_peaks(spark) -> dict[str, float]:
    """Spark's own peak JVM heap (its process-tree Python RSS reads 0 in
    local mode, so the Python workers' peak comes from /proc instead)."""
    peak: dict[str, float] = {}
    for e in _get(_rest_base(spark), "/allexecutors"):
        for k, v in (e.get("peakMemoryMetrics") or {}).items():
            peak[k] = max(peak.get(k, 0.0), float(v))
    return {"mem.jvm_heap_peak_mb": peak.get("JVMHeapMemory", 0.0) / 1e6}


# ---------------------------------------------------------------------------
# bare-kernel yardstick
# ---------------------------------------------------------------------------

def _kernel_child(conn, padded, tile_x, tile_y, tile_size, script, level,
                  reps):
    from demeton_spark import codec, pipeline
    from demeton_spark.engine import shade_padded_block

    steps = pipeline.parse_script(script)
    rgba, _ = shade_padded_block(padded, tile_x, tile_y, tile_size, steps)
    codec.encode_rgba_png(rgba, level)  # first call: imports, allocator
    conn.send("ready")
    while conn.recv() == "go":
        for _ in range(reps):
            rgba, _ = shade_padded_block(padded, tile_x, tile_y, tile_size, steps)
            codec.encode_rgba_png(rgba, level)
        conn.send(reps)
    conn.close()


class KernelPool:
    """The bare shade+encode kernel on one tile in ``nproc`` spawned
    processes, kept waiting between rounds.  ``mpx_s()`` times one round
    (all processes start together; start-up is outside the clock), so a
    round can run right next to the Spark work it is the yardstick for."""

    def __init__(self, padded, tile_x: int, tile_y: int, tile_size: int,
                 script: str, level: int, nproc: int, reps: int):
        import multiprocessing

        ctx = multiprocessing.get_context("spawn")
        self.mpx = tile_size * tile_size / 1e6
        self.conns, self.procs = [], []
        for _ in range(nproc):
            here, there = ctx.Pipe()
            p = ctx.Process(target=_kernel_child,
                            args=(there, padded, tile_x, tile_y, tile_size,
                                  script, level, reps))
            p.start()
            there.close()
            self.conns.append(here)
            self.procs.append(p)
        for c in self.conns:
            if not c.poll(120) or c.recv() != "ready":
                self.close()
                raise RuntimeError("kernel yardstick worker did not start")

    def mpx_s(self) -> float:
        t0 = time.perf_counter()
        for c in self.conns:
            c.send("go")
        done = sum(c.recv() for c in self.conns)
        return done * self.mpx / (time.perf_counter() - t0)

    def close(self) -> None:
        for c in self.conns:
            try:
                c.send("stop")
            except OSError:  # the worker already ended
                pass
            c.close()
        for p in self.procs:
            p.join(timeout=60)
            if p.is_alive():
                p.kill()
                p.join()
        # spawn started multiprocessing's resource tracker; stop and reap
        # it now rather than leave it running until this process exits
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
