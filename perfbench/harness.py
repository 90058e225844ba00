"""Benchmark machinery shared by every workload: deployment settings,
the Spark session's lifecycle, host facts, Spark counters per call, and
the span recorder of the traced run.

Nothing here changes the engine: settings reach the package only
through the environment variables and session config that its public
``session.get_spark`` already reads.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
from contextlib import contextmanager

# Deployment settings of every run (perfbench/README.md). The package's
# 48g heap default exceeds a 15 GB host; local mode runs every
# task inside this heap, and 2g holds every workload's working set.
DRIVER_MEM = "2g"


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def configure(root: str) -> dict:
    """Set the process environment the Spark session is built from.
    Everything the run writes stays under ``<root>/.bench_work``."""
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.pop("OMP_NUM_THREADS", None)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # Python workers unpickle the package's Arrow/pandas UDFs
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap from the start, touched once: heap growth and
        # how many G1 regions a short run happens to touch otherwise move
        # peak RSS (by about 300 MB in one run of ten) and GC pauses
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']}"
        ),
    }
    return {"env": env, "conf": conf, "work": work, "data": dirs["data"]}


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"nproc": ncpu(), "mem_total_mb": mem_kb // 1024, "loadavg_1m": load1}


def cpu_ticks() -> dict:
    """Host-wide busy, idle and steal ticks since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1])
    return 0


class Engine:
    """One Spark session for the whole run, started and stopped here."""

    def __init__(self, conf: dict):
        from elasticsearch_assets_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> dict:
        """Peak resident set of the Spark JVM and of this process."""
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"jvm": _vm_hwm_kb(self.jvm_pid) / 1024.0, "bench": own_kb / 1024.0}

    def canary_s(self) -> float:
        """Host canary: the allocation-heavy ``cpu_probe`` shape of
        bench.py (md5 over 1M per-row strings on two partitions).
        Disclosed beside the metrics; no run is dropped because of it."""
        t0 = time.perf_counter()
        self.spark.range(0, 1_000_000, 1, 2).selectExpr(
            "max(md5(cast(id AS string))) AS h"
        ).collect()
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and wait until the JVM has exited."""
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)


class Counters:
    """Spark counters of the jobs a call ran, read from the status store
    (it is kept with ``spark.ui.enabled=false``). The benchmark drives
    one call at a time, so a call's jobs are exactly the job ids issued
    between its start and its end, including jobs the engine launches
    from its own threads."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        return int(self._sc.dagScheduler().nextJobId())

    def since(self, first: int) -> dict:
        self._drain()
        last = int(self._sc.dagScheduler().nextJobId())
        store = self._sc.statusStore()
        out = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "output_bytes",
                "input_rows",
            ),
            0,
        )
        seen: set[int] = set()
        for jid in range(first, last):
            try:
                job = store.job(jid)
            except Exception:  # evicted from the store: not counted
                continue
            out["jobs"] += 1
            for s in job.stageIds().mkString(",").split(","):
                if not s or int(s) in seen:
                    continue
                seen.add(int(s))
                try:
                    st = store.lastStageAttempt(int(s))
                except Exception:
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                out["task_cpu_s"] += int(st.executorCpuTime()) / 1e9
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                out["spill_bytes"] += int(st.diskBytesSpilled())
                out["output_bytes"] += int(st.outputBytes())
                out["input_rows"] += int(st.inputRecords())
        return out


class Tracer:
    """Spans around the benchmark's calls into the engine's layers.

    Disabled, ``span`` costs one generator step and records nothing.
    Enabled, each span keeps its name, start, end, parent span and
    attributes (query or batch id), plus the Spark counters of the call.
    Spans stay in memory; the run writes them out at its end. Time spent
    reading counters is outside every span and summed in
    ``bookkeeping_s``."""

    def __init__(self, counters: Counters | None):
        self.enabled = counters is not None
        self._counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0
        self.phase = "loop"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        tb = time.perf_counter()
        first = self._counters.mark()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - tb
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t0, t1
            rec["spark"] = self._counters.since(first)
            self.bookkeeping_s += time.perf_counter() - t1

    def done(self, name: str, phase: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s
            and (phase is None or s["phase"] == phase)
        ]

    def self_times(self) -> dict[int, float]:
        """Span time minus the part of it that child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_table(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, median call."""
        selfs = self.self_times()
        table: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            row = table.setdefault(
                s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "_d": []}
            )
            d = s["end"] - s["start"]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += selfs[s["id"]]
            row["_d"].append(d)
        for row in table.values():
            row["p50_s"] = statistics.median(row.pop("_d"))
        return table


def p50(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile of a non-empty sample."""
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))])


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total
