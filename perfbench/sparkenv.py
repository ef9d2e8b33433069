"""Session set-up, cold-state reset and readers for Spark's own status
stores. Everything here goes through public ``fegis_spark`` calls or
Spark's status APIs; nothing under ``fegis_spark/`` is patched.

Status reads go through one Jackson serialisation on the JVM side
(one py4j round trip per read, however many stages there are).
``spark.ui.enabled=false`` leaves both stores populated.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field


def configure_env(work_dir: str, cpus: int, driver_mem: str) -> None:
    """Environment for the JVM that ``get_spark`` will launch: core
    count and heap through the program's own variables, and every
    scratch path (block manager, shuffle, JVM and Python temp files,
    warehouse) inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # keep every job/stage/execution of a run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # no hsperfdata file in the system temp directory
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def start_session():
    """The program's session factory, as bench.py and the tests use it."""
    from fegis_spark.session import configure_for_oracle, get_spark

    return configure_for_oracle(get_spark("fegis_perfbench"))


def jvm_pid(root) -> int:
    return int(root._jvm.ProcessHandle.current().pid())


def cache_entries(root) -> int:
    """Relations registered in the shared CacheManager right now."""
    return int(root._jsparkSession.sharedState().cacheManager().cachedData().size())


def cold_session(root):
    """Reset all query state an earlier sample could leave behind and
    return a fresh session: persisted relations (clearCache), the bm25 /
    query-vector driver memos, and the table memo that lives on the
    session object (dropped with the old session)."""
    from fegis_spark.operators.bm25 import clear_memos
    from fegis_spark.session import configure_for_oracle

    root.catalog.clearCache()
    clear_memos()
    return configure_for_oracle(root.newSession())


def sentinel_s(root) -> float:
    """Fixed CPU-bound job (no I/O, no data dependence): its wall time
    moves only with the cores the host gives us. One untimed run to
    compile it, then the median of 3."""
    job = root.range(10_000_000).selectExpr("bit_xor(xxhash64(id)) AS h")
    job.write.format("noop").mode("overwrite").save()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        job.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[1]


@dataclass
class StageTotals:
    """Sums over a set of completed stages (executor-side work)."""

    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: largest StageData.peakExecutionMemory: Spark sums each task's
    #: peak over the stage, so this grows with the task count
    peak_exec_mem_bytes: int = 0


@dataclass
class PlanTotals:
    """Per-operator facts from the SQL status store, on the executed
    plan after AQE."""

    executions: int = 0
    exchanges: int = 0
    python_rows: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    nodes: dict[str, int] = field(default_factory=dict)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]+)?")


def metric_total(text: str) -> float:
    """Total of one SQL metric as Spark formats it: a bare count
    ('5,000'), a size ('126.0 B'), a time ('24 ms'), or the
    'total (min, med, max ...)\\n<total> (...)' form. Sizes come back in
    bytes and times in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


class Status:
    """Reads Spark's AppStatusStore (stages) and SQLAppStatusStore
    (executions, plan graphs, operator metrics) for one SparkContext."""

    def __init__(self, root):
        jvm = root._jvm
        self._jvm = jvm
        self._gw = root.sparkContext._gateway
        self._sc = root.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = root._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module
        )

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect all work finished so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next stage id, next SQL execution id): everything at or
        above the mark is new."""
        self.drain()
        return int(self._sc.dagScheduler().nextStageId()), self.next_execution_id()

    def next_execution_id(self) -> int:
        self.drain()
        n = int(self._sql.executionsCount())
        if n == 0:
            return 0
        last = json.loads(self._mapper.writeValueAsString(self._sql.executionsList(n - 1, 1)))
        return last[0]["executionId"] + 1

    def _graph(self, eid: int) -> tuple[list[dict], dict]:
        nodes = json.loads(self._mapper.writeValueAsString(self._sql.planGraph(eid).allNodes()))
        values = json.loads(self._mapper.writeValueAsString(self._sql.executionMetrics(eid)))
        return nodes, values

    def stages_since(self, first_stage: int) -> StageTotals:
        self.drain()
        jl = self._jvm.java.util.ArrayList
        raw = self._store.stageList(jl(), False, False, self._gw.new_array(self._jvm.double, 0), jl())
        out = StageTotals()
        for s in json.loads(self._mapper.writeValueAsString(raw)):
            if s["stageId"] < first_stage or s["status"] != "COMPLETE":
                continue
            out.stages += 1
            out.tasks += s["numCompleteTasks"]
            out.run_s += s["executorRunTime"] / 1e3
            out.cpu_s += s["executorCpuTime"] / 1e9
            out.gc_s += s["jvmGcTime"] / 1e3
            out.shuffle_read_bytes += s["shuffleReadBytes"]
            out.shuffle_write_bytes += s["shuffleWriteBytes"]
            out.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            out.peak_exec_mem_bytes = max(out.peak_exec_mem_bytes, s["peakExecutionMemory"])
        return out

    def plans_since(self, first_execution: int) -> PlanTotals:
        """Operator facts of every SQL execution at or above the mark.
        The plan graph is the final one: AQE updates it as stages
        re-plan, so reused and coalesced exchanges show as executed."""
        self.drain()
        out = PlanTotals()
        for eid in range(first_execution, self.next_execution_id()):
            out.executions += 1
            nodes, values = self._graph(eid)
            for n in nodes:
                name = n["name"]
                out.nodes[name] = out.nodes.get(name, 0) + 1
                if name in ("Exchange", "BroadcastExchange"):
                    out.exchanges += 1
                if "Python" not in name:
                    continue
                for m in n["metrics"]:
                    text = values.get(str(m["accumulatorId"]))
                    if text is None:
                        continue
                    v = metric_total(text)
                    if m["name"] == "number of output rows":
                        out.python_rows += int(v)
                    elif m["name"] == "data sent to Python workers":
                        out.python_bytes_sent += int(v)
                    elif m["name"] == "data returned from Python workers":
                        out.python_bytes_received += int(v)
        return out


class Py4jCounter:
    """Counts py4j round trips from this process by wrapping the gateway
    client's send_command (the one path every JVM call takes)."""

    def __init__(self, root):
        self._client = root.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted


def descendants(pid: int) -> list[int]:
    """Live processes below ``pid``."""
    kids = _proc_children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python worker processes under the
    JVM (the pyspark daemon and its forked workers, live ones plus the
    reaped ones the daemon has accounted for)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def program_pids(jvm_pid: int) -> list[int]:
    """The JVM and the Python worker processes under it."""
    return [jvm_pid, *descendants(jvm_pid)]


def reset_peak_rss(jvm_pid: int) -> None:
    """Reset the resident-set high-water mark (VmHWM) of the program's
    processes to their current RSS."""
    for pid in program_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_bytes(jvm_pid: int) -> int:
    """Sum of VmHWM over the program's live processes: the JVM's peak
    since the last reset plus each Python worker's."""
    total = 0
    for pid in program_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
