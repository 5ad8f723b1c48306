"""Benchmark of the goribot_spark crawl engine and corpus pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_live --seed 1 --seconds 5 --trace 0

Workloads: ``crawl_live`` (crawl.py) and ``corpus_dedup`` (corpus.py). Each
run starts one Spark session on ``local[<nproc>]``, generates its inputs from
``--seed`` (cached under ``.perfbench_work/``, outside every timed region),
warms up on the cold JVM (counted in ``setup_s``), measures, checks the
outputs, and prints a human-readable report followed by one JSON line. With
``--trace 0`` the JSON holds the end-to-end metrics; with ``--trace 1`` it
holds the per-layer metrics instead (spans.py; the crawl runs one more,
traced crawl).

The gated throughputs are items per CPU-second of the benchmark's process
tree (driver, JVM and Python workers; not the fixture server, not the JVM's
JIT and GC threads) over the measured region. On a shared host, time the
hypervisor steals from a vCPU stalls Spark's many small hand-offs: at
20-30% steal the same wave or pass took 2-2.5 times its wall, while its CPU
time grew far less. The wall-clock throughputs are printed in the report
beside them, ungated.

Everything the run writes (inputs, crawl state, Spark local dirs, temp files)
stays under ``.perfbench_work/`` in the directory it is started from.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import tempfile
import threading
import time

from corpus import QUERIES as CORPUS_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler and garbage collector threads, by name prefix
_JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")

WORKLOADS = ("crawl_live", "corpus_dedup")

END_TO_END = {
    "setup_s": "s",
    "items_per_cpu_s": "1/s",
    "images_per_cpu_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "engine.self_s": "s",
    "engine.waves": "count",
    "operators.politeness.select_s": "s",
    "operators.politeness.self_s": "s",
    "operators.politeness.scheduled": "count",
    "operators.politeness.deferred": "count",
    "operators.fetch.fetch_s": "s",
    "operators.fetch.self_s": "s",
    "operators.fetch.requests": "count",
    "operators.fetch.failed": "count",
    "operators.fetch.ok_ratio": "ratio",
    "operators.fetch.robots_fetches": "count",
    "operators.parse.parse_s": "s",
    "operators.parse.self_s": "s",
    "operators.parse.pages": "count",
    "operators.parse.parse_errors": "count",
    "operators.discover.candidates_s": "s",
    "operators.discover.self_s": "s",
    "operators.discover.links_out": "count",
    "operators.admission.admit_s": "s",
    "operators.admission.self_s": "s",
    "operators.admission.admitted": "count",
    "operators.admission.yield": "ratio",
    "operators.admission.robots_dropped": "count",
    "functions.imaging.decode_s": "s",
    "functions.imaging.self_s": "s",
    "functions.imaging.images": "count",
    "functions.imaging.decode_errors": "count",
    "functions.imaging.bytes_in": "bytes",
    "sources.store.write_s": "s",
    "sources.store.self_s": "s",
    "sources.store.bytes_written": "bytes",
    "sources.store.files_written": "count",
    "sources.store.commit_s": "s",
    "sources.store.read_s": "s",
    "sources.store.dirs_read": "count",
    **{f"functions.corpus.{q}_s": "s" for q in CORPUS_QUERIES},
    "functions.corpus.pairs_out": "count",
    "trace.self_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


class ProcessTreeMemory:
    """Peak memory of this process and its descendants (the JVM and its
    Python workers): the sum of their resident set sizes, sampled from
    /proc/<pid>/statm. Pages the forked Python workers share count once per
    process. (The proportional set size would count them once, but reading
    it walks the JVM's page tables for ~30 ms under its memory-map lock,
    competing with the measured work.) Processes in ``exclude`` (the benchmark's own
    fixture servers) and their children are left out.

    ``cpu_s()`` is the CPU time the same tree has used so far, without the
    JVM's JIT compiler and garbage collector threads and the sampler thread.
    Time the hypervisor steals from a vCPU is not charged to the thread that
    was running on it, so CPU time per item moves far less than wall time
    when neighbours on the host slow the machine down; JIT and GC time are
    left out because how much of it lands in a measured region depends on
    how far the JVM's warm-up has got, not on the measured work (in two
    crawls of one JVM, the Python workers took 12.0 and 12.2 CPU-seconds,
    JIT and GC threads 14.0 and 4.9)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._sampler_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def descendants(self) -> set[int]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                kids.setdefault(ppid, []).append(int(name))
        out, todo = set(), [os.getpid()]
        while todo:
            for k in kids.get(todo.pop(), []):
                if k not in self.exclude and k not in out:
                    out.add(k)
                    todo.append(k)
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * _PAGE_KB
        except OSError:
            return 0

    @staticmethod
    def _cpu_ticks(pid: int) -> int:
        """utime + stime + cutime + cstime: a worker that exits is reaped
        by its parent and its time moves to the parent's cutime."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return sum(map(int, f.read().rsplit(")", 1)[1].split()[11:15]))
        except OSError:
            return 0

    @staticmethod
    def _jvm_service_ticks(pid: int) -> int:
        """utime + stime of the JIT compiler and GC threads if ``pid`` is a
        JVM (the session starts it with a fixed number of compiler threads,
        so none exits and takes its time out of this sum)."""
        ticks = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if name.startswith(_JVM_SERVICE_THREADS):
                ticks += sum(map(int, stat.rsplit(")", 1)[1].split()[11:13]))
        return ticks

    def cpu_s(self) -> float:
        ticks = 0
        for pid in {os.getpid(), *self.descendants()}:
            ticks += self._cpu_ticks(pid)
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        ticks -= self._jvm_service_ticks(pid)
            except OSError:
                pass
        return ticks / _CLK_TCK - self._sampler_cpu

    def _sample(self) -> None:
        total = sum(self._rss_kb(p) for p in {os.getpid(), *self.descendants()})
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t = time.thread_time()
            self._sample()
            self._sampler_cpu += time.thread_time() - t

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, work: str, cpus: int, memory: ProcessTreeMemory):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.exclude_pids = memory.exclude
        self.cpu_s = memory.cpu_s
        self.spark = None

    def start_session(self):
        """Start the Spark session through the program's own factory;
        returns (session, seconds taken)."""
        from goribot_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                    " -XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark, time.perf_counter() - t


def _prepare_env(work: str, cpus: int) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers import goribot_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # live fetches go straight to the loopback fixture servers
    os.environ["no_proxy"] = os.environ["NO_PROXY"] = "*"
    sys.path.insert(0, ROOT)


def _shutdown(ctx: Context, memory: ProcessTreeMemory, timeout: float = 60.0) -> None:
    """Stop the Spark session and its JVM, then wait until every process
    this run started has ended."""
    pids = memory.descendants()
    if ctx.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        ctx.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _running(p)}
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _fmt(v: float) -> str:
    return f"{v:.4f}" if abs(v) < 1000 else f"{v:.1f}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "goribot_spark")):
        print(f"goribot_spark not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work")
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(work, cpus)

    memory = ProcessTreeMemory()
    memory.start()
    ctx = Context(args, work, cpus, memory)
    try:
        if args.workload == "crawl_live":
            import crawl as workload
        else:
            import corpus as workload
        out = workload.run(ctx)
    finally:
        _shutdown(ctx, memory)
    peak_mb = memory.stop()

    setup = out["setup"]
    setup_s = sum(setup.values())
    metrics = dict(out["metrics"], setup_s=setup_s)
    failed_share = out["failed"] / out["attempted"]
    print(f"workload {args.workload}  seed {args.seed}  local[{cpus}]  "
          f"correct {out['correct']}  attempted {out['attempted']}  failed {out['failed']}")
    if out["failed_checks"]:
        print("failed checks: " + ", ".join(out["failed_checks"]))
    print(f"  setup_s          {_fmt(setup_s)} s  ("
          + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()) + ")")
    for name, value, unit, note in out["report"]:
        print(f"  {name:<16} {_fmt(value)} {unit}" + (f"  ({note})" if note else ""))
    print(f"  failed_share     {_fmt(failed_share)} ratio")
    print(f"  peak_rss_mb      {_fmt(peak_mb)} MB  (driver + JVM + Python workers, summed RSS)")

    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(out["layers"] or {})
        layers["session.start_s"] = setup["session_s"]
        for k in PER_LAYER:
            print(f"  {k:<44} {_fmt(layers[k])} {PER_LAYER[k]}")
        payload = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        payload = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": payload,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
