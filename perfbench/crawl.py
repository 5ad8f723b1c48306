"""The ``crawl_live`` workload: a live-HTTP re-crawl, stopped and resumed.

The engine re-crawls a seeded fixture graph served by ``fixture_server.py``
on one loopback address per host, with ``fetch_mode="live"``, ``robots=True``
and a per-host parallelism cap. Every page of the graph is a seed, as when a
known URL list is refreshed: the seed step fetches each host's robots.txt.
The first engine runs one wave under a global wave budget of
``FIRST_WAVE`` pages; that wave is the warm-up, on the cold JVM. Then the
engine is dropped and a fresh ``CrawlEngine`` without the budget resumes the
run directory, as a restarted job would, and runs to drain: one wave fetches
every remaining page and its images over real sockets, ranks each host's
pending rows against the cap, parses, discovers the links and drops them all
as already seen. The benchmark drives ``run_wave()`` in a loop until
``done`` (what ``run()`` does with its defaults) and stamps the wall clock
and the process tree's CPU time at every wave boundary. The gated
throughputs are per CPU-second of the resumed waves (``run.py`` says why);
the wall-clock ones are reported beside them.

Correctness is checked outside the timed region against an engine-independent
expectation: the reference simulator over the same fixture tables.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import inputs
from fixture_server import fixture_url, live_url

UA = "perfbench"
PARALLELISM_CAP = 5
SAMPLE_ROWS = 32
# Pages the first engine's one wave may fetch. That wave is the JVM's first
# and pays the cold start of every wave step; the resumed waves are measured.
FIRST_WAVE = 16

_HERE = os.path.dirname(os.path.abspath(__file__))


class FixtureServer:
    """``fixture_server.py`` in its own process, stopped on exit."""

    def __init__(self, fixtures_dir: str, work: str, threads: int):
        self.port_file = os.path.join(work, f"port_{os.path.basename(fixtures_dir)}")
        if os.path.exists(self.port_file):
            os.remove(self.port_file)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(_HERE, "fixture_server.py"),
             fixtures_dir, self.port_file, "--threads", str(threads)],
            stdin=subprocess.DEVNULL,
        )
        self.port = None

    def wait_ready(self, timeout: float = 60.0) -> int:
        deadline = time.monotonic() + timeout
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("fixture server did not start")
            time.sleep(0.05)
        with open(self.port_file) as f:
            self.port = int(f.read())
        return self.port

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def crawl_config(threads: int, wave_budget: int | None = None):
    from goribot_spark.engine import CrawlConfig
    from goribot_spark.operators.admission import LimitRule

    return CrawlConfig(
        fetch_mode="live",
        robots=True,
        retry_max=2,
        ua=UA,
        rules=[LimitRule("*", parallelism=PARALLELISM_CAP)],
        fetch_threads=threads,
        wave_budget=wave_budget,
    )


@dataclass
class CrawlRun:
    t0: float = 0.0  # first engine constructed from here
    resume_t0: float = 0.0  # first wave done; engine dropped, fresh one constructed
    t1: float = 0.0  # drained
    resume_s: float = 0.0  # second engine's construction through its first wave
    ends: dict[int, float] = field(default_factory=dict)  # wave -> end stamp
    waves: list[dict] = field(default_factory=list)  # resumed non-empty waves
    lags: list[float] = field(default_factory=list)
    engine: object = None


def crawl(spark, run_dir: str, seeds: list[str], threads: int, cpu_s,
          tracer=None) -> CrawlRun:
    """One crawl from seed to drain: seed and one budgeted wave, then a
    fresh engine without the budget resumes the run directory."""
    from goribot_spark.engine import CrawlEngine

    shutil.rmtree(run_dir, ignore_errors=True)
    run = CrawlRun(t0=time.perf_counter())
    eng = CrawlEngine(spark, None, run_dir, crawl_config(threads, FIRST_WAVE))
    if tracer is not None:
        tracer.wave = 0
    eng.seed(seeds)
    run.ends[eng.store.last_wave()] = time.perf_counter()
    if tracer is not None:
        tracer.wave = eng.store.last_wave() + 1
    r = eng.run_wave()
    run.resume_t0 = run.ends[r["wave"]] = time.perf_counter()
    if r["scheduled"] != FIRST_WAVE:
        raise RuntimeError(f"first wave scheduled {r['scheduled']} pages, not {FIRST_WAVE}")
    del eng
    eng = CrawlEngine(spark, None, run_dir, crawl_config(threads))
    while True:
        if tracer is not None:
            tracer.wave = eng.store.last_wave() + 1
        cw = cpu_s()
        tw = time.perf_counter()
        r = eng.run_wave()
        te = time.perf_counter()
        ce = cpu_s()
        if r.get("done"):
            break
        run.ends[r["wave"]] = te
        run.waves.append({"wave": r["wave"], "wall_s": te - tw, "cpu_s": ce - cw,
                          "scheduled": r["scheduled"], "images": r["images"]})
        if len(run.waves) == 1:
            run.resume_s = te - run.resume_t0
    run.t1 = time.perf_counter()
    run.engine = eng
    return run


def expected_crawl(fixtures_dir: str, seeds: list[str]):
    """The reference simulator's crawl of the fixture graph (fixture URLs)."""
    from goribot_spark.operators.admission import LimitRule
    from tests.reference_sim import simulate

    return simulate(
        fixtures_dir,
        seeds,
        rules=[LimitRule("*", parallelism=PARALLELISM_CAP)],
        retry_max=2,
        robots=True,
        ua=UA,
    )


def check_crawl(run: CrawlRun, expected, fixtures_dir: str, port: int,
                seed: int) -> tuple[list[str], dict]:
    """Compare a finished crawl with the expectation and fill in
    ``run.lags``. Returns (failed check names, counts)."""
    store = run.engine.store
    failed: list[str] = []

    # every scheduled fetch: consumed ⋈ frontier on the frontier key
    key = ["url_hash", "retry_count", "seq"]
    log = (
        store.read("consumed").select(*key, "wave")
        .join(store.read("frontier").select(*key, "url", "depth", "discovery_epoch"), key)
        .select("url", "depth", "retry_count", "wave", "discovery_epoch").collect()
    )
    got_fetches = Counter((fixture_url(r["url"], port), r["depth"], r["retry_count"])
                          for r in log)
    want_fetches = Counter((u, d, a) for u, d, a, _ok in expected.fetches)
    if got_fetches != want_fetches:
        failed.append("fetch_set")
    # wall time from the end of the wave that discovered a row to the end of
    # the wave that fetched it
    run.lags = [run.ends[r["wave"]] - run.ends[r["discovery_epoch"]] for r in log]

    results = store.read("results").select(
        "src_url", "image_id", "bytes", "w", "h", "phash", "caption", "decode_error"
    ).collect()
    image_id = [r["image_id"].rsplit("/img/", 1)[-1].removesuffix(".png") for r in results]
    got_items = Counter((fixture_url(r["src_url"], port), i) for r, i in zip(results, image_id))
    if got_items != Counter(expected.items):
        failed.append("item_set")

    n_errors = store.read("errors").count()
    if n_errors != len(expected.errors):
        failed.append("terminal_errors")

    # a seeded sample of result rows against the source images
    images = {r["image_id"]: r for r in pq.read_table(
        f"{fixtures_dir}/images.parquet").to_pylist()}
    rng = np.random.default_rng([seed, 3])
    picks = rng.choice(len(results), size=min(SAMPLE_ROWS, len(results)), replace=False)
    for i in map(int, picks):
        r, src = results[i], images.get(image_id[i])
        ok = (
            src is not None
            and r["decode_error"] is None
            and (r["w"], r["h"], r["phash"]) == (src["w"], src["h"], src["phash"])
            and r["caption"] == src["caption"]
            and bytes(r["bytes"]) == src["bytes"]
        )
        if not ok:
            failed.append(f"sample_row:{r['image_id']}")

    counts = {
        "checks": 3 + len(picks),
        "fetch_attempts": len(log),
        "images": len(results),
        "terminal_errors": n_errors,
        "decode_errors": sum(1 for r in results if r["decode_error"] is not None),
    }
    return failed, counts


def run(ctx) -> dict:
    """Run the workload; returns the report for ``run.py``.

    Set-up time counts the session start and the first crawl's seed step and
    first wave; the resumed waves of each crawl are what the metrics
    measure."""
    from spans import CrawlTracer

    work, seed, threads = ctx.work, ctx.seed, ctx.cpus
    fx = inputs.crawl_fixture(work, seed)
    pages = sorted(pq.read_table(f"{fx}/pages.parquet", columns=["url"]).column("url").to_pylist())
    expected = expected_crawl(fx, pages)
    run_dir = os.path.join(work, "run")
    server = FixtureServer(fx, work, threads)
    ctx.exclude_pids.add(server.proc.pid)
    runs, failed, counts = [], [], Counter()

    def checked(tracer=None) -> CrawlRun:
        r = crawl(spark, run_dir, seeds, threads, ctx.cpu_s, tracer=tracer)
        f, c = check_crawl(r, expected, fx, server.port, seed)
        failed.extend(f if tracer is None else [f"traced:{x}" for x in f])
        counts.update(c)
        r.engine = None
        return r

    try:
        spark, session_s = ctx.start_session()
        port = server.wait_ready()
        seeds = [live_url(u, port) for u in pages]
        t_measure = time.perf_counter()
        while not runs or time.perf_counter() - t_measure < ctx.seconds:
            runs.append(checked())
        layers = None
        if ctx.trace:
            tracer = CrawlTracer()
            tracer.install()
            try:
                traced = checked(tracer)
            finally:
                tracer.uninstall()
            layers = tracer.layer_metrics(traced.t0, traced.t1, 1 + len(traced.waves))
            layers["trace.wall_s"] = traced.t1 - traced.t0
            # Resumed parts. Both follow at least one wave on this JVM, but the
            # traced crawl is further along the warm-up: not the tracing cost
            # alone (README.md).
            layers["trace.overhead_s"] = (traced.t1 - traced.resume_t0) - statistics.median(
                r.t1 - r.resume_t0 for r in runs)
    finally:
        server.stop()

    waves = [w for r in runs for w in r.waves]
    walls = [w["wall_s"] for w in waves]
    urls_per_s = statistics.median(w["scheduled"] / w["wall_s"] for w in waves)
    images_per_s = statistics.median(w["images"] / w["wall_s"] for w in waves)
    urls_per_cpu_s = statistics.median(w["scheduled"] / w["cpu_s"] for w in waves)
    images_per_cpu_s = statistics.median(w["images"] / w["cpu_s"] for w in waves)
    lags = [x for r in runs for x in r.lags]
    scheduled = sum(w["scheduled"] for w in waves)
    images = sum(w["images"] for w in waves)
    attempted = counts["fetch_attempts"] + counts["images"] + counts["checks"]
    n_failed = counts["terminal_errors"] + counts["decode_errors"] + len(failed)
    return {
        "correct": not failed,
        "failed_checks": failed,
        "attempted": attempted,
        "failed": n_failed,
        "setup": {"session_s": session_s,
                  "seed_and_first_wave_s": runs[0].resume_t0 - runs[0].t0},
        "metrics": {
            "items_per_cpu_s": urls_per_cpu_s,
            "images_per_cpu_s": images_per_cpu_s,
        },
        "report": [
            ("urls_per_cpu_s", urls_per_cpu_s, "URLs/CPU-s",
             f"{scheduled} URLs in {sum(w['cpu_s'] for w in waves):.2f} CPU-s"),
            ("images_per_cpu_s", images_per_cpu_s, "images/CPU-s", ""),
            ("urls_per_s", urls_per_s, "URLs/s",
             f"median of {len(waves)} resumed waves in {len(runs)} crawl(s); "
             f"{scheduled} URLs in {sum(walls):.2f} s"),
            ("images_per_s", images_per_s, "images/s",
             f"median of the same waves; {images} images decoded"),
            ("wave_p50_s", statistics.median(walls), "s",
             f"n={len(walls)} waves: " + " ".join(f"{w:.2f}" for w in walls)),
            ("fetch_lag_p50_s", float(np.percentile(lags, 50)), "s",
             f"n={len(lags)} fetches, whole crawls"),
            ("fetch_lag_p90_s", float(np.percentile(lags, 90)), "s",
             f"n={len(lags)} fetches, whole crawls"),
            ("resume_s", statistics.median(r.resume_s for r in runs), "s",
             "fresh engine after the first wave, through its own first wave"),
        ],
        "layers": layers,
    }
