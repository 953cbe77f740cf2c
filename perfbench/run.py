"""Benchmark of the paper pipeline, the query registry and the txlog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see ``BENCHMARK.json``):

- ``sentinel``: the paper pipeline, ``plans.main.run_joined`` over 10000
  AOIs and a 5000-row catalog (20 footprints x 250 revisits, a tenth of
  them passing the filters), 500 AOIs per winning product; each of the
  20 winners has 4 bands of 512^2 uint16 GeoTIFFs served by the fake
  CDSE server. Selection, fetch, raster and cache all carry weight.
- ``read_write``: eight headline registry rows (``workloads.ROWS``) at
  sf 0.01, then the txlog DML battery and the 20-file COPY INTO ingest,
  no-op and 5-file pickup.

Each run starts Spark at ``local[nproc]`` and prepares its inputs from
the seed ``SETUP_REPS`` times; Spark start plus the median preparation
is the set-up figure. It then runs passes, one after another, until
``--seconds`` have passed (at least one), and reports medians. There is
no warm-up: the first pass pays the session's one-time costs (class
loading, JIT, code generation per plan, Python worker start), as every
batch invocation of the pipeline or the registry does, and those costs
are too large to pay twice in the benchmark's time budget. With
``--seconds 1`` a run measures exactly that first pass. Every pass's
outputs are checked.

With ``--trace 1`` the run makes one traced pass instead and prints the
per-layer metrics instead of the end-to-end ones. On ``read_write`` the
traced pass is the run's first, like the measured pass of an untraced
run; on ``sentinel`` one untraced pass comes first, because layer self
times there are differences of plan-prefix runs, which only hold in a
warm session, and the traced pass runs the prefix ladder twice, each
prefix counting its faster run. Only the traced pass samples the
process tree's RSS (``run.peak_rss_mb``); an untraced pass reads the
tree's CPU at its two ends and nothing else. ``run.trace_overhead_s``
is measured directly: the tracer's own bookkeeping plus, on the
pipeline, the prefix runs that only the traced pass makes. Spans and run facts (nproc, master, load
averages, per-pass layer times) go to ``.perfbench_out/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from inputs import SentinelShape

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_sentinel_imagery_spark"

SETUP_REPS = 3
#: the sentinel workload's inputs: 10000 AOIs over 20 one-degree
#: footprints x 250 revisits, 512^2 bands
SENTINEL_SHAPE = SentinelShape(grid_x=5, grid_y=4, revisits=250, n_aois=10000,
                               px=512, straddle=True)
#: ``max_tile_px`` ladder (band edge in pixels), tried in order
TILE_LADDER = (512, 1024, 1536, 2048, 4096, 10980)


def make_workload(name: str):
    from workloads import ReadWrite, Sentinel

    if name == "sentinel":
        return Sentinel(SENTINEL_SHAPE)
    if name == "read_write":
        return ReadWrite()
    raise SystemExit(f"unknown workload {name!r}")


#: every per-layer metric and its unit, in print order
def per_layer_units() -> dict[str, str]:
    from workloads import ROWS, SELF_TIME, TXLOG_LEGS, row_module

    units: dict[str, str] = {}
    counts = ("jobs", "tasks", "failed_tasks")
    for layer, self_time in SELF_TIME.items():
        units[f"{layer}.{self_time}"] = "s"
        units.update({f"{layer}.{c}": "count" for c in counts})
    units.update({
        "operators.selection.pairs": "count",
        "operators.selection.winners": "count",
        "operators.selection.aois_per_winner": "ratio",
        "sources.http_bands.requests_token": "count",
        "sources.http_bands.requests_redirect": "count",
        "sources.http_bands.requests_payload": "count",
        "sources.http_bands.requests_401": "count",
        "sources.http_bands.payload_bytes": "B",
        "sources.http_bands.useful_frac": "ratio",
        "sources.http_bands.server_s": "s",
        "operators.raster.mpix": "Mpx",
        "plans.acquisition.cache_files": "count",
        "plans.acquisition.cache_bytes": "B",
        "pipeline.mpix_per_s": "Mpx/s",
        "pipeline.aois_per_s": "1/s",
        "pipeline.max_tile_px": "px",
    })
    from etl_sentinel_imagery_spark.queries import queries

    qs = queries()
    modules: list[str] = []
    for name in ROWS:
        mod = row_module(qs[name])
        units[f"{mod}.{name}_s"] = "s"
        if mod not in modules:
            modules.append(mod)
    for mod in modules:
        units[f"{mod}.busy_s"] = "s"
        units.update({f"{mod}.{c}": "count" for c in counts})
    for leg in TXLOG_LEGS + ["copy_ingest", "copy_noop", "copy_pickup"]:
        units[f"operators.txlog.{leg}_s"] = "s"
    units.update({
        "operators.txlog.commits": "count",
        "operators.txlog.files_written": "count",
        "operators.txlog.bytes_written": "B",
    })
    units.update({f"operators.txlog.{c}": "count" for c in counts})
    units.update({
        "run.peak_rss_mb": "MB",
        "run.traced_wall_s": "s",
        "run.trace_overhead_s": "s",
        "run.failed_frac": "ratio",
        "run.nproc": "count",
        "run.load_avg_start": "load",
        "run.load_avg_end": "load",
    })
    return units


def start_spark(nproc: int, work: str):
    from etl_sentinel_imagery_spark.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM and the JVM's Python workers
    have exited: the JVM leaves when its stdin closes."""
    import procstat

    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    tree = procstat.tree_pids(jvm.pid)
    try:
        spark.stop()
    except Py4JError:  # the gateway broke mid-call (a signal): the JVM
        pass           # still exits on the stdin close below
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        procstat.kill_tree(jvm.pid)
        jvm.wait()
    procstat.wait_gone(tree)


def module_counts(spans, units: dict[str, str]) -> dict[str, float]:
    """Busy seconds and job/task counts per module, summed over the
    read/write spans (named ``<module>.<row or leg>``)."""
    out: dict[str, float] = {}
    for s in spans:
        mod = s.name.rsplit(".", 1)[0]
        if f"{mod}.jobs" not in units:
            continue
        if f"{mod}.busy_s" in units:
            out[f"{mod}.busy_s"] = out.get(f"{mod}.busy_s", 0.0) + s.seconds
        for k, v in s.counts.items():
            out[f"{mod}.{k}"] = out.get(f"{mod}.{k}", 0) + v
    return out


def probe_max_tile(work: str, seed: int, deadline: float, proven_px: int) -> int:
    """Largest ladder edge at which a 4-product run_joined pass completes.
    ``proven_px`` is the edge the workload itself just ran without a
    failure; rungs above it each run in a child process (a JVM heap OOM
    kills the whole local-mode JVM). Stops at the first failure; a rung
    still running at ``deadline`` counts as failed."""
    import probe

    best = proven_px
    for px in (p for p in TILE_LADDER if p > proven_px):
        remaining = deadline - time.monotonic()
        if remaining < 10 or not probe.run_rung(px, seed, os.path.join(work, f"probe{px}"),
                                                timeout=remaining):
            break
        best = px
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a SIGTERM unwinds like an error, so every child is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = checkout_env(f"{args.workload}-{args.seed}")
    if work is None:
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def checkout_env(tag: str) -> str | None:
    """Point this process and its children at the checkout: the package
    on every Python path, temp files in a fresh work dir (returned).
    None when the checkout holds no program to measure."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return None
    # Spark's Python workers import the package: they need the root on
    # their path, whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return work


def run(args, work: str, out_dir: str) -> dict:
    import procstat
    from spans import Tracer

    t_begin = time.monotonic()
    nproc = os.cpu_count() or 1
    info = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
            "master": f"local[{nproc}]", "load_avg_start": procstat.load_avg()}
    wl = make_workload(args.workload)

    # ---- set-up: Spark once, inputs SETUP_REPS times
    t0 = time.perf_counter()
    spark = start_spark(nproc, work)
    jvm_s = time.perf_counter() - t0
    prep = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare(os.path.join(work, f"inputs{rep}"), args.seed)
        # the brute-force oracle runs inside prepare but is not set-up
        prep.append(time.perf_counter() - t0 - wl.oracle_s)
        if rep:
            shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"), ignore_errors=True)

    def monitor(interval=None):
        return procstat.TreeMonitor(os.getpid(), exclude=wl.excluded_pids(),
                                    interval=interval).start()

    def rss_monitor():
        # only the traced pass samples RSS (it reports run.peak_rss_mb):
        # the sampler thread shares the driver's process and GIL
        return monitor(interval=0.1)

    cache_n = 0

    def cache_dir():
        nonlocal cache_n
        cache_n += 1
        return os.path.join(work, f"cache{cache_n}")

    passes = []
    tracer = traced = None
    try:
        if args.trace:
            if wl.warm_before_trace:
                passes.append(wl.run_pass(spark, cache_dir(), monitor=monitor))
            tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            traced = wl.run_pass(spark, cache_dir(), tracer=tracer, monitor=rss_monitor)
            tracer.collect_counts()
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace1-spans.jsonl"))
        else:
            t_measure = time.perf_counter()
            while not passes or time.perf_counter() - t_measure < args.seconds:
                d = cache_dir()
                passes.append(wl.run_pass(spark, d, monitor=monitor))
                shutil.rmtree(d, ignore_errors=True)
    finally:
        wl.close()
        stop_spark(spark)

    checked = passes + ([traced] if traced else [])
    attempted = sum(p.attempted for p in checked)
    failed = sum(p.failed for p in checked)
    for p in checked:
        for e in p.errors[:20]:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
    info.update(load_avg_end=procstat.load_avg(), passes=len(passes),
                setup_prep_s=prep, jvm_s=jvm_s,
                pass_layers=[p.layers for p in passes])

    if not args.trace:
        metrics = {
            "setup_s": (jvm_s + statistics.median(prep), "s"),
            "wall_s": (statistics.median([p.wall_s for p in passes]), "s"),
            "cpu_s": (statistics.median([p.cpu_s for p in passes]), "s"),
            # a failed pass may have written no user data
            "space_amp": (statistics.median(
                [p.disk_bytes / max(p.user_bytes, 1) for p in passes]), "ratio"),
        }
    else:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update({k: v for k, v in traced.layers.items() if k in units})
        values.update(module_counts(tracer.spans, units))
        if args.workload == "sentinel":
            # the probe gets what is left of 160 s, inside the 180 s a
            # run may take
            values["pipeline.max_tile_px"] = probe_max_tile(
                work, args.seed, t_begin + 160,
                SENTINEL_SHAPE.px if failed == 0 else 0,
            )
        values.update({
            "run.peak_rss_mb": traced.peak_rss / 2**20,
            "run.traced_wall_s": traced.wall_s,
            # the tracer's own bookkeeping plus work that only tracing
            # does (the pipeline's shorter plan prefixes)
            "run.trace_overhead_s": tracer.own_s + traced.layers.get("trace.prefixes_s", 0.0),
            "run.failed_frac": failed / attempted,
            "run.nproc": nproc,
            "run.load_avg_start": info["load_avg_start"],
            "run.load_avg_end": info["load_avg_end"],
        })
        metrics = {k: (values[k], u) for k, u in units.items()}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}-run.json"), "w") as fh:
        json.dump(info, fh)
    print(json.dumps({"run": {k: v for k, v in info.items() if k != "pass_layers"}}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
