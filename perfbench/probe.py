"""``max_tile_px`` probe: can a 4-product ``run_joined`` pass complete at
a given band edge?

    python3 perfbench/probe.py --px N --seed S --work DIR   (one rung)

Each rung runs in a child process with its own Spark, because a task's
``Java heap space`` error makes the local-mode JVM exit, and the child
would otherwise take the benchmark down with it. The parent kills the
child's whole process tree when its RSS passes ``RSS_CAP`` (a 10980^2
band held as Python int lists is about 4 GB) or its time runs out.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RSS_CAP = 3 * 2**30


def run_rung(px: int, seed: int, work: str, timeout: float) -> bool:
    """True if the child completed a checked pass at ``px``."""
    import procstat

    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "probe.py"), "--px", str(px),
         "--seed", str(seed), "--work", work],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    over = []

    def cap(rss: int) -> None:
        if rss > RSS_CAP and not over:
            over.append(rss)
            procstat.kill_tree(proc.pid)

    mon = procstat.TreeMonitor(proc.pid, interval=0.2, on_sample=cap).start()
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:  # timed out, or we are unwinding
            procstat.kill_tree(proc.pid)
            proc.wait()
        mon.stop()
        shutil.rmtree(work, ignore_errors=True)
    return code == 0 and not over


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--px", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(HERE))
    from inputs import SentinelShape
    from run import start_spark, stop_spark
    from workloads import Sentinel

    spark = start_spark(os.cpu_count() or 1, args.work)
    wl = Sentinel(SentinelShape(grid_x=4, grid_y=1, revisits=1, n_aois=4,
                                px=args.px, straddle=False))
    try:
        wl.prepare(os.path.join(args.work, "inputs"), args.seed)
        p = wl.run_pass(spark, os.path.join(args.work, "cache"))
    finally:
        wl.close()
        stop_spark(spark)
    return 0 if p.failed == 0 and p.attempted == 4 else 1


if __name__ == "__main__":
    sys.exit(main())
