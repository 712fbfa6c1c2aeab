"""Per-task cost of a Python worker task, in one command.

Runs 20 trivial ``mapInPandas`` jobs over one cached partition on a
``local[nproc]`` session and prints, per job, the wall time and the CPU
time of the whole process tree (this driver, the JVM, the PySpark
daemon and its workers). Then it prints the worker's Python version and
the zipimporters the worker holds in ``sys.path_importer_cache`` — each
one is an archive directory that CPython 3.10-3.12 re-reads on every
task unless scalecast_spark's guard (``scalecast_spark/_worker.py``) is
installed in that worker.

Usage:
    python tools/worker_overhead_probe.py          # tasks import scalecast_spark
    python tools/worker_overhead_probe.py --bare   # tasks never import it (no guard)

A Spark or Python upgrade that brings the per-task re-read back shows up
as ``--bare`` and the default mode converging on the higher numbers.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_JOBS = 20


def _tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (live ones,
    plus the reaped children each process accounts in cutime/cstime)."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _importing(batches):
    import scalecast_spark  # noqa: F401  (installs the guard in the worker)

    for b in batches:
        yield b


def _bare(batches):
    for b in batches:
        yield b


def _worker_report(batches):
    import pandas as pd
    import zipimport

    zips = sorted(
        repr(f) for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    )
    guard = getattr(
        zipimport.zipimporter.invalidate_caches, "_scalecast_stat_guard", False
    )
    for _ in batches:
        yield pd.DataFrame({
            "python": [sys.version.split()[0]],
            "guard": [bool(guard)],
            "zips": ["\n".join(zips)],
        })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--bare", action="store_true",
        help="tasks never import scalecast_spark, so workers run unguarded",
    )
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    from scalecast_spark import get_session

    spark = get_session("worker_overhead_probe")
    one = spark.range(1000).repartition(1).cache()
    one.count()
    fn = _bare if args.bare else _importing
    for _ in range(3):  # warm: start the daemon and its first workers
        one.mapInPandas(fn, one.schema).count()
    walls, cpus = [], []
    for _ in range(N_JOBS):
        c0, t0 = _tree_cpu_s(), time.perf_counter()
        one.mapInPandas(fn, one.schema).count()
        walls.append(time.perf_counter() - t0)
        cpus.append(_tree_cpu_s() - c0)
    report = one.mapInPandas(
        _worker_report, "python string, guard boolean, zips string"
    ).collect()[0]
    mode = "bare" if args.bare else "importing scalecast_spark"
    print(f"mode: {mode}; {N_JOBS} jobs on local[{os.environ['SPARK_GRAFT_CPUS']}]")
    print(
        f"per job: wall median {statistics.median(walls) * 1e3:.0f} ms, "
        f"process-tree CPU median {statistics.median(cpus) * 1e3:.0f} ms"
    )
    print(f"worker python: {report['python']}; guard installed: {report['guard']}")
    zips = report["zips"].splitlines()
    print(f"zipimporters in the worker's sys.path_importer_cache: {len(zips)}")
    for z in zips:
        print("  " + z)
    spark.stop()


if __name__ == "__main__":
    main()
