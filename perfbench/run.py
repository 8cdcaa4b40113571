"""Layered benchmark for grouper_spark; see README.md in this directory.

Run from the root of a checkout:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 25 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: every end-to-end metric of BENCHMARK.json
with ``--trace 0``, every per-layer metric with ``--trace 1`` (0 where a
workload does not exercise that layer). The line before it is a JSON
object of host and run context (nproc, load average, JVM probe), which
is never gated. Progress and diagnostics go to stderr.

``--tiny`` shrinks every input (sf0.001, a few thousand items) for the
smoke test.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale factor of the generated tables for the query workload.
QUERY_SF = 0.02
WORKLOADS = ("queries", "grouper_rt10")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _driver_heap_gb() -> int:
    """A quarter of physical memory, capped at 8 GB (package default: 20g)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(8, total // 4 // 2**30))


def _prepare_env(work_dir: str, cpus: int) -> None:
    """Size the session for this host and keep every write under work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_heap_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = tmp
    # Every JVM spark-submit starts (its launcher and the driver) writes
    # temp files under tmp and keeps its perf counters off /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    tempfile.tempdir = tmp


def _run(args, work_dir: str, cpus: int):
    common = dict(trace=bool(args.trace), cpus=cpus, log=_log)
    if args.workload == "queries":
        import bench_queries

        # One cold pass is the timed sample, whatever --seconds says.
        sf = 0.001 if args.tiny else QUERY_SF
        return bench_queries.run(seed=args.seed, sf=sf, work_dir=work_dir,
                                 t_start=T_START, **common)
    import bench_grouper

    tiny = dict(block=1000, rate=2000) if args.tiny else {}
    return bench_grouper.run_rt10(seconds=args.seconds, **common, **tiny)


def _report(res, spec: dict, trace: bool) -> dict:
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = res.layer if trace else res.metrics
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {}
    for m in wanted:
        value, unit = got.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit!r}, BENCHMARK.json says {m['unit']!r}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "grouper_spark", "__init__.py")):
        _log(f"no grouper_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()

    cpus = len(os.sched_getaffinity(0))
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cpus,
        "loadavg_start": list(os.getloadavg()),
        "driver_heap_gb": _driver_heap_gb(),
    }
    work_dir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        _prepare_env(work_dir, cpus)
        res = _run(args, work_dir, cpus)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass
    res.layer["session.python_rss_peak_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"
    )
    context.update(res.context)
    context["loadavg_end"] = list(os.getloadavg())
    metrics = _report(res, spec, bool(args.trace))
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and res.attempted > 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
