"""The grouper_rt10 workload: ``Grouper.submit`` driven by one generator thread.

The reference README's model shape in-process, with no Spark: capacity 100,
10 ms interval, ``pool = nproc``, a batch fn that sleeps 10 ms (the
modelled round-trip) and returns ``x + 1``. Its closed phase submits as
fast as ``submit`` returns; its open phase offers items at a fixed rate
and times each one from when it was due, so generator lateness counts.

Every future is checked after its block, outside the timed region: it
must resolve to ``x + 1`` (never an exception value, never a timeout).
"""

from __future__ import annotations

import functools
import gc
import json
import os
import subprocess
import sys
import threading
import time

from common import Result, median, percentile

CAPACITY = 100
INTERVAL_MS = 10
SLEEP_S = 0.010
OPEN_RATE = 10_000  # items/s; below the engine's knee on a 4-core host
RT_BLOCK = 10_000  # items per closed-loop sample
RESULT_TIMEOUT_S = 60.0
SETUP_REPS = 5


def _sleep_proc(xs):
    time.sleep(SLEEP_S)
    return [x + 1 for x in xs]


def _noop_proc(xs):
    return [x + 1 for x in xs]


def _stamp(arr, i, _value):
    arr[i] = time.perf_counter()


class _Stamps:
    """Per-item and per-batch timestamps for a traced phase."""

    def __init__(self, n: int) -> None:
        self.submit0 = [0.0] * n
        self.submit1 = [0.0] * n
        self.done = [0.0] * n
        self.batches: list[tuple] = []  # (start, end, items, inline)
        self._lock = threading.Lock()
        self._inflight = 0
        self.inflight_max = 0
        self.n_inline = 0

    def wrap(self, proc):
        """proc with entry/exit stamps, caller-runs and in-flight counts."""

        def traced(xs):
            t0 = time.perf_counter()
            inline = threading.current_thread().name == "grouper-dispatcher"
            with self._lock:
                self._inflight += 1
                self.inflight_max = max(self.inflight_max, self._inflight)
            try:
                return proc(xs)
            finally:
                with self._lock:
                    self._inflight -= 1
                    self.n_inline += inline
                self.batches.append((t0, time.perf_counter(), xs, inline))

        return traced


def _check(futs, base, res: Result, log) -> None:
    """Every future must resolve to its item + 1."""
    for i, f in enumerate(futs):
        res.attempted += 1
        try:
            v = f.result(RESULT_TIMEOUT_S)
        except Exception as exc:  # timeout: never resolved
            v = exc
        if v != base + i + 1:
            res.failed += 1
            if res.failed <= 3:
                log(f"item {base + i}: got {v!r}")


def _closed_block(g, base, n, stamps=None):
    """Submit n items as fast as submit returns, wait for all; seconds."""
    t0 = time.perf_counter()
    if stamps is None:
        futs = [g.submit(base + i) for i in range(n)]
    else:
        futs = []
        for i in range(n):
            cb = functools.partial(_stamp, stamps.done, i)
            s0 = time.perf_counter()
            futs.append(g.submit(base + i, callback=cb))
            stamps.submit1[i] = time.perf_counter()
            stamps.submit0[i] = s0
    g.flush()
    for f in futs:
        f.result(RESULT_TIMEOUT_S)
    return time.perf_counter() - t0, futs


def _closed_phase(g, seconds, block, res, log, stamps=None, min_blocks=3):
    """Closed-loop blocks until `seconds` pass (at least min_blocks)."""
    times = []
    base = 0
    t_end = time.perf_counter() + seconds
    while len(times) < min_blocks or time.perf_counter() < t_end:
        gc.collect()
        dt, futs = _closed_block(g, base, block, stamps)
        _check(futs, base, res, log)
        times.append(dt)
        base += block
    return times


def _open_phase(g, seconds, rate, stamps: _Stamps, res, log):
    """Submit item i at t0 + i/rate; returns (latencies_s, lags_s)."""
    n = int(seconds * rate)
    futs = [None] * n
    due0 = time.perf_counter() + 0.01
    i = 0
    while i < n:
        now = time.perf_counter()
        while i < n and due0 + i / rate <= now:
            cb = functools.partial(_stamp, stamps.done, i)
            stamps.submit0[i] = time.perf_counter()
            futs[i] = g.submit(i, callback=cb)
            stamps.submit1[i] = time.perf_counter()
            i += 1
        if i < n:
            wait = due0 + i / rate - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
    g.flush()
    _check(futs, 0, res, log)
    lat = [stamps.done[k] - (due0 + k / rate) for k in range(n)]
    lag = [stamps.submit0[k] - (due0 + k / rate) for k in range(n)]
    return lat, lag


def _batch_layers(stamps: _Stamps, n_items: int, L: dict) -> None:
    """Queue wait, batch time and delivery per item from traced stamps."""
    qwait, deliv, bms, sizes = [], [], [], []
    for t0, t1, xs, _inline in stamps.batches:
        sizes.append(len(xs))
        last = t1
        for x in xs:
            k = x % n_items
            qwait.append(t0 - stamps.submit1[k])
            deliv.append(stamps.done[k] - t1)
            last = max(last, stamps.done[k])
        bms.append(last - t0)
    sub = [(b - a) * 1e6 for a, b in zip(stamps.submit0, stamps.submit1)]
    L["grouper.submit_us_p50"] = (median(sub), "us")
    L["grouper.submit_us_p99"] = (percentile(sub, 99), "us")
    L["grouper.queue_wait_ms_p50"] = (median(qwait) * 1e3, "ms")
    L["grouper.queue_wait_ms_p99"] = (percentile(qwait, 99) * 1e3, "ms")
    L["grouper.deliver_ms_p50"] = (median(deliv) * 1e3, "ms")
    L["grouper.deliver_ms_p99"] = (percentile(deliv, 99) * 1e3, "ms")
    L["grouper.batch_ms_p50"] = (median(bms) * 1e3, "ms")
    L["grouper.batch_ms_p99"] = (percentile(bms, 99) * 1e3, "ms")
    L["grouper.batch_size_p50"] = (median(sizes), "count")
    L["grouper.batches"] = (len(sizes), "count")


def setup_once(cpus: int, block: int) -> None:
    """One set-up as a user pays it, in a fresh interpreter: import the
    package, start an engine, push one warm block, shut down. Prints
    ``[seconds, attempted, failed]``."""
    t0 = time.perf_counter()
    from grouper_spark.streaming import Grouper

    with Grouper(_sleep_proc, capacity=CAPACITY, interval=INTERVAL_MS, pool=cpus) as g:
        _, futs = _closed_block(g, 0, block)
    dt = time.perf_counter() - t0
    res = Result(attempted=0, failed=0)
    _check(futs, 0, res, lambda _msg: None)
    print(json.dumps([dt, res.attempted, res.failed]))


def _setup_in_fresh_interpreter(cpus: int, block: int) -> tuple[float, int, int]:
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    out = subprocess.run(
        [sys.executable, "-c", f"import bench_grouper; bench_grouper.setup_once({cpus}, {block})"],
        cwd=root, env={**os.environ, "PYTHONPATH": os.pathsep.join((here, root))},
        capture_output=True, text=True, timeout=60, check=True,
    )
    dt, attempted, failed = json.loads(out.stdout.strip().splitlines()[-1])
    return dt, attempted, failed


def run_rt10(*, seconds, trace, cpus, log, block=RT_BLOCK, rate=OPEN_RATE) -> Result:
    from grouper_spark.streaming import Grouper

    # The interpreter's own objects (pyspark and the package) are never
    # garbage; keep full collections from rescanning them mid-sample.
    gc.collect()
    gc.freeze()
    res = Result(attempted=0, failed=0)

    def make(proc):
        return Grouper(proc, capacity=CAPACITY, interval=INTERVAL_MS, pool=cpus)

    setups = []
    for _ in range(SETUP_REPS):
        dt, attempted, failed = _setup_in_fresh_interpreter(cpus, block // 5)
        setups.append(dt)
        res.attempted += attempted
        res.failed += failed
    res.metrics["setup_s"] = (median(setups), "s")

    closed_s, open_s = 0.75 * seconds, 0.25 * seconds
    with make(_sleep_proc) as g:
        times = _closed_phase(g, closed_s, block, res, log)
    wall = median(times)
    res.metrics["wall_s"] = (wall, "s")

    stamps = _Stamps(int(open_s * rate))
    with make(stamps.wrap(_sleep_proc) if trace else _sleep_proc) as g:
        lat, lag = _open_phase(g, open_s, rate, stamps, res, log)
    res.context.update(
        items_per_s=block / wall,
        latency_p50_ms=median(lat) * 1e3,
        latency_p99_ms=percentile(lat, 99) * 1e3,
        gen_lag_ms_max=max(lag) * 1e3,
        open_items=len(lat),
        closed_blocks=len(times),
        setup_reps_s=[round(s, 4) for s in setups],
    )
    if not trace:
        return res

    L = res.layer
    _batch_layers(stamps, len(lat), L)
    L["grouper.latency_p50_ms"] = (median(lat) * 1e3, "ms")
    L["grouper.latency_p99_ms"] = (percentile(lat, 99) * 1e3, "ms")
    L["grouper.gen_lag_ms_max"] = (max(lag) * 1e3, "ms")

    # Traced closed loop: caller-runs batches, in-flight peak, overhead.
    cstamps = _Stamps(block)
    with make(cstamps.wrap(_sleep_proc)) as g:
        traced_times = _closed_phase(g, closed_s, block, res, log, cstamps)
    L["grouper.items_per_s"] = (block / wall, "1/s")
    L["grouper.inline_batches"] = (cstamps.n_inline, "count")
    L["grouper.inflight_max"] = (cstamps.inflight_max, "count")
    L["trace.overhead_pct"] = ((median(traced_times) / wall - 1.0) * 100.0, "%")

    with make(_noop_proc) as g:
        ceil_times = _closed_phase(g, min(open_s, 2.0), block, res, log)
    L["grouper.engine_ceiling_items_per_s"] = (block / median(ceil_times), "1/s")
    return res
