"""The reference's behavioral invariants (SURVEY.md §2.B, items 1-11)
re-expressed against the Grouper engine's public API.

All tests but the shared-timer one use interval=None (size-only flush)
+ explicit flush/shutdown so nothing depends on wall-clock timing —
deliberately avoiding the reference's own FIXME-flagged timing-sensitive
test (core_test.clj:42). The shared-timer test counts batches against
the elapsed time, with a 2x margin.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import (
    FIRST_COMPLETED,
    CancelledError,
    Future,
    as_completed,
    wait,
)

import pytest

from grouper_spark.streaming import Grouper


def make(proc, **kw):
    kw.setdefault("capacity", 100)
    kw.setdefault("interval", None)
    return Grouper(proc, **kw)


# -- invariant 2: positional result identity ------------------------------


def test_positional_identity():
    with make(lambda xs: [x + 1 for x in xs]) as g:
        futs = [g.submit(i) for i in range(10)]
        g.flush()
        assert [f.result(5) for f in futs] == list(range(1, 11))


# -- invariant 1: FIFO within batch ---------------------------------------


def test_fifo_within_batch():
    seen = []
    with make(lambda xs: seen.append(list(xs)) or xs) as g:
        futs = [g.submit(i) for i in range(20)]
        g.flush()
        [f.result(5) for f in futs]
    assert [x for batch in seen for x in batch] == list(range(20))


# -- invariant 3: scalar broadcast ----------------------------------------


def test_scalar_broadcast():
    with make(lambda xs: 100) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(5) for f in futs] == [100] * 5


def test_string_is_scalar():
    with make(lambda xs: "const") as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == ["const"] * 3


# -- invariant 4: pad & truncate ------------------------------------------


def test_pad_short_results():
    with make(lambda xs: [x * 2 for x in xs[:2]]) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 2, None, None, None]


def test_truncate_long_results():
    with make(lambda xs: list(range(100))) as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 1, 2]


# -- invariant 5: callback before promise delivery ------------------------


def test_callback_before_future():
    order = []
    with make(lambda xs: [x + 1 for x in xs]) as g:
        fut = g.submit(1, callback=lambda r: order.append(("cb", r)))
        g.flush()
        res = fut.result(5)
        order.append(("deref", res))
    assert order == [("cb", 2), ("deref", 2)]


# -- invariant 6: batch-granular failure, exception-as-value, no retry ----


def test_error_delivered_as_value():
    calls = []

    def proc(xs):
        calls.append(len(xs))
        return [x.upper() for x in xs]

    errs = []
    with make(proc) as g:
        futs = [
            g.submit("hello", errback=errs.append),
            g.submit(None, errback=errs.append),
            g.submit("world", errback=errs.append),
        ]
        g.flush()
        results = [f.result(5) for f in futs]
    # one bad item fails the whole batch; deref RETURNS the exception
    assert all(isinstance(r, AttributeError) for r in results)
    assert len(errs) == 3 and all(isinstance(e, AttributeError) for e in errs)
    assert calls == [3]  # no retry


# -- invariant 7: size-triggered flush (queue full) -----------------------


def test_capacity_flush_without_interval():
    with Grouper(lambda xs: [x * 2 for x in xs], capacity=2, interval=None) as g:
        f1, f2 = g.submit(1), g.submit(2)
        f3 = g.submit(3)  # queue full → wake + early flush
        assert f1.result(5) == 2 and f2.result(5) == 4
        g.flush()
        assert f3.result(5) == 6


# -- invariant 8: producer backpressure -----------------------------------


def test_submit_blocks_when_full():
    release = threading.Event()

    def slow(xs):
        release.wait(5)
        return xs

    g = Grouper(slow, capacity=1, interval=None)
    g.submit(1)
    g.flush()
    time.sleep(0.05)  # dispatcher now stuck inside slow()
    g.submit(2)  # fills the queue

    blocked = threading.Event()
    done = threading.Event()

    def producer():
        blocked.set()
        g.submit(3)  # must block: queue full, dispatcher busy
        done.set()

    t = threading.Thread(target=producer, daemon=True)
    t.start()
    blocked.wait(5)
    time.sleep(0.1)
    assert not done.is_set(), "submit should block while queue is full"
    release.set()
    done.wait(5)
    assert done.is_set()
    g.shutdown()


# -- invariant 9: closed-state rejection ----------------------------------


def test_submit_after_close_raises():
    g = make(lambda xs: xs)
    g.shutdown()
    with pytest.raises(RuntimeError, match="is closed"):
        g.submit(1)


# -- invariant 10: drain on shutdown --------------------------------------


def test_drain_on_shutdown():
    total = []
    with make(lambda xs: [total.append(x) or x for x in xs]) as g:
        g.submit(1)
        g.submit(2)
        # no flush: shutdown itself must drain
    assert sorted(total) == [1, 2]


# -- invariant 11: threading model ----------------------------------------


def test_no_pool_single_thread():
    threads = set()

    def proc(xs):
        threads.add(threading.current_thread().name)
        return xs

    with make(proc) as g:
        for i in range(10):
            g.submit(i)
            g.flush()
            time.sleep(0.01)
    assert len(threads) == 1


def test_pool_multiple_threads():
    threads = set()
    release = threading.Event()

    def proc(xs):
        threads.add(threading.current_thread().name)
        release.wait(2)
        return xs

    g = Grouper(proc, capacity=10, interval=None, pool=4)
    futs = []
    for i in range(4):
        futs.append(g.submit(i))
        g.flush()  # one batch per item, handed to the pool while blocked
        time.sleep(0.05)
    release.set()
    [f.result(5) for f in futs]
    g.shutdown()
    assert len(threads) > 1


# -- option validation (reference :pre asserts) ---------------------------


@pytest.mark.parametrize(
    "kwargs",
    [
        {"capacity": 0},
        {"capacity": -1},
        {"capacity": 5, "interval": 0},
        {"capacity": 5, "interval": -10},
        {"capacity": 5, "pool": 0},
        {"capacity": 5, "pool": -2},
    ],
)
def test_invalid_options(kwargs):
    with pytest.raises(ValueError):
        Grouper(lambda xs: xs, **kwargs)


def test_proc_fn_must_be_callable():
    with pytest.raises(TypeError):
        Grouper("not a function", capacity=5)


def test_grouper_options_are_the_reference_ones():
    import inspect

    assert list(inspect.signature(Grouper.__init__).parameters) == [
        "self", "proc_fn", "capacity", "interval", "pool",
    ]


# -- Spark DataFrame batch functions through the adapter ------------------


def _df_grouper(spark, df_fn, **kw):
    from grouper_spark.streaming import dataframe_proc_fn

    return make(dataframe_proc_fn(spark, df_fn), capacity=50, **kw)


def test_dataframe_proc_fn(spark):
    from pyspark.sql import functions as F

    def proc(df):
        return df.select("idx", (F.col("value") * 10).alias("result"))

    with _df_grouper(spark, proc) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(30) for f in futs] == [0, 10, 20, 30, 40]


def test_dataframe_proc_fn_reordered_rows_keep_positions(spark):
    """A plan that emits rows in another order still delivers result i
    to submitter i: the hand-off is keyed on idx, not on row order."""
    from pyspark.sql import functions as F

    def proc(df):
        return df.select(
            "idx", (F.col("value") + 100).alias("result")
        ).orderBy(F.col("idx").desc())

    with _df_grouper(spark, proc) as g:
        futs = [g.submit(i) for i in range(6)]
        g.flush()
        assert [f.result(30) for f in futs] == [100, 101, 102, 103, 104, 105]


def test_dataframe_proc_fn_missing_idx_is_none_extra_ignored(spark):
    from pyspark.sql import functions as F

    def proc(df):
        kept = df.filter(F.col("idx") != 1).select(
            "idx", F.col("value").alias("result")
        )
        extra = df.limit(1).select(
            F.lit(99).cast("long").alias("idx"), F.lit(-1).cast("long").alias("result")
        )
        return kept.unionByName(extra)

    with _df_grouper(spark, proc) as g:
        futs = [g.submit(i) for i in (10, 11, 12)]
        g.flush()
        assert [f.result(30) for f in futs] == [10, None, 12]


def test_dataframe_proc_fn_execution_failure_fails_the_batch(spark):
    """An error raised while the plan runs (not while it is built)
    arrives as the value of every future in the batch and at every
    errback."""
    from pyspark.sql import functions as F

    def proc(df):
        return df.select(
            "idx",
            F.when(F.col("value") == 2, F.raise_error(F.lit("df-boom")))
            .otherwise(F.col("value"))
            .alias("result"),
        )

    errs = []
    with _df_grouper(spark, proc) as g:
        futs = [g.submit(i, errback=errs.append) for i in range(4)]
        g.flush()
        got = [f.result(30) for f in futs]
    assert all(isinstance(r, Exception) and "df-boom" in str(r) for r in got)
    assert len({id(r) for r in got}) == 1
    assert len(errs) == 4 and all(e is got[0] for e in errs)


# --- property-based invariants (hypothesis) ---------------------------------

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(items=st.lists(st.integers(min_value=-10**6, max_value=10**6),
                      min_size=1, max_size=50))
@settings(max_examples=25, deadline=None)
def test_property_positional_identity(items):
    """For ANY submitted sequence, result i == proc(items)[i] — the
    reference's core invariant (core.clj:74-79) under random input."""
    with make(lambda xs: [x * 2 + 1 for x in xs], capacity=len(items)) as g:
        futs = [g.submit(x) for x in items]
        g.flush()
        got = [f.result(10) for f in futs]
    assert got == [x * 2 + 1 for x in items]


@given(items=st.lists(st.integers(), min_size=1, max_size=20),
       keep=st.integers(min_value=0, max_value=25))
@settings(max_examples=25, deadline=None)
def test_property_pad_and_truncate(items, keep):
    """proc returning a wrong-length list pads with None / drops the
    excess (core.clj:74-76) for every length combination."""
    with make(lambda xs: list(xs)[:keep], capacity=len(items)) as g:
        futs = [g.submit(x) for x in items]
        g.flush()
        got = [f.result(10) for f in futs]
    want = (list(items)[:keep] + [None] * len(items))[: len(items)]
    assert got == want


# -- invariant 11: bounded in-flight batches (CallerRunsPolicy) -----------


def test_pool_saturation_runs_on_dispatcher_and_bounds_inflight():
    """With pool=2 and a slow proc, at most pool+1 batches execute
    concurrently (2 workers + the dispatcher running one itself), and
    the dispatcher stalls instead of queueing unbounded work — the
    reference's SynchronousQueue + CallerRunsPolicy (core.clj:85-97,
    concurrency pinned like core_test.clj:79-87)."""
    lock = threading.Lock()
    inflight = 0
    high_water = 0
    dispatcher_ran = threading.Event()
    release = threading.Event()

    def proc(xs):
        nonlocal inflight, high_water
        with lock:
            inflight += 1
            high_water = max(high_water, inflight)
        if threading.current_thread().name == "grouper-dispatcher":
            dispatcher_ran.set()
        release.wait(5)
        with lock:
            inflight -= 1
        return xs

    g = Grouper(proc, capacity=100, interval=None, pool=2)
    futs = []
    for i in range(6):
        futs.append(g.submit(i))
        g.flush()  # one batch per item
        time.sleep(0.05)
    # 2 batches occupy the pool; batch 3 runs on the dispatcher, which
    # therefore stalls — batches 4-6 are still in the queue, not in RAM
    # as submitted-but-waiting pool work.
    time.sleep(0.2)
    with lock:
        assert inflight <= 3
    assert dispatcher_ran.is_set()
    release.set()
    assert [f.result(10) for f in futs] == list(range(6))
    g.shutdown()
    assert high_water <= 3  # never more than pool + dispatcher


def test_closed_loop_keeps_pool_plus_one_batches_in_flight():
    """A producer that submits as fast as it can against a slow proc
    keeps pool + 1 batches running at once, never more, and a worker
    that finishes a batch drains the next one itself."""
    pool = 2
    lock = threading.Lock()
    inflight = 0
    high_water = 0
    runners = []  # the thread that ran each batch, in start order
    full = threading.Event()

    def proc(xs):
        nonlocal inflight, high_water
        with lock:
            inflight += 1
            high_water = max(high_water, inflight)
            runners.append(threading.current_thread().name)
            if inflight == pool + 1:
                full.set()
        full.wait(5)  # the first batches hold until every runner is busy
        time.sleep(0.02)
        with lock:
            inflight -= 1
        return xs

    with Grouper(proc, capacity=10, interval=None, pool=pool) as g:
        futs = [g.submit(i) for i in range(200)]
        g.flush()
        assert [f.result(10) for f in futs] == list(range(200))
    assert high_water == pool + 1
    workers = [n for n in runners if n.startswith("grouper-worker-")]
    assert max(workers.count(n) for n in set(workers)) >= 2, runners


def test_runners_share_one_interval_deadline():
    """Idle runners flush on one shared timer: a trickle of one item
    every 5 ms into pool=4, interval=50 gives about one batch per 50 ms,
    not one per runner per 50 ms (~4x as many once 5 ms batches have
    put per-runner timers out of step)."""
    sizes = []

    def proc(xs):
        sizes.append(len(xs))
        time.sleep(0.005)
        return xs

    g = Grouper(proc, capacity=1000, interval=50, pool=4)
    futs = []
    t0 = time.monotonic()
    while time.monotonic() - t0 < 1.0:
        futs.append(g.submit(len(futs)))
        time.sleep(0.005)
    ticks = (time.monotonic() - t0) / 0.05
    g.shutdown()
    assert [f.result(5) for f in futs] == list(range(len(futs)))
    assert sum(sizes) == len(futs)
    assert ticks / 2 <= len(sizes) <= 1.5 * ticks + 2, (len(sizes), ticks)


def test_runner_stress_processes_every_item_once():
    """More runners than cores, four producers and a 1 µs switch
    interval: every item is processed exactly once, each future gets its
    own item's result, and in-flight batches stay within pool + 1."""
    pool = 8
    lock = threading.Lock()
    seen = []
    inflight = 0
    high_water = 0

    def proc(xs):
        nonlocal inflight, high_water
        with lock:
            inflight += 1
            high_water = max(high_water, inflight)
            seen.extend(xs)
        with lock:
            inflight -= 1
        return [x * 2 for x in xs]

    futs = {}

    def produce(g, k):
        for i in range(k * 1000, (k + 1) * 1000):
            futs[i] = g.submit(i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with Grouper(proc, capacity=7, interval=1, pool=pool) as g:
            producers = [
                threading.Thread(target=produce, args=(g, k)) for k in range(4)
            ]
            for t in producers:
                t.start()
            for t in producers:
                t.join(60)
            assert not any(t.is_alive() for t in producers)
            results = {i: f.result(30) for i, f in futs.items()}
    finally:
        sys.setswitchinterval(old)
    assert results == {i: 2 * i for i in range(4000)}
    assert sorted(seen) == list(range(4000))
    assert high_water <= pool + 1


@pytest.mark.parametrize("pool", [None, 4, "executor"])
def test_shutdown_leaves_no_grouper_thread(pool):
    """pool=N starts the dispatcher plus N workers (the dispatcher alone
    for no pool or an executor), and shutdown() joins every one of them;
    a caller's executor is shut down too (core.clj:64-66)."""
    from concurrent.futures import ThreadPoolExecutor

    def grouper_threads():
        return sorted(
            t.name for t in set(threading.enumerate()) - before
            if t.name.startswith("grouper-")
        )

    before = set(threading.enumerate())
    ex = ThreadPoolExecutor(max_workers=2) if pool == "executor" else None
    g = make(lambda xs: xs, pool=ex or pool)
    workers = pool if isinstance(pool, int) else 0
    assert grouper_threads() == sorted(
        ["grouper-dispatcher"] + [f"grouper-worker-{i}" for i in range(workers)]
    )
    futs = [g.submit(i) for i in range(10)]
    g.shutdown()
    assert [f.result(5) for f in futs] == list(range(10))
    assert grouper_threads() == []
    if ex is not None:
        with pytest.raises(RuntimeError):
            ex.submit(lambda: None)


def test_pool_accepts_executor_instance():
    """start! accepts an ExecutorService instance for :pool
    (core.clj:108-122); shutdown() shuts it down (core.clj:64-66)."""
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=2, thread_name_prefix="user-pool")
    threads = set()
    with make(lambda xs: [threads.add(threading.current_thread().name) or x for x in xs],
              pool=ex) as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 1, 2]
    assert all(t.startswith("user-pool") for t in threads)
    # grouper shutdown shut the caller's executor down too (reference parity)
    with pytest.raises(RuntimeError):
        ex.submit(lambda: None)


# -- invariant 5/6: raising callback → batch-granular errbacks ------------


def test_callback_exception_triggers_batch_errbacks():
    """A callback that raises falls into the body-fn outer catch
    (core.clj:68-83): errbacks fire for EVERY request in the batch,
    not-yet-delivered futures get the exception as their value, and
    already-delivered futures keep their results."""
    errbacked = []
    boom = ValueError("callback exploded")

    def bad_callback(res):
        raise boom

    with make(lambda xs: [x * 10 for x in xs]) as g:
        f1 = g.submit(1, errback=lambda e: errbacked.append(("a", e)))
        f2 = g.submit(2, callback=bad_callback,
                      errback=lambda e: errbacked.append(("b", e)))
        f3 = g.submit(3, errback=lambda e: errbacked.append(("c", e)))
        g.flush()
        assert f1.result(5) == 10          # delivered before the explosion
        assert f2.result(5) is boom        # exception as a value, not raised
        assert f3.result(5) is boom
    assert [tag for tag, _ in errbacked] == ["a", "b", "c"]
    assert all(e is boom for _, e in errbacked)


def test_rejected_user_executor_delivers_error_not_hang():
    """If a caller-supplied executor rejects submission (e.g. its owner
    already shut it down), the rejection is delivered as a value to the
    batch and the dispatcher thread survives — not a silent hang."""
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=1)
    ex.shutdown(wait=True)  # the owner shuts it down out from under us
    g = make(lambda xs: [x * 2 for x in xs], pool=ex)
    try:
        fut = g.submit(5)
        g.flush()
        res = fut.result(5)  # error-as-value, never a timeout/hang
        assert isinstance(res, RuntimeError)
        # dispatcher is still alive and the grouper still accepts work
        assert g.is_running()
        fut2 = g.submit(6)
        g.flush()
        assert isinstance(fut2.result(5), RuntimeError)
    finally:
        g.shutdown()


# -- Request: the reference's deftype, slotted -----------------------------


def test_request_construction_compat():
    from concurrent.futures import Future

    from grouper_spark.streaming import Request

    a, b = Request(1), Request(2)
    assert isinstance(a.future, Future) and not a.future.done()
    assert a.future is not b.future
    cb, eb, fut = print, repr, Future()
    pos = Request("x", fut, cb, eb)
    kw = Request(obj="x", future=fut, callback=cb, errback=eb)
    for r in (pos, kw):
        assert (r.obj, r.future, r.callback, r.errback) == ("x", fut, cb, eb)
    assert (Request(0).callback, Request(0).errback) == (None, None)
    assert not hasattr(a, "__dict__")


# -- engine futures: stdlib-compatible, one lock each ----------------------


def test_cancelled_future_is_dropped_from_its_batch():
    """Like the stdlib executors: a future cancelled before the drain is
    dropped, so proc_fn, callbacks and errbacks never see it and the
    rest of its batch is delivered normally."""
    seen, cbs, errs = [], [], []
    with make(lambda xs: seen.append(list(xs)) or [x * 10 for x in xs]) as g:
        fs = [g.submit(i, callback=cbs.append, errback=errs.append)
              for i in range(5)]
        assert fs[1].cancel()
        g.flush()
        assert [fs[i].result(5) for i in (0, 2, 3, 4)] == [0, 20, 30, 40]
    assert fs[1].cancelled()
    with pytest.raises(CancelledError):
        fs[1].result(0)
    assert seen == [[0, 2, 3, 4]]
    assert cbs == [0, 20, 30, 40] and errs == []


def test_engine_future_is_a_stdlib_future():
    called = []
    callback_ran = threading.Event()

    def on_done(fut):
        called.append(fut)
        callback_ran.set()

    with make(lambda xs: [x + 1 for x in xs]) as g:
        f = g.submit(1)
        assert isinstance(f, Future)
        assert not f.done() and "state=pending" in repr(f)
        with pytest.raises(TimeoutError):
            f.result(0.01)
        with pytest.raises(TimeoutError):
            f.exception(0)
        f.add_done_callback(on_done)  # before resolution: runs on delivery
        g.flush()
        assert f.result(5) == 2 and f.exception(0) is None and f.done()
        assert callback_ran.wait(5) and called == [f]
        f.add_done_callback(called.append)  # after resolution: runs at once
        assert called == [f, f]
        assert "state=finished returned int" in repr(f)


def test_engine_futures_work_with_wait_and_as_completed():
    """Three batches of three (capacity 3, one runner per batch), each
    held at a gate: ``wait`` and ``as_completed`` see them resolve
    batch by batch."""
    gates = [threading.Event() for _ in range(3)]
    batches = []

    def proc(xs):
        batches.append(list(xs))
        gates[xs[0] // 3].wait(10)
        return [x * 2 for x in xs]

    with Grouper(proc, capacity=3, interval=None, pool=2) as g:
        futs = [g.submit(i) for i in range(9)]
        g.flush()
        done, pending = wait(futs, timeout=0.05)
        assert not done and len(pending) == 9
        gates[0].set()
        done, _ = wait(futs, timeout=5, return_when=FIRST_COMPLETED)
        assert done and done <= set(futs[:3])
        it = as_completed(futs, timeout=10)
        for k in range(3):
            assert {next(it) for _ in range(3)} == set(futs[3 * k:3 * k + 3])
            if k < 2:
                gates[k + 1].set()
        done, pending = wait(futs, timeout=5)
        assert done == set(futs) and not pending
        assert [f.result(0) for f in futs] == [2 * i for i in range(9)]
    assert sorted(batches) == [[0, 1, 2], [3, 4, 5], [6, 7, 8]]


def test_submit_allocates_at_most_five_gc_objects():
    """A submit makes a Request, its future, the future's two lists and
    one lock; no threading.Condition (12 objects per submit with the
    stdlib Future, whose churn set off a full collection per block)."""
    n = 1000
    futs = [None] * n
    g = make(lambda xs: xs, capacity=n)
    try:
        gc.collect()
        gc.disable()
        try:
            before = len(gc.get_objects())
            for i in range(n):
                futs[i] = g.submit(i)
            after = len(gc.get_objects())
        finally:
            gc.enable()
        g.flush()
        assert [f.result(5) for f in futs] == list(range(n))
    finally:
        g.shutdown()
    assert (after - before) / n <= 5


def test_many_waiters_each_get_their_own_result():
    """64 threads each loop submit(x).result(5) for about a second with
    pool 4 and a 1 µs switch interval: every value is its own item's,
    and no wake is lost. A lost wake leaves its waiter asleep until the
    timeout, after which result() reads the state and returns the value,
    so the test times each call."""
    errors = []
    counts = [0] * 64
    stop = time.monotonic() + 1.0

    def client(k):
        i = 0
        while time.monotonic() < stop:
            x = k * 1_000_000 + i
            t0 = time.monotonic()
            try:
                v = g.submit(x).result(5)
            except Exception as exc:
                v = exc
            if v != x + 1 or time.monotonic() - t0 > 4:
                errors.append((x, v, time.monotonic() - t0))
                return
            i += 1
        counts[k] = i

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with Grouper(lambda xs: [x + 1 for x in xs], capacity=16,
                     interval=1, pool=4) as g:
            clients = [threading.Thread(target=client, args=(k,))
                       for k in range(64)]
            for t in clients:
                t.start()
            for t in clients:
                t.join(30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in clients)
    assert errors == []
    assert all(c > 0 for c in counts)


# -- package surface: the in-process engine never imports pyspark ----------


def test_streaming_import_is_spark_free():
    code = """
import sys
from grouper_spark.streaming import Grouper, Request, start, submit, shutdown
g = start(lambda xs: [x + 1 for x in xs], capacity=10, interval=5)
assert submit(g, 1).result(5) == 2
shutdown(g)
assert "pyspark" not in sys.modules, "pyspark imported by the Grouper"
import grouper_spark.streaming as m
assert set(m.__all__) <= set(dir(m))
try:
    m.no_such_attribute
except AttributeError:
    pass
else:
    raise AssertionError("unknown attribute did not raise AttributeError")
assert m.stream is sys.modules["grouper_spark.streaming.stream"]
import grouper_spark.streaming.stream as s
assert m.grouper_process_stream is s.grouper_process_stream
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
