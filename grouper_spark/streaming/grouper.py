"""The Grouper micro-batch engine: asynchronous bounded-queue batching
with per-item result delivery.

Semantics re-implemented from the reference's contract (see
/root/reference/src/grouper/core.clj — API `start!`/`submit!`/`shutdown!`
at core.clj:99-155, batch apply at core.clj:68-83), re-expressed for a
Spark world. Preserved invariants (SURVEY.md §2.B):

1.  FIFO within batch (bounded FIFO queue, drained in order).
2.  Positional result identity (i-th result ↔ i-th submitted item).
3.  Scalar broadcast: non-sequence proc result delivered to every item.
4.  Pad & truncate: short results padded with None, long truncated.
5.  Callback invoked before the future resolves. A callback that
    *raises* falls into the batch failure path (reference body-fn's
    outer catch, core.clj:68-83): errbacks fire for every request in
    the batch and every not-yet-delivered future receives the
    exception as its value (already-delivered futures keep their
    results, mirroring Clojure ``deliver``'s no-op on re-delivery).
6.  Batch-granular failure: one bad item fails its whole batch; the
    exception is delivered *as the result value* to every item (deref
    returns it, does not raise) and to every errback. No retry.
    (Deviation, documented: a *raising errback* is swallowed rather
    than aborting delivery to the remaining requests — the reference
    would leave their promises undelivered forever.)
7.  Two flush triggers: interval timer OR queue-full.
8.  Producer backpressure: submit blocks while the queue is full. A
    blocked submit wakes a runner first, and the drain takes the
    queue atomically, so the blocked item lands at the head of the
    NEXT batch — as with the reference's atomic
    ``ArrayBlockingQueue.drainTo``. Under size-only flushing
    (``interval=None``) it waits for the next queue-full, flush or
    shutdown. A second wake after the put would split size-only
    batches (30 → 57 batches at 1k items/s and capacity 100, measured
    on a 4-core host), so none is made.
9.  Closed-state rejection: submit after close raises
    RuntimeError("Grouper is closed").
10. Drain-on-shutdown: close() flushes everything already queued.
11. Bounded in-flight batches. No pool → batches process on the single
    dispatcher thread. pool=N → N + 1 runners (the dispatcher and N
    workers) each loop wait → drain → process, so a runner that
    finishes a batch takes the next one itself, at most N + 1 batches
    are in flight, and when every runner is busy the queue fills and
    backpressure reaches producers — the bound of the reference's
    SynchronousQueue + CallerRunsPolicy pool (core.clj:85-97), where
    the dispatcher runs a batch itself when every worker is busy. The
    runners share one interval deadline, reset at each drain, so the
    flush rate does not grow with N. ``pool`` may also be an existing
    executor instance (reference start! accepts an ExecutorService,
    core.clj:108-122) — then the dispatcher alone drains and submission
    is whatever that executor does, and shutdown() still shuts it down
    (core.clj:64-66 shuts the pool down unconditionally).

Spark integration: ``proc_fn`` is a plain ``seq -> seq`` function
(reference-style, runs on a runner or executor thread). A
``DataFrame -> DataFrame`` batch function goes in through
``grouper_spark.streaming.dataframe_proc_fn(spark, fn)``, which hands
the batch over as ``(idx: long, value)`` rows and maps the returned
``(idx, result)`` rows back to positions. For continuous sources use
``grouper_process_stream`` (Structured Streaming foreachBatch with the
same normalization semantics).

This module needs only the standard library: importing it, or the
``grouper_spark.streaming`` package, does not import pyspark. Spark is
imported only when a stream helper, such as ``dataframe_proc_fn``, is
first accessed.

Each submitted item gets one ``_Future``: a ``concurrent.futures.Future``
that is its own condition. The stdlib ``Future.__init__`` builds a
``threading.Condition`` (an RLock, a deque and five bound methods), so a
submit made 12 GC-tracked objects and a 10,000-item block set off ~160
collections, one a full one, that stopped every thread for ~50 ms. The
engine future holds one plain lock and makes a lock for a waiting thread
only while it waits, so a submit makes 5 and each waiter still wakes on
its own future alone. ``Request``'s default future is the same type.
As in the stdlib executors, a drain marks each future running and drops
the ones already cancelled, so ``proc_fn`` never sees them.
"""

from __future__ import annotations

import queue as _queue
import threading
import time
from concurrent.futures import Future, _base
from typing import Any, Callable

__all__ = ["Grouper", "Request", "start", "submit", "shutdown"]


class _Future(Future):
    """A ``Future`` that serves as its own condition (module docstring).

    It sets the state fields ``Future.__init__`` would, without the
    ``threading.Condition``, and implements the part of the Condition
    protocol that ``Future`` and ``concurrent.futures.wait`` /
    ``as_completed`` use: ``with``, ``acquire``, ``release``,
    ``wait(timeout)`` and ``notify_all``."""

    def __init__(self) -> None:
        self._condition = self
        self._lock = threading.Lock()
        self._sleepers: list | None = None  # one lock per waiting thread
        self._state = _base.PENDING
        self._result = None
        self._exception = None
        self._waiters: list = []
        self._done_callbacks: list = []

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        return self._lock.acquire(blocking, timeout)

    __enter__ = acquire

    def release(self) -> None:
        self._lock.release()

    def __exit__(self, *exc) -> None:
        self._lock.release()

    def wait(self, timeout: float | None = None) -> bool:
        """``Condition.wait``: called with the lock held; parks on a
        fresh lock until ``notify_all`` releases it or the timeout
        passes. True when notified."""
        sleeper = threading.Lock()
        sleeper.acquire()
        if self._sleepers is None:
            self._sleepers = []
        self._sleepers.append(sleeper)
        self._lock.release()
        try:
            if timeout is None:
                woken = sleeper.acquire()
            elif timeout > 0:
                woken = sleeper.acquire(True, timeout)
            else:
                woken = sleeper.acquire(False)
        finally:
            self._lock.acquire()
        if not woken and sleeper in (self._sleepers or ()):
            self._sleepers.remove(sleeper)
        return woken

    def notify_all(self) -> None:
        sleepers, self._sleepers = self._sleepers, None
        for sleeper in sleepers or ():
            sleeper.release()


class Request:
    """One submitted item (reference: deftype Request, core.clj:13-17).

    ``future=None`` gives the request a fresh engine ``Future`` of its
    own."""

    __slots__ = ("obj", "future", "callback", "errback")

    def __init__(
        self,
        obj: Any,
        future: Future | None = None,
        callback: Callable[[Any], Any] | None = None,
        errback: Callable[[BaseException], Any] | None = None,
    ) -> None:
        self.obj = obj
        self.future = _Future() if future is None else future
        self.callback = callback
        self.errback = errback


class _BoundedFifo:
    """Minimal bounded FIFO for the submit→runner handoff.

    ``queue.Queue`` pays a ``not_empty.notify()`` inside EVERY put —
    but this engine's runners never wait on not_empty (they have their
    own wake condition, woken on queue-full or flush), so that notify
    was pure per-item overhead on the producer's hot path, and a
    per-item ``get_nowait`` re-acquired the same mutex N times per
    drain. This keeps exactly the two operations the engine
    needs — put with capacity backpressure, bulk drain under one lock
    acquisition — with identical FIFO order and blocking semantics."""

    def __init__(self, maxsize: int) -> None:
        from collections import deque

        self._maxsize = maxsize
        self._dq: Any = deque()
        self._mutex = threading.Lock()
        self._not_full = threading.Condition(self._mutex)

    def put_nowait(self, item: Any) -> None:
        with self._mutex:
            if len(self._dq) >= self._maxsize:
                raise _queue.Full
            self._dq.append(item)

    def put(self, item: Any) -> None:
        with self._not_full:
            while len(self._dq) >= self._maxsize:
                self._not_full.wait()
            self._dq.append(item)

    def drain(self) -> list:
        """All queued items, FIFO, under one mutex acquisition; wakes
        every producer blocked on capacity."""
        with self._not_full:
            items = list(self._dq)
            self._dq.clear()
            if items:
                self._not_full.notify_all()
        return items


class Grouper:
    """Asynchronous micro-batching engine.

    Parameters mirror the reference's ``start!`` options
    (core.clj:99-136): ``capacity`` (required, bounded queue size),
    ``interval`` (flush period in **milliseconds**, or None for
    size-only flushing), ``pool`` (worker thread count; None processes
    batches on the dispatcher thread alone).
    """

    def __init__(
        self,
        proc_fn: Callable,
        *,
        capacity: int,
        interval: float | None = None,
        pool: int | None = None,
    ) -> None:
        # Option validation mirroring the reference's :pre asserts
        # (core.clj:111-117), surfaced as Python exceptions.
        if not callable(proc_fn):
            raise TypeError("proc_fn must be callable")
        if not isinstance(capacity, int) or isinstance(capacity, bool) or capacity <= 0:
            raise ValueError("capacity must be a positive int")
        if interval is not None and (
            not isinstance(interval, (int, float)) or interval <= 0
        ):
            raise ValueError("interval must be a positive number of ms, or None")
        is_executor = pool is not None and callable(getattr(pool, "submit", None))
        if pool is not None and not is_executor and (
            not isinstance(pool, int) or isinstance(pool, bool) or pool <= 0
        ):
            raise ValueError(
                "pool must be a positive int, an executor instance, or None"
            )

        self._proc_fn = proc_fn
        self._interval_s = None if interval is None else interval / 1000.0
        self._queue = _BoundedFifo(capacity)
        # pool=N → N workers drain alongside the dispatcher (invariant
        # 11); pool=<executor> → the dispatcher drains and submits to it
        # (reference ExecutorService path).
        self._executor = pool if is_executor else None
        workers = 0 if is_executor or pool is None else pool
        self._running = True
        self._wake = threading.Condition()
        self._notified = False
        self._deadline = time.monotonic() + (self._interval_s or 0.0)
        self._runners = [
            threading.Thread(target=self._run, name=name, daemon=True)
            for name in ["grouper-dispatcher"]
            + [f"grouper-worker-{i}" for i in range(workers)]
        ]
        for t in self._runners:
            t.start()

    # -- public API (submit! / shutdown!, core.clj:138-155) ---------------

    def submit(
        self,
        obj: Any,
        *,
        callback: Callable[[Any], Any] | None = None,
        errback: Callable[[BaseException], Any] | None = None,
    ) -> Future:
        """Enqueue one item; returns a Future for its result.

        Blocks when the queue is full (producer backpressure) after
        waking a runner for an early size-triggered flush
        (reference: core.clj:39-45).
        """
        if not self._running:
            raise RuntimeError("Grouper is closed")
        req = Request(obj, _Future(), callback, errback)
        try:
            self._queue.put_nowait(req)
        except _queue.Full:
            self._wake_up()
            self._queue.put(req)  # blocking put: backpressure
        return req.future

    def flush(self) -> None:
        """Wake a runner for an immediate drain (test/ops helper)."""
        self._wake_up()

    def shutdown(self) -> None:
        """Graceful drain-then-stop (reference: core.clj:58-66,152-155):
        already-queued items are processed before termination."""
        with self._wake:
            if not self._running:
                return
            self._running = False
            self._wake.notify_all()
        for t in self._runners:
            t.join()
        if self._executor is not None and hasattr(self._executor, "shutdown"):
            # Unconditional, even for a caller-supplied executor — the
            # reference shuts the pool down either way (core.clj:64-66).
            self._executor.shutdown(wait=True)

    close = shutdown

    def __enter__(self) -> "Grouper":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()

    def is_running(self) -> bool:
        """SPI parity with the reference's IGrouper.isRunning
        (core.clj:19-24)."""
        return self._running

    # -- runners (dispatcher loop, core.clj:124-135) ------------------------

    def _wake_up(self) -> None:
        with self._wake:
            self._notified = True
            self._wake.notify()

    def _next_batch(self) -> list[Request]:
        """Wait for a wake, the shared interval deadline, or shutdown
        (forever when interval is None: size-only flushing,
        README.md:94-96), then drain the whole queue, FIFO, under one
        mutex acquisition. The drain consumes the wake and resets the
        deadline for every runner, so idle runners never flush on
        timers of their own."""
        with self._wake:
            while self._running and not self._notified:
                if self._interval_s is None:
                    self._wake.wait()
                elif (left := self._deadline - time.monotonic()) > 0:
                    self._wake.wait(left)
                else:
                    break
            self._notified = False
            if self._interval_s is not None:
                self._deadline = time.monotonic() + self._interval_s
            return self._queue.drain()

    def _run(self) -> None:
        # "Should not terminate until queue is empty" (core.clj:124-126):
        # after shutdown a runner only stops on an empty drain.
        while (batch := self._next_batch()) or self._running:
            # Like the stdlib executors: mark each future running, and
            # drop the cancelled ones before proc_fn sees the batch.
            batch = [
                r for r in batch if r.future.set_running_or_notify_cancel()
            ]
            if batch and self._executor is None:
                self._process(batch)
            elif batch:
                # user-supplied executor: its own submission policy rules.
                # It may also reject (e.g. its owner already shut it
                # down) — deliver the rejection as a value instead of
                # letting it kill the dispatcher thread (which would
                # strand every in-flight future and block producers).
                try:
                    self._executor.submit(self._process, batch)
                except Exception as exc:
                    self._deliver_error(batch, exc)

    # -- batch apply (body-fn, core.clj:68-83) ------------------------------

    def _process(self, batch: list[Request]) -> None:
        objs = [r.obj for r in batch]
        try:
            result = self._proc_fn(objs)
            # Scalar broadcast (core.clj:73): non-sequence → every item.
            if isinstance(result, (str, bytes)) or not hasattr(result, "__iter__"):
                results = [result] * len(batch)
            else:
                results = list(result)
                # Pad short / truncate long (core.clj:74-76).
                if len(results) < len(batch):
                    results += [None] * (len(batch) - len(results))
                else:
                    results = results[: len(batch)]
            for req, res in zip(batch, results):
                # A raising callback falls through to the outer catch —
                # batch-granular errbacks, like the reference body-fn
                # (core.clj:77-83) where the callback runs inside the try.
                if req.callback is not None:
                    req.callback(res)
                req.future.set_result(res)
        except Exception as exc:
            self._deliver_error(batch, exc)

    def _deliver_error(self, batch: list[Request], exc: Exception) -> None:
        # Batch-granular failure: exception delivered AS A VALUE to
        # every item (deref returns it), plus errbacks (core.clj:80-83).
        # Already-delivered futures keep their results (Clojure
        # `deliver` is a no-op on a realized promise); errback errors
        # are swallowed so one bad errback can't strand the rest.
        for req in batch:
            if req.errback is not None:
                try:
                    req.errback(exc)
                except Exception:
                    pass
            if not req.future.done():
                req.future.set_result(exc)


# -- functional API mirroring the reference (start!/submit!/shutdown!,
# -- core.clj:99-155) ------------------------------------------------------


def start(proc_fn: Callable, **options) -> Grouper:
    """``start!`` parity: build and start a Grouper.

    ``start(fn, capacity=100, interval=50, pool=4)`` mirrors
    ``(start! fn :capacity 100 :interval 50 :pool 4)``.
    """
    return Grouper(proc_fn, **options)


def submit(grouper: Grouper, obj: Any, *, callback=None, errback=None) -> Future:
    """``submit!`` parity: enqueue one item, get a deref-able handle."""
    return grouper.submit(obj, callback=callback, errback=errback)


def shutdown(grouper: Grouper) -> None:
    """``shutdown!`` parity: drain everything queued, then stop."""
    grouper.shutdown()
