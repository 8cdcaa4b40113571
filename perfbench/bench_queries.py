"""The queries workload: registry queries over generated parquet on
``local[nproc]``.

A sample is one query's ``fn()`` plus its terminal ``noop`` write. The
timed pass is the first run of every query in a fresh session; a second,
untimed pass collects every result and compares it with the query's
DuckDB oracle. Blocks left by ``localCheckpoint`` or cache are never
unpersisted, so the storage numbers show what piles up.
"""

from __future__ import annotations

import threading
import time

import datagen
import sparkenv
from common import Result, normalize, sort_key

# Three scan / shuffle / aggregate queries, where Spark's execution of the
# returned plan and the parquet scan do most of the work, and four whose
# wall is mostly inside fn(): ROADMAP's job-barrier queries (q146: 8 jobs
# in fn(), a404: 9) and the two driver-exact panel queries.
QUERIES = ("q01", "q12", "q13", "q146", "a404", "a440", "a459")


class _Oracles(threading.Thread):
    """Runs every oracle SQL once on DuckDB; results are read after join()."""

    def __init__(self, data_dir: str, oracles: dict[str, str]) -> None:
        super().__init__(name="perfbench-oracles", daemon=True)
        self._dir = data_dir
        self._oracles = oracles
        self.results: dict[str, object] = {}

    def run(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self._dir}/{t}.parquet'")
            for name, sql in self._oracles.items():
                try:
                    res = con.execute(sql)
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                except Exception as exc:  # reported as a failed check
                    self.results[name] = exc
                    continue
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                self.results[name] = (
                    [cols[i] for i in order],
                    sorted(
                        (tuple(normalize(r[i]) for i in order) for r in rows),
                        key=sort_key,
                    ),
                )
        finally:
            con.close()


def _registry(prefixes):
    from grouper_spark.queries import load_all

    t0 = time.perf_counter()
    reg = load_all()
    load_s = time.perf_counter() - t0
    by_prefix = {k.split("_")[0]: v for k, v in reg.items()}
    return [by_prefix[p] for p in prefixes], load_s


def _collect(spark, qdef, data_dir):
    df = qdef.fn(spark, data_dir)
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(normalize(r[c]) for c in cols) for r in df.collect()), key=sort_key
    )
    return cols, rows


def _matches(name, got, expected, log) -> bool:
    if got is None:
        return False
    if not isinstance(expected, tuple):
        log(f"{name}: oracle error {expected!r}")
        return False
    if got != expected:
        log(f"{name}: differs from oracle ({len(got[1])} vs {len(expected[1])} rows)")
        return False
    return True


def _pass(spark, qdefs, data_dir, res: Result, log, jt=None) -> dict:
    """fn() + noop write for every query: {name: (fn_s, write_s, fn, write)}.

    With a JobTrace, the jobs of each call are tagged and their stage
    totals read after the write (outside the timed calls).
    """
    out = {}
    for q in qdefs:
        res.attempted += 1
        try:
            if jt:
                jt.tag(f"pb.{q.name}.fn")
            t0 = time.perf_counter()
            df = q.fn(spark, data_dir)
            t1 = time.perf_counter()
            if jt:
                jt.tag(f"pb.{q.name}.write")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:
            log(f"{q.name}: {type(exc).__name__}: {exc}")
            res.failed += 1
            continue
        finally:
            if jt:
                jt.tag(None)
        stats = (jt.read(f"pb.{q.name}.fn"), jt.read(f"pb.{q.name}.write")) if jt else (None, None)
        out[q.name] = (t1 - t0, t2 - t1) + stats
    return out


def _wall(samples: dict) -> float:
    return sum(fn_s + write_s for fn_s, write_s, _, _ in samples.values())


def run(*, seed, trace, sf, work_dir, cpus, t_start, log) -> Result:
    data_dir = datagen.write(f"{work_dir}/data", seed, sf)
    qdefs, load_s = _registry(QUERIES)
    spark, start_s = sparkenv.start_session(work_dir)
    try:
        probe_s = sparkenv.jvm_probe_s(spark, cpus)
        res = Result(attempted=0, failed=0)
        jt = sparkenv.JobTrace(spark) if trace else None
        res.metrics["setup_s"] = (time.perf_counter() - t_start, "s")

        # The timed sample: every query's first run in a fresh session, as
        # a Spark application runs it. Warm re-runs of these small queries
        # are bound by job-scheduling latency and swung two to three times
        # more between runs on a shared host than first runs, which are
        # bound by plan compilation.
        cold = _pass(spark, qdefs, data_dir, res, log, jt)
        res.metrics["wall_s"] = (_wall(cold), "s")
        storage_after = [sparkenv.storage(spark)]

        # Untimed oracle check: DuckDB computes the expected results while
        # Spark collects its own.
        t0 = time.perf_counter()
        oracles = _Oracles(data_dir, {q.name: q.oracle for q in qdefs})
        oracles.start()
        got = {}
        for q in qdefs:
            res.attempted += 1
            try:
                got[q.name] = _collect(spark, q, data_dir)
            except Exception as exc:
                log(f"{q.name}: {type(exc).__name__}: {exc}")
        t1 = time.perf_counter()
        oracles.join()
        log(f"check: spark {t1 - t0:.1f} s, oracles done at {time.perf_counter() - t0:.1f} s")
        for q in qdefs:
            res.failed += not _matches(q.name, got.get(q.name), oracles.results.get(q.name), log)
        res.context.update(
            jvm_probe_s=probe_s,
            session_start_s=start_s,
            cold_s={k: round(v[0] + v[1], 4) for k, v in cold.items()},
        )
        if not trace:
            return res

        L = res.layer
        _layer_metrics(L, cold)
        # Tracing overhead: a traced warm pass between two plain ones, so
        # the JIT still warming favours neither side.
        plain = _wall(_pass(spark, qdefs, data_dir, res, log))
        traced = _wall(_pass(spark, qdefs, data_dir, res, log, jt))
        plain = (plain + _wall(_pass(spark, qdefs, data_dir, res, log))) / 2.0
        storage_after.append(sparkenv.storage(spark))
        L["trace.overhead_pct"] = ((traced / plain - 1.0) * 100.0, "%")
        n_rdds, mb = storage_after[-1]
        L["storage.persisted_rdds"] = (n_rdds, "count")
        L["storage.persisted_mb"] = (mb, "MB")
        L["session.start_s"] = (start_s, "s")
        L["queries.load_all_s"] = (load_s, "s")
        L["session.jvm_rss_peak_mb"] = (sparkenv.jvm_rss_peak_mb(spark), "MB")
        res.context["storage_after_each_pass"] = [
            (n, round(mb, 2)) for n, mb in storage_after
        ]
        return res
    finally:
        sparkenv.stop_session(spark)


def _layer_metrics(L: dict, samples: dict) -> None:
    """Per-query and summed layer metrics from one traced pass."""
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0) + v

    for name, (fn_s, write_s, fn, wr) in samples.items():
        short = name.split("_")[0]
        L[f"{short}.fn_s"] = (fn_s, "s")
        L[f"{short}.fn_jobs"] = (fn["jobs"], "count")
        L[f"{short}.write_s"] = (write_s, "s")
        L[f"{short}.write_jobs"] = (wr["jobs"], "count")
        L[f"{short}.shuffle_bytes"] = (
            fn["shuffle_write_bytes"] + wr["shuffle_write_bytes"], "bytes"
        )
        add("fn_s", fn_s)
        add("write_s", write_s)
        add("fn_jobs", fn["jobs"])
        add("write_jobs", wr["jobs"])
        for k in ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "input_bytes", "input_records"):
            add(k, fn[k] + wr[k])
    L["queries.fn_s"] = (tot.get("fn_s", 0.0), "s")
    L["queries.fn_jobs"] = (tot.get("fn_jobs", 0), "count")
    L["exec.write_s"] = (tot.get("write_s", 0.0), "s")
    L["exec.write_jobs"] = (tot.get("write_jobs", 0), "count")
    L["exec.stages"] = (tot.get("stages", 0), "count")
    L["exec.tasks"] = (tot.get("tasks", 0), "count")
    L["exec.shuffle_read_bytes"] = (tot.get("shuffle_read_bytes", 0), "bytes")
    L["exec.shuffle_write_bytes"] = (tot.get("shuffle_write_bytes", 0), "bytes")
    L["sources.input_bytes"] = (tot.get("input_bytes", 0), "bytes")
    L["sources.input_records"] = (tot.get("input_records", 0), "count")
