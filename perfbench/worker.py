"""One benchmark run, inside a fresh process that ``run.py`` starts.

Launches the engine's Spark session, imports the registry, runs the
workload's queries once untimed (the warm-up pass, whose results are
checked against the cached DuckDB oracle results), then runs timed
passes in a closed loop from this one thread until ``--seconds`` have
passed and at least MIN_TIMED_PASSES have run. Writes a JSON record with the metrics to ``--out``.

With ``--trace 1`` the timed passes are traced instead: every call
into a layer is a span with its own Spark job group, each query's two
actions (noop sink and collect) run on freshly built frames in
alternating order, and the per-layer metrics come from the spans, the
status tracker, a streaming listener and the Spark event log.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import re
import sys
import time

import stats
from spans import Tracer
from workloads import WORKLOADS

# The first timed pass after the warm-up still runs 10-25% slower than
# later ones (JIT), so a run whose budget fits a single pass would
# report a slower median than one that fits two; every run times at
# least two.
MIN_TIMED_PASSES = 2


def proc_tree() -> dict[int, tuple[str, list[str]]]:
    """This process and its descendants (the Spark JVM and its Python
    workers): pid -> (command name, the /proc stat fields after it)."""
    procs, kids = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        procs[int(entry)] = (head.split("(", 1)[1], fields)
        kids.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            tree[pid] = procs[pid]
        todo.extend(kids.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including the workers they have already reaped. Unlike
    wall time, this does not grow when the host takes CPU time away
    from the guest (steal)."""
    ticks = sum(
        sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        for _comm, fields in proc_tree().values()
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus the Spark JVM."""
    kb = 0
    for pid, (comm, _fields) in proc_tree().items():
        if pid != os.getpid() and comm != "java":
            continue
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return kb / 1024.0


def jvm_gc_s(spark) -> float:
    """GC time so far of the Spark JVM (in local mode the driver and
    the executor), from its garbage collector MXBeans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def load_oracle(path: str) -> dict:
    # Written by run.py for this scale dir.
    with open(path, "rb") as fh:
        return pickle.load(fh)


def check_result(expected, rows, cols) -> str | None:
    """None when ``rows`` match the oracle entry by oracle.compare's
    rules (column set, row count, normalised values), else why not.
    ``expected`` is (sorted columns, row count, normalised rows)."""
    from hadoop_and_spark_spark.oracle import _normalize

    ocols, ocount, orows = expected
    if sorted(cols) != ocols:
        return f"columns {sorted(cols)} != {ocols}"
    if len(rows) != ocount:
        return f"row count {len(rows)} != {ocount}"
    if _normalize([tuple(r) for r in rows], cols) != orows:
        return "values differ"
    return None


class StreamProgress:
    """Collects micro-batch progress from a StreamingQueryListener:
    (trigger time, batch seconds, state rows) per batch."""

    def __init__(self):
        self.batches: list[tuple[float, float, int]] = []

    def listener(self):
        from datetime import datetime

        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                batches.append(
                    (
                        ts.timestamp(),
                        p.batchDuration / 1000.0,
                        sum(s.numRowsTotal for s in p.stateOperators),
                    )
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()


class Runner:
    def __init__(self, spark, wl, sf_dir: str, queries: dict, oracle: dict):
        self.spark = spark
        self.wl = wl
        self.sf_dir = sf_dir
        self.queries = queries
        self.oracle = oracle
        self.attempted = 0
        self.failed = 0
        self.mismatches: dict[str, str] = {}
        self.errors: dict[str, str] = {}

    def clear(self) -> None:
        from hadoop_and_spark_spark.sources import maintenance

        maintenance.clear_session_caches()

    def execute(self, name: str):
        """Build and collect one query; returns (rows, columns), or
        None when it raised (counted as a failed execution)."""
        self.attempted += 1
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            return df.collect(), df.columns
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            self.failed += 1
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
            return None

    def check(self, name: str, result) -> None:
        if result is None or name not in self.oracle:
            return
        why = check_result(self.oracle[name], *result)
        if why is not None:
            self.failed += 1
            self.mismatches.setdefault(name, why)

    def warm_up(self, tracer: Tracer | None) -> None:
        """The untimed first pass; its results are checked against the
        oracle."""

        def check(name, result):
            if tracer is None:
                self.check(name, result)
            else:
                with tracer.span("oracle", query=name):
                    self.check(name, result)

        self.timed_pass(check)

    def timed_pass(self, on_result=None) -> dict[str, tuple[float, float]]:
        """One pass: query -> (wall seconds, CPU seconds) of its build
        + collect, for the executions that did not raise. The cache
        clearing and ``gc.collect`` between queries are not timed."""
        out = {}
        for name in self.wl.queries:
            if self.wl.cold:
                self.clear()
            gc.collect()
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            result = self.execute(name)
            t1 = time.perf_counter()
            if result is not None:
                out[name] = (t1 - t0, tree_cpu_s() - c0)
            if on_result is not None:
                on_result(name, result)
        return out

    def traced_pass(self, tracer: Tracer, index: int) -> dict[str, dict]:
        """One traced pass; query -> its measurements in this pass."""
        order = ("noop", "collect") if index % 2 == 0 else ("collect", "noop")
        out = {}
        for name in self.wl.queries:
            gc.collect()
            m = {"build_s": None, "build_jobs": None}
            with tracer.span("query", query=name) as qspan:
                for action in order:
                    if self.wl.cold:
                        with tracer.span("maintenance.clear_session_caches") as s:
                            self.clear()
                        m["clear_s"] = m.get("clear_s", 0.0) + s["end"] - s["start"]
                    self.attempted += 1
                    try:
                        with tracer.span("build") as b:
                            df = self.queries[name](self.spark, self.sf_dir)
                        with tracer.span(f"action:{action}") as a:
                            if action == "noop":
                                df.write.format("noop").mode("overwrite").save()
                            else:
                                rows = df.collect()
                    except Exception as exc:  # noqa: BLE001 — counted, run goes on
                        self.failed += 1
                        self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                        m["failed"] = True
                        break
                    if m["build_s"] is None:
                        m["build_s"] = b["end"] - b["start"]
                        m["build_jobs"] = len(tracer.job_ids(b))
                    m[action] = a
                    if action == "collect":
                        m["collect_build_s"] = b["end"] - b["start"]
                        m["result_rows"] = len(rows)
                        with tracer.span("oracle"):
                            self.check(name, (rows, df.columns))
            m["span"] = qspan
            out[name] = m
        return out


def count_jobs(tracer: Tracer, rec: dict) -> tuple[int, int, int]:
    """(jobs, stages, tasks) started while ``rec`` was innermost. A
    stage listed by several of the span's jobs counts once; a stage
    that ran no task (skipped, its shuffle output already there) not
    at all."""
    st = tracer.sc.statusTracker()
    jobs = tracer.job_ids(rec)
    sids: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        sids.update(info.stageIds if info else ())
    stages = tasks = 0
    for sid in sids:
        sinfo = st.getStageInfo(sid)
        if sinfo is not None and sinfo.numCompletedTasks > 0:
            stages += 1
            tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the Spark event log: job id -> (submit s, end s, stage
    ids), and stage id -> summed task metrics."""
    jobs, stages = {}, {}
    # Spark writes either one file per application or, with rolling
    # event logs, a directory of numbered events_* files.
    paths = sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [
                        ev["Submission Time"] / 1000.0,
                        None,
                        ev.get("Stage IDs", []),
                    ]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    acc = stages.setdefault(ev["Stage ID"], [0.0] * 6)
                    acc[0] += tm.get("Executor Run Time", 0) / 1000.0
                    acc[1] += tm.get("Executor CPU Time", 0) / 1e9
                    acc[2] += tm.get("JVM GC Time", 0) / 1000.0
                    acc[3] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    acc[4] += wr.get("Shuffle Bytes Written", 0)
                    acc[5] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs, stages


def executor_metrics(log_dir: str, query_spans: list[dict]) -> dict[str, float]:
    """Executor totals of the jobs submitted inside the traced query
    spans (by time, so a stream's micro-batch jobs, which carry the
    stream's own job group, count toward the query that ran it), and
    the scheduler gap: query wall time not covered by any of its
    jobs."""
    jobs, stages = read_event_log(log_dir)
    keys = ("executor.run_s", "executor.cpu_s", "executor.gc_s",
            "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes")
    tot = dict.fromkeys(keys, 0.0)
    gap = 0.0
    counted: set[int] = set()
    for span in query_spans:
        mine = [j for j in jobs.values() if span["start"] <= j[0] <= span["end"]]
        # A stage listed by several jobs counts once, toward the first
        # span that lists it.
        sids = {sid for _s, _e, ids in mine for sid in ids} - counted
        counted |= sids
        for sid in sids:
            for k, v in zip(keys, stages.get(sid, ())):
                tot[k] += v
        busy = stats.covered(
            (max(s, span["start"]), min(e or span["end"], span["end"]))
            for s, e, _ in mine
        )
        gap += (span["end"] - span["start"]) - busy
    tot["scheduler.gap_s"] = gap
    return tot


def oracle_tables(oracle_sql: dict, names) -> list[str]:
    """Catalog tables named in the queries' oracle SQL."""
    from hadoop_and_spark_spark.catalog import TABLES

    found = set()
    for n in names:
        sql = oracle_sql.get(n, "")
        found.update(t for t in TABLES if re.search(rf"(?<![.\w]){t}(?!\w)", sql))
    return sorted(found)


def catalog_metrics(spark, sf_dir: str, tables, tracer: Tracer) -> dict[str, float]:
    import pyarrow.parquet as pq

    from hadoop_and_spark_spark.catalog import load_table, table_path

    rows = nbytes = 0
    with tracer.span("catalog.scan") as s:
        for t in tables:
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    for t in tables:
        p = table_path(sf_dir, t)
        rows += pq.ParquetFile(p).metadata.num_rows
        nbytes += os.path.getsize(p)
    return {
        "catalog.scan_s": s["end"] - s["start"],
        "catalog.input_rows": rows,
        "catalog.input_bytes": nbytes,
    }


OPERATOR_KEYS = ("build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks",
                 "transfer_s", "result_rows")


def trace_metrics(runner, tracer, passes, modules, stream) -> tuple[dict, dict]:
    """Per-layer metrics, averaged per traced pass, and the operator
    metrics per owning module (short name from registry.query_modules).
    The ``operators.*`` metrics sum the workload's modules."""
    n = len(passes)
    per_module: dict[str, dict[str, float]] = {}
    clear_s = 0.0
    query_spans = []
    for p in passes:
        for name, m in p.items():
            query_spans.append(m["span"])
            clear_s += m.get("clear_s", 0.0)
            if m.get("failed"):
                continue
            noop, coll = m["noop"], m["collect"]
            jobs, stg, tasks = count_jobs(tracer, noop)
            noop_s = noop["end"] - noop["start"]
            values = (m["build_s"], m["build_jobs"], noop_s, jobs, stg, tasks,
                      coll["end"] - coll["start"] - noop_s, m["result_rows"])
            mod = per_module.setdefault(modules[name], dict.fromkeys(OPERATOR_KEYS, 0.0))
            for k, v in zip(OPERATOR_KEYS, values):
                mod[k] += v / n
    out = {
        f"operators.{k}": sum(mod[k] for mod in per_module.values())
        for k in OPERATOR_KEYS
    }
    out["maintenance.clear_s"] = clear_s / n
    batches = [
        b for b in stream.batches
        if any(s["start"] <= b[0] <= s["end"] for s in query_spans)
    ]
    out["streaming.batches"] = len(batches) / n
    out["streaming.batch_s"] = sum(b[1] for b in batches) / n
    out["streaming.state_rows"] = sum(b[2] for b in batches) / n
    oracle_spans = [
        s for s in tracer.spans
        if s["name"] == "oracle" and any(s["parent"] == q["id"] for q in query_spans)
    ]
    out["oracle.checked"] = sum(1 for s in oracle_spans if s["query"] in runner.oracle) / n
    out["oracle.check_s"] = sum(s["end"] - s["start"] for s in oracle_spans) / n
    return out, per_module


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--spans", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--started", type=float, required=True,
                    help="wall-clock time at which the parent started this process")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    traced = args.trace == 1
    tracer = Tracer()

    with tracer.span("run"):
        with tracer.span("setup"):
            from hadoop_and_spark_spark import registry
            from hadoop_and_spark_spark.session import get_spark
            from hadoop_and_spark_spark.sources import maintenance

            with tracer.span("session.get_spark") as s_sess:
                spark = get_spark("perfbench")
            tracer.sc = spark.sparkContext if traced else None
            with tracer.span("registry.collect") as s_reg:
                queries, oracle_sql = registry.collect()
                modules = registry.query_modules()
            stream = StreamProgress()
            if traced:
                spark.streams.addListener(stream.listener())
            runner = Runner(spark, wl, args.sf_dir, queries, load_oracle(args.oracle))
            memo0 = maintenance.MEMO_TOUCHES
            with tracer.span("warm-up"):
                runner.warm_up(tracer if traced else None)
        setup_s = time.time() - args.started
        warm_memo = maintenance.MEMO_TOUCHES - memo0

        t_end = time.perf_counter() + args.seconds
        passes: list = []
        memo1 = maintenance.MEMO_TOUCHES
        cat = {}
        if traced:
            cat = catalog_metrics(
                spark, args.sf_dir, oracle_tables(oracle_sql, wl.queries), tracer
            )
            memo1 = maintenance.MEMO_TOUCHES
            gc0 = jvm_gc_s(spark)
        while len(passes) < MIN_TIMED_PASSES or time.perf_counter() < t_end:
            if traced:
                with tracer.span("pass"):
                    passes.append(runner.traced_pass(tracer, len(passes)))
            else:
                passes.append(runner.timed_pass())
        memo_touches = (maintenance.MEMO_TOUCHES - memo1) / len(passes)
        if traced:
            gc_s = (jvm_gc_s(spark) - gc0) / len(passes)
        if traced:
            # The untraced reference pass runs last, when the JIT has
            # had the longest to warm up, so the overhead ratio errs
            # high rather than low.
            with tracer.span("pass:untraced"):
                untraced = runner.timed_pass()
    rss = peak_rss_mb()

    record = {
        "workload": wl.name,
        "traced": traced,
        "n_passes": len(passes),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "mismatches": runner.mismatches,
        "oracle_gated": sorted(n for n in wl.queries if n in runner.oracle),
        "warm_up_memo_touches": warm_memo,
    }
    if not traced:
        ran = [n for n in wl.queries if any(n in p for p in passes)]
        wall = {n: stats.median(p[n][0] for p in passes if n in p) for n in ran}
        cpu = {n: stats.median(p[n][1] for p in passes if n in p) for n in ran}
        record["query_median_s"] = wall
        record["query_median_cpu_s"] = cpu
        record["pass_s_all"] = [sum(t[0] for t in p.values()) for p in passes]
        record["pass_cpu_s_all"] = [sum(t[1] for t in p.values()) for p in passes]
        record["metrics"] = {
            "setup_s": setup_s,
            "pass_s": stats.median(record["pass_s_all"]),
            "query_geomean_s": stats.geomean(wall.values()) if ran else 0.0,
            "pass_cpu_s": stats.median(record["pass_cpu_s_all"]),
            "query_cpu_geomean_s": stats.geomean(cpu.values()) if ran else 0.0,
        }
    else:
        m, record["per_module"] = trace_metrics(runner, tracer, passes, modules, stream)
        spark.stop()  # flushes the event log
        if args.event_log:
            query_spans = [q["span"] for p in passes for q in p.values()]
            m.update({k: v / len(passes)
                      for k, v in executor_metrics(args.event_log, query_spans).items()})
        m.update(cat)
        m["session.start_s"] = s_sess["end"] - s_sess["start"]
        m["registry.collect_s"] = s_reg["end"] - s_reg["start"]
        m["maintenance.memo_touches"] = memo_touches
        m["jvm.gc_s"] = gc_s
        traced_pass = [
            sum(q["collect_build_s"] + q["collect"]["end"] - q["collect"]["start"]
                for q in p.values() if not q.get("failed"))
            for p in passes
        ]
        m["trace.pass_s"] = stats.median(traced_pass)
        m["trace.untraced_pass_s"] = sum(t[0] for t in untraced.values())
        m["trace.overhead_ratio"] = (
            m["trace.pass_s"] / m["trace.untraced_pass_s"]
            if m["trace.untraced_pass_s"] else 0.0
        )
        m["oracle.mismatches"] = len(runner.mismatches)
        m["process.peak_rss_mb"] = rss
        self_s: dict[str, float] = {}
        for span_id, t in stats.self_times(tracer.spans).items():
            name = tracer.spans[span_id]["name"]
            self_s[name] = self_s.get(name, 0.0) + t
        record["self_time_s"] = self_s
        record["metrics"] = m
        if args.spans:
            tracer.write(args.spans)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if not traced:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
