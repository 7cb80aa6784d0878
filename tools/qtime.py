"""Isolated per-query timing and equality-gated A/B (guide §1): one
warm-up pass, then N interleaved timed passes over the named entries,
min per entry — bench.py's protocol scoped to a few queries for
optimization work.

Usage: python tools/qtime.py [-n PASSES] [--noop] <entry> [entry ...]
  entry: a registered query name, or ``pkg.module:function`` — a
  candidate variant with the query signature (spark, sf_dir) ->
  DataFrame, imported from the repo root or PYTHONPATH.
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.

Equality gate: the warm-up pass collects every entry, and each
variant's sorted rows must equal those of the first registered query
in the list before any timing; a mismatch, or a variant with no
registered query to compare against, exits non-zero. A faster but
different variant can therefore never be timed.

Times .collect() (the bench action) so numbers are comparable with
BENCH_QUERIES.json rows; pass --noop to time a noop-sink write
instead (computes every column, excludes driver row transfer).

Memoized entries are timed cold: an entry whose warm-up run touches
the session memo (``maintenance.MEMO_TOUCHES`` grows) would otherwise
time memo hits (about 0.02 s for a streaming replay), so the session
caches are cleared before each of its timed invocations, outside the
timer, and its row carries ``"cold": true``.

Every invocation runs in its own Spark job group, so each row also
reports the jobs one invocation starts (its actions plus the stage
jobs AQE submits). Prints {entry: {"min_s": ..., "jobs": ...}}.
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_and_spark_spark.registry import collect
from hadoop_and_spark_spark.session import get_spark
from hadoop_and_spark_spark.sources import maintenance

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _resolve(entry: str, queries: dict):
    """A registered query by name, or a ``pkg.module:function``
    variant imported by path."""
    if ":" not in entry:
        return queries[entry]
    modname, fname = entry.split(":", 1)
    return getattr(importlib.import_module(modname), fname)


def _sorted_rows(rows) -> list:
    # repr as the sort key: rows may mix NULLs with values, which
    # tuples cannot order directly.
    return sorted((tuple(r) for r in rows), key=repr)


def main() -> int:
    args = sys.argv[1:]
    n_passes = 3
    noop = False
    if "-n" in args:
        i = args.index("-n")
        n_passes = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    if "--noop" in args:
        noop = True
        args.remove("--noop")
    names = args
    queries, _ = collect()
    fns = {name: _resolve(name, queries) for name in names}
    variants = [name for name in names if ":" in name]
    ref = next((name for name in names if ":" not in name), None)
    if variants and ref is None:
        print(f"no registered query to gate {variants} against", file=sys.stderr)
        return 2

    spark = get_spark("qtime")
    sc = spark.sparkContext

    def group(name: str, p: int) -> str:
        return f"qtime:{name}#{p}"

    cold: set[str] = set()

    def warm(name: str) -> list:
        touches = maintenance.MEMO_TOUCHES
        rows = _sorted_rows(fns[name](spark, SF_DIR).collect())
        if maintenance.MEMO_TOUCHES > touches:
            cold.add(name)
        return rows

    def run(name: str, p: int) -> float:
        if name in cold:
            maintenance.clear_session_caches()
        gc.collect()
        sc.setJobGroup(group(name, p), group(name, p))
        t0 = time.perf_counter()
        df = fns[name](spark, SF_DIR)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return time.perf_counter() - t0

    # warm-up (codegen + build-once artifacts + worker pool); the
    # entries' own warm-up runs are the equality gate's collects
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    ncpu = sc.defaultParallelism
    spark.range(ncpu, numPartitions=ncpu).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()
    rows = {name: warm(name) for name in names}
    for name in variants:
        same = rows[name] == rows[ref]
        print(f"equal[{name} vs {ref}]: {same}", file=sys.stderr, flush=True)
        if not same:
            want, got = rows[ref], rows[name]
            i = next(
                (i for i, (a, b) in enumerate(zip(want, got)) if a != b),
                min(len(want), len(got)),
            )
            print(
                f"  {len(want)} vs {len(got)} rows; from sorted row {i}:\n"
                f"  REF {want[i : i + 3]}\n  GOT {got[i : i + 3]}",
                file=sys.stderr,
            )
            spark.stop()
            return 1
    del rows

    passes = [{name: run(name, p) for name in names} for p in range(n_passes)]
    # Job starts reach the status tracker through the asynchronous
    # listener bus, so counts are read after all passes and the max
    # over passes is reported (a lagging read can only under-count).
    tracker = sc.statusTracker()
    out = {
        name: {
            "min_s": round(min(p[name] for p in passes), 3),
            "jobs": max(
                len(tracker.getJobIdsForGroup(group(name, p)))
                for p in range(n_passes)
            ),
            **({"cold": True} if name in cold else {}),
        }
        for name in names
    }
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
