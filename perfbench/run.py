"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload corpus-4x --seed 1 --seconds 6 --trace 0

Run from the repository root. The run

1. generates the workload's seeded inputs (or reuses them) and the
   DuckDB oracle results for them (timed as ``gen_s``, outside
   ``setup_s``);
2. starts ``worker.py`` in a fresh process with a fresh TMPDIR, Spark
   local dir and warehouse dir, ``SPARK_GRAFT_CPUS`` set to the usable
   cores and the repository root on PYTHONPATH (the Arrow workers
   import the engine from it);
3. waits for the worker and every process it started, records the
   bytes of on-disk artifacts the run left and deletes them;
4. writes the full record (metrics, host, per-query detail) under
   ``perfbench/_work/results/`` and prints, as the last line of
   stdout, ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

It exits non-zero without printing a result when it cannot run the
engine (for example when the engine package is not next to it).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import shutil
import signal
import subprocess
import sys
import time

import gen
from workloads import WORKLOADS

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
KEEP_SCALE_DIRS = 4
# The whole run must end within 180 s: generation, the worker, and up
# to 15 s of waiting for its processes to stop.
WORKER_TIMEOUT_S = 150.0


def spec_metrics(key: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[key]


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prune_scale_dirs(data_root: str, keep: str) -> None:
    """Keep the KEEP_SCALE_DIRS most recently used scale dirs."""
    dirs = [
        os.path.join(data_root, d)
        for d in os.listdir(data_root)
        if os.path.isfile(os.path.join(data_root, d, "MARKER"))
    ]
    dirs.sort(key=lambda d: os.path.getmtime(os.path.join(d, "MARKER")), reverse=True)
    for d in dirs[KEEP_SCALE_DIRS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def ensure_oracle(sf_dir: str, wl) -> str:
    """DuckDB oracle results for the workload's queries on this scale
    dir, computed once and cached next to the inputs."""
    from hadoop_and_spark_spark.oracle import _normalize, duckdb_connect
    from hadoop_and_spark_spark.registry import collect

    _, oracle_sql = collect()
    sqls = {n: oracle_sql[n] for n in wl.queries if n in oracle_sql}
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(sf_dir, f"oracle-{wl.name}-{key}.pkl")
    if os.path.exists(path):
        return path
    expected = {}
    con = duckdb_connect(sf_dir)
    try:
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = [tuple(r) for r in res.fetchall()]
            expected[name] = (sorted(cols), len(rows), _normalize(rows, cols))
    finally:
        con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(expected, fh)
    os.rename(tmp, path)
    return path


def disk_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def cpu_ticks() -> list[int]:
    """The host's CPU time so far, in ticks per state (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _group_pids(pgid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def stop_group(pgid: int) -> None:
    """Wait until the worker's process group (the Spark JVM and its
    Python workers) has ended: first on its own, as the JVM runs its
    shutdown hooks, then by SIGTERM, then by SIGKILL."""
    start = time.monotonic()
    while _group_pids(pgid):
        waited = time.monotonic() - start
        if waited > 10.0:
            try:
                os.killpg(pgid, signal.SIGTERM if waited < 15.0 else signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.1)


def host_record(env: dict) -> dict:
    """The host and the settings the worker ran with (``env``)."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        java = subprocess.run(
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            ["java", "-XX:-UsePerfData", "-version"],
            capture_output=True, text=True, timeout=30,
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    import pyspark

    return {
        "cores": usable_cpus(),
        "mem_total_kb": mem_kb,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "commit": commit,
        "spark_graft_env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")},
    }


def run_worker(args, wl, sf_dir: str, oracle_path: str, run_dir: str, out: str):
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "events")}
    for p in paths.values():
        os.makedirs(p)
    submit = [f"--conf spark.sql.warehouse.dir={paths['warehouse']}"]
    if args.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{paths['events']}",
        ]
    env = dict(
        os.environ,
        TMPDIR=paths["tmp"],
        SPARK_LOCAL_DIRS=paths["local"],
        SPARK_GRAFT_CPUS=str(usable_cpus()),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "worker.py"),
        "--workload", wl.name, "--sf-dir", sf_dir, "--oracle", oracle_path,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
        "--started", repr(time.time()),
    ]
    if args.trace:
        cmd += ["--event-log", paths["events"],
                "--spans", os.path.join(os.path.dirname(out), "spans.json")]
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    # Share of the host's CPU time the hypervisor took while the worker
    # ran: the wall and CPU times of a run rise with it.
    steal_share = ticks[7] / sum(ticks) if sum(ticks) else 0.0
    artifact_bytes = disk_bytes(paths["tmp"]) + disk_bytes(paths["warehouse"])
    return rc, artifact_bytes, steal_share, env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_and_spark_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]

    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    t0 = time.perf_counter()
    sf_dir, generated = gen.ensure_scale_dir(data_root, args.seed, wl.factor)
    oracle_path = ensure_oracle(sf_dir, wl)
    gen_s = time.perf_counter() - t0
    os.utime(os.path.join(sf_dir, "MARKER"))
    prune_scale_dirs(data_root, sf_dir)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    res_dir = os.path.join(
        WORK, "results", wl.name, f"{stamp}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(res_dir)
    out = os.path.join(res_dir, "record.json")
    run_dir = os.path.join(WORK, "runs", os.path.basename(res_dir))
    try:
        rc, artifact_bytes, steal_share, env = run_worker(
            args, wl, sf_dir, oracle_path, run_dir, out
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        print(f"worker failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as fh:
        record = json.load(fh)

    if args.trace:
        record["metrics"]["maintenance.artifact_bytes"] = artifact_bytes
    metrics = {
        m["name"]: {"value": record["metrics"][m["name"]], "unit": m["unit"]}
        for m in spec_metrics("per_layer" if args.trace else "end_to_end")
    }
    record.update(
        seed=args.seed,
        seconds=args.seconds,
        gen_s=gen_s,
        generated=generated,
        artifact_bytes=artifact_bytes,
        steal_share=steal_share,
        host=host_record(env),
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(
        f"# {wl.name} seed={args.seed} gen_s={gen_s:.2f} passes={record['n_passes']} "
        f"steal={steal_share:.3f} "
        f"record={os.path.relpath(out, ROOT)}",
        file=sys.stderr,
    )
    for name, why in {**record["errors"], **record["mismatches"]}.items():
        print(f"# FAILED {name}: {why}", file=sys.stderr)
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
