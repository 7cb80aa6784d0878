"""Workload membership and memo behaviour.

The memo test runs every workload query once on a small generated
scale dir in a local Spark session (about a minute).
"""

import os
import tempfile

import pytest

import gen
from workloads import EXCLUDED, WORKLOADS

from hadoop_and_spark_spark.registry import collect


def test_every_query_in_one_workload_or_excluded():
    queries, _ = collect()
    seen: dict[str, str] = {}
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries), w.name
        for q in w.queries:
            assert q in queries, f"{w.name} names unknown query {q}"
            assert q not in seen, f"{q} in both {seen.get(q)} and {w.name}"
            seen[q] = w.name
    for q, why in EXCLUDED.items():
        assert q in queries, f"excluded query {q} is not registered"
        assert q not in seen, f"{q} is both excluded and in {seen[q]}"
        assert why.strip(), f"{q} is excluded without a reason"
    missing = sorted(set(queries) - set(seen) - set(EXCLUDED))
    assert not missing, f"neither run nor excluded: {missing}"


@pytest.fixture(scope="module")
def small_dirs(tmp_path_factory, monkeypatch_module):
    monkeypatch_module.setattr(gen, "BASE_SF", 0.005)
    root = str(tmp_path_factory.mktemp("perfbench-data"))
    return {f: gen.ensure_scale_dir(root, 7, f)[0] for f in {w.factor for w in WORKLOADS.values()}}


@pytest.fixture(scope="module")
def monkeypatch_module():
    mp = pytest.MonkeyPatch()
    yield mp
    mp.undo()


@pytest.fixture(scope="module")
def spark(tmp_path_factory, monkeypatch_module):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    # The engine leaves its checkpoints, state stores and indexes under
    # tempfile.gettempdir(), and Spark its block manager under its local
    # dir; keep both in pytest's temporary directory.
    tmp = str(tmp_path_factory.mktemp("engine-tmp"))
    monkeypatch_module.setenv("TMPDIR", tmp)
    monkeypatch_module.setenv("SPARK_LOCAL_DIRS", tmp)
    monkeypatch_module.setattr(tempfile, "tempdir", tmp)
    # Arrow workers are separate Python processes: they find the engine
    # through PYTHONPATH, which they inherit when the session launches.
    root = os.path.dirname(os.path.dirname(gen.__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from hadoop_and_spark_spark.session import get_spark

    return get_spark("perfbench-tests")


def test_memo_touches_by_workload(spark, small_dirs):
    from hadoop_and_spark_spark.sources import maintenance

    queries, _ = collect()
    for w in WORKLOADS.values():
        for q in w.queries:
            if w.cold:
                maintenance.clear_session_caches()
            before = maintenance.MEMO_TOUCHES
            queries[q](spark, small_dirs[w.factor]).collect()
            touched = maintenance.MEMO_TOUCHES != before
            assert touched == w.cold, f"{w.name}/{q}: memo touched={touched}"


def test_timestamps_are_tz_naive_micros(small_dirs):
    # The engine's loaders branch on the stored timestamp type; the
    # testdata stores these columns as tz-naive microseconds.
    import pyarrow as pa
    import pyarrow.parquet as pq

    for table, col in (("events", "ts"), ("orders", "o_orderdate"),
                       ("lineitem", "l_shipdate")):
        path = os.path.join(small_dirs[1], f"{table}.parquet")
        assert pq.read_schema(path).field(col).type == pa.timestamp("us")
