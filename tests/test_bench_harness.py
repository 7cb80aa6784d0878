"""bench.py session-death resilience (round 13).

The r12 driver bench lost its JVM gateway mid-run and the harness
recorded 77 bogus per-query "failures" (every later py4j call raised
[Errno 111]) plus rc 1 from the final spark.stop(). These tests pin
the fix's decision logic WITHOUT a dying JVM: the death classifier
walks exception chains correctly, and timed_run revives + retries
exactly once per death, caps total rebuilds, and never treats a
query-level failure as a session death.
"""

from __future__ import annotations

import sys
import os

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _chain(outer: Exception, inner: Exception) -> Exception:
    """exc raised `from inner` — the py4j wrapping shape."""
    outer.__cause__ = inner
    return outer


class TestSessionDied:
    def test_direct_connection_refused(self):
        assert bench._session_died(ConnectionRefusedError(111, "refused"))

    def test_py4j_network_error(self):
        from py4j.protocol import Py4JNetworkError

        assert bench._session_died(Py4JNetworkError("Answer from Java side is empty"))

    def test_wrapped_cause_chain(self):
        # Py4JError wrapping a socket death two levels down.
        from py4j.protocol import Py4JError

        inner = ConnectionResetError(104, "reset by peer")
        mid = _chain(Py4JError("error while sending"), inner)
        outer = _chain(RuntimeError("query x failed"), mid)
        assert bench._session_died(outer)

    def test_context_chain(self):
        # Implicit chaining (raised during handling of the socket error).
        outer = ValueError("post-processing failed")
        outer.__context__ = BrokenPipeError(32, "broken pipe")
        assert bench._session_died(outer)

    def test_query_level_failures_are_not_deaths(self):
        from py4j.protocol import Py4JJavaError

        assert not bench._session_died(ValueError("bad literal"))
        assert not bench._session_died(RuntimeError("AnalysisException: x"))
        # A Py4JJavaError with a healthy gateway is a QUERY failure.
        exc = Exception.__new__(Py4JJavaError)  # skip ctor's gateway call
        exc.args = ("java.lang.ArithmeticException: / by zero",)
        assert not bench._session_died(exc)

    def test_cyclic_chain_terminates(self):
        a = ValueError("a")
        b = RuntimeError("b")
        a.__context__ = b
        b.__context__ = a  # cycle
        assert not bench._session_died(a)


class TestTimedRun:
    def _state(self, revive_log: list) -> dict:
        def revive(old):
            revive_log.append(old)
            return f"session-{len(revive_log)}"

        return {"spark": "session-0", "revive": revive, "rebuilds": 0}

    def test_healthy_run_times_without_revive(self):
        log: list = []
        state = self._state(log)
        dt = bench.timed_run(state, lambda s: None)
        assert dt >= 0 and log == [] and state["rebuilds"] == 0

    def test_death_revives_and_retries_once(self):
        log: list = []
        state = self._state(log)
        calls: list = []

        def run(s):
            calls.append(s)
            if len(calls) == 1:
                raise ConnectionRefusedError(111, "refused")

        dt = bench.timed_run(state, run)
        assert dt >= 0
        assert calls == ["session-0", "session-1"]  # retried on the NEW session
        assert state["spark"] == "session-1" and state["rebuilds"] == 1

    def test_query_failure_propagates_without_revive(self):
        log: list = []
        state = self._state(log)

        def run(s):
            raise ValueError("query bug")

        with pytest.raises(ValueError):
            bench.timed_run(state, run)
        assert log == [] and state["rebuilds"] == 0

    def test_rebuild_cap(self):
        log: list = []
        state = self._state(log)
        state["rebuilds"] = bench.N_REBUILD_MAX  # cap already consumed

        def run(s):
            raise ConnectionRefusedError(111, "refused")

        with pytest.raises(ConnectionRefusedError):
            bench.timed_run(state, run)
        # past the cap: no revive attempted, the death propagates
        assert log == [] and state["rebuilds"] == bench.N_REBUILD_MAX + 1

    def test_second_death_in_retry_propagates(self):
        # timed_run retries ONCE per call; a fresh session that dies
        # immediately must surface, not loop.
        log: list = []
        state = self._state(log)

        def run(s):
            raise ConnectionRefusedError(111, "refused")

        with pytest.raises(ConnectionRefusedError):
            bench.timed_run(state, run)
        assert len(log) == 1 and state["rebuilds"] == 1


def test_revive_clears_singletons_pyspark_still_has():
    """Version guard for ``bench._revive``: it resets PySpark private
    class attributes by name, and assigning to an attribute PySpark
    renamed would silently create a new one while the real singleton
    keeps pointing at the dead JVM. Every ``Class._attr`` that
    ``_revive`` touches must still be defined on that class itself."""
    import inspect
    import re

    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql.context import SQLContext

    owners = {c.__name__: c for c in (SparkContext, SparkSession, SQLContext)}
    source = inspect.getsource(bench._revive)
    touched = set(re.findall(r"\b(SparkContext|SparkSession|SQLContext)\.(_\w+)", source))
    assert touched >= {
        ("SparkContext", "_gateway"),
        ("SparkContext", "_jvm"),
        ("SparkContext", "_lock"),
        ("SparkContext", "_active_spark_context"),
        ("SparkSession", "_instantiatedSession"),
        ("SparkSession", "_activeSession"),
        ("SQLContext", "_instantiatedContext"),
    }
    missing = sorted(f"{c}.{a}" for c, a in touched if a not in vars(owners[c]))
    assert not missing, f"PySpark no longer defines {missing}; update bench._revive"
