"""Replay-stream runtime: the one runner every registered memory-sink
stream starts through, and state partitioning sized to the micro-batch
volume.

``replay(spark, sf_dir, name, source, schema, plan, mode, read)`` is
the single start point of a registered replay query (the a7 harness:
sorted part files fed one per micro-batch, a7/EventCount.scala:62-83,
108-118). In order, it:

1. memoizes the run per (session, corpus) under ``<name>_replay`` — a
   production stream executes continuously, so re-invoking the query
   reads its sink instead of restarting the stream;
2. builds the ``ReplaySource`` directory once per corpus
   (``build_once`` under the source's marker version);
3. reads it through ``mock_stream.read_replay_stream`` (one file per
   trigger) and applies the query's own ``plan``;
4. writes a memory sink named after the query and corpus
   (``register_sink``) with a fresh ``hs_<name>_ck_`` checkpoint under
   ``Trigger.AvailableNow``;
5. starts it through ``start_and_await`` and returns
   ``read(spark.table(sink))``.

The query name is its only identifier: memo version, sink tag and
checkpoint prefix all derive from it, so two registered streams can
never share a sink. The runner adds no action of its own. The one
stream that is not a memory sink (``cdc.py``'s ``foreachBatch`` merge)
builds the same ``ReplaySource`` and starts through ``start_and_await``.

Every stateful streaming operator (windowed aggregation, streaming
dedup, stream-stream join, session windows) commits one state-store
delta file, plus its checksum files, per shuffle partition per
micro-batch — for a stream-stream join, four stores per partition. The
weekly-replay harness delivers one week of events per micro-batch (at
most about 5 k rows at 0.2x sf0.1 and 23 k at sf0.1), which one task
aggregates in milliseconds, so every state partition past the first
adds commits and checkpoint files, not parallelism:

- 32 -> 4 partitions: cold wall time of the stream-stream interval
  join replay went 49.7 s -> 13.7 s, byte-identical sink contents.
- 4 -> 1 partition (4 cores, 15 GiB, PySpark 4.1.2, JFR
  ``jdk.ProcessStart``): one cold ``event_count_hourly_stream`` run
  over 6 micro-batches writes 64 checkpoint files instead of 136 (only
  ``state/0/1..3`` are gone) and forks 73 child processes instead of
  148. The forks are Hadoop ``Shell`` ``chmod`` calls: without
  Hadoop's native library the local filesystem forks one to set the
  permissions of each file and directory it creates. The other fork source, ``readlink`` on
  every checkpoint rename, is removed by the checkpoint manager that
  ``session.get_spark`` configures (692 forks before both changes).

``start_and_await`` therefore pins ``spark.sql.shuffle.partitions`` to
a replay-appropriate value (default 1, override with
``$SPARK_GRAFT_STREAM_SHUFFLE``) around the stream start and restores
the session value afterwards. This is safe, not a semantics knob:

- The partition count is captured into the checkpoint's offset-log
  metadata at FIRST query start; a restart from an existing checkpoint
  keeps the original state partitioning regardless of the live conf
  (the stop/restart recovery test restarts under a CHANGED
  ``spark.sql.shuffle.partitions`` and pins both the recovered total
  and the on-disk state partition count).
- Row-level results are partitioning-independent — the driver's hash
  gate and every straddle/eviction witness run against the same sinks.

At production scale this knob is the real tuning surface, in the other
direction: state partitions are sized to state VOLUME and commit
throughput (e.g. hundreds for a 100 TB/day stream so each store's
delta stays small), never inherited incidentally from a batch-oriented
session default. The env override models that decision.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..sources.maintenance import (
    build_once,
    corpus_digest,
    corpus_tmp_path,
    session_memo,
    source_marker,
)
from ..sources.mock_stream import read_replay_stream

REPLAY_SHUFFLE_ENV = "SPARK_GRAFT_STREAM_SHUFFLE"
_KEY = "spark.sql.shuffle.partitions"

# Refcounted pin: replay streams run on the concurrent threads of
# registry sweeps (tests' run_queries_concurrently), and a naive
# save/set/restore pair interleaved across two streams can capture the
# OTHER stream's pinned value as "prev" and leave the session pinned
# forever. The
# first stream in saves the session value and sets the pin; the last
# one out restores it; everyone in between just counts.
_PIN_LOCK = threading.Lock()
_PIN_DEPTH = 0
_PIN_PREV: str | None = None


def replay_shuffle_partitions() -> str:
    return os.environ.get(REPLAY_SHUFFLE_ENV, "1")


def start_and_await(spark, writer) -> None:
    """Start a fully-configured ``DataStreamWriter`` under the replay
    state-partitioning and block until the availableNow trigger drains
    the source. The session's shuffle-partition setting is restored
    even if the stream fails (by whichever concurrent replay exits
    last); foreachBatch bodies intentionally run INSIDE the pinned
    conf (their per-batch merges shuffle micro-batch-sized data, same
    argument as the state stores)."""
    global _PIN_DEPTH, _PIN_PREV
    with _PIN_LOCK:
        if _PIN_DEPTH == 0:
            _PIN_PREV = spark.conf.get(_KEY)
            spark.conf.set(_KEY, replay_shuffle_partitions())
        _PIN_DEPTH += 1
    try:
        query = writer.start()
        query.awaitTermination()
    finally:
        with _PIN_LOCK:
            _PIN_DEPTH -= 1
            if _PIN_DEPTH == 0:
                spark.conf.set(_KEY, _PIN_PREV)


_STREAM_SEQ = [0]  # unique memory-sink names across repeat invocations
_SEQ_LOCK = threading.Lock()  # guards seq + _SINKS registration

# Newest memory-sink name per (query name, corpus): replay streams run
# once per (session, corpus), but the TOTALITY sweeps run every
# registered query against OTHER corpora (e.g. an empty dir), each
# starting its own stream with a fresh seq. A test that wants "the raw
# sink for MY corpus" must therefore resolve by (name, corpus), not by
# newest seq — scanning seqs downward finds whichever corpus ran last.
# Latest registration wins per key, which is exactly the session_memo
# invariant (one live replay per session+corpus).
_SINKS: dict[tuple[str, str], str] = {}


def register_sink(name: str, sf_dir: str) -> str:
    """Allocate a unique memory-sink name for query ``name`` replayed
    over ``sf_dir`` and record it as the newest sink for (name,
    corpus). The sink name embeds the corpus digest so sinks from
    different corpora can never shadow each other. Locked: replay
    queries may run on concurrent sweep threads, and a duplicated seq
    would alias two streams onto one memory-sink table."""
    digest = corpus_digest(sf_dir, width=8)
    with _SEQ_LOCK:
        _STREAM_SEQ[0] += 1
        qname = f"{name}_{digest}_{_STREAM_SEQ[0]}"
        _SINKS[(name, digest)] = qname
    return qname


def sink_table(spark, sf_dir: str, name: str) -> DataFrame:
    """The raw (pre-``read``) memory sink of the newest run of the
    registered stream ``name`` over ``sf_dir`` in this session. Raises
    KeyError if no such stream has run — callers invoke the query
    first."""
    return spark.table(_SINKS[(name, corpus_digest(sf_dir, width=8))])


@dataclass(frozen=True)
class ReplaySource:
    """One kind of replay source: a directory of one-batch parquet
    files derived from ``table``, written by ``write(spark, sf_dir,
    out_path)`` once per corpus under the ``prefix``-named tmp dir.
    ``version`` is the build marker's format version — bump it whenever
    the writer's output changes, so an old directory is rebuilt."""

    table: str
    prefix: str
    version: str
    write: Callable[..., None]

    def build(self, spark, sf_dir: str) -> str:
        """The built replay directory for ``sf_dir``. A rebuild starts
        from an empty directory, so no file of an older build (another
        week count, another naming scheme) is ever replayed."""
        out = corpus_tmp_path(self.prefix, sf_dir)

        def rebuild() -> None:
            shutil.rmtree(out, ignore_errors=True)
            self.write(spark, sf_dir, out)

        build_once(out, source_marker(sf_dir, self.table, self.version), rebuild)
        return out


# Every replay writer names its per-batch files *.parquet in delivery
# order; the build marker and staging dirs start with "_".
REPLAY_FILES = "*.parquet"


def replay(
    spark,
    sf_dir: str,
    name: str,
    source: ReplaySource,
    schema: str,
    plan: Callable[[DataFrame], DataFrame],
    mode: str = "update",
    read: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> DataFrame:
    """Run the registered replay stream ``name`` over ``sf_dir``: the
    ``source`` files read with ``schema`` one per micro-batch, through
    ``plan``, into a memory sink in output ``mode`` drained by
    availableNow;
    returns ``read`` of the sink. Memoized per (session, corpus) — see
    the module docstring for the five steps."""

    def run() -> DataFrame:
        src = source.build(spark, sf_dir)
        out = plan(read_replay_stream(spark, os.path.join(src, REPLAY_FILES), schema))
        qname = register_sink(name, sf_dir)
        writer = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"hs_{name}_ck_"))
            .trigger(availableNow=True)
        )
        start_and_await(spark, writer)
        return read(spark.table(qname))

    return session_memo(spark, sf_dir, source.table, f"{name}_replay", run)
