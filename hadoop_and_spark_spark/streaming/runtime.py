"""Replay-stream runtime: state partitioning sized to the micro-batch
volume.

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
import threading

REPLAY_SHUFFLE_ENV = "SPARK_GRAFT_STREAM_SHUFFLE"
_KEY = "spark.sql.shuffle.partitions"

# Refcounted pin: replay streams may now run on CONCURRENT sweep
# threads (the per-module sweep groups), and a naive save/set/restore
# pair interleaved across two streams can capture the OTHER stream's
# pinned value as "prev" and leave the session pinned forever. The
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
