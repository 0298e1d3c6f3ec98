"""Every pin the engine makes, and the one release that frees them.

Two kinds of pin, one registry:

- ``pin_shared`` persists an intermediate relation that the returned
  plan consumes more than once (d18's positional tokens, mm9's
  fingerprint keys, the MLlib LSH feature vectors, sim6/sim13's IVF
  assignment, sim15's distance relation, p9's batch tokens, the g1/g2
  static edge layout). The persist is load-bearing — without it each
  consumer replays the subtree — but the query function cannot know when
  its caller is done with the result, so it cannot unpersist.
- ``pin`` and ``pin_lazy`` truncate lineage. Every iterative operator
  (PageRank g1, BFS g2, connected components d9, Lloyd's k-means sim11,
  SemDedup sim12, k-center sim14, DSIR s16, BPE learning t14, the
  maintenance suite, ``ordering.global_row_number``) pins its state so
  that N rounds of joins do not build an N-deep lineage that replays
  from the source scan every round.

Reliable vs local checkpoints: ``DataFrame.localCheckpoint`` is fast,
but its blocks are stored UNREPLICATED on executor local storage: on a
real cluster (spot instances, 1000 executors, 100x data) losing one
executor makes every later iteration unrecoverable — the query dies
instead of recomputing. ``DataFrame.checkpoint`` writes the blocks to
the configured reliable checkpoint directory (HDFS/S3), surviving
executor loss, at the cost of a filesystem round trip per pin. ``pin``
picks automatically: when the session has a reliable checkpoint
directory configured (``spark.sparkContext.setCheckpointDir(...)``, the
thing a production submit script sets), it uses ``checkpoint``;
otherwise it falls back to ``localCheckpoint``. Call sites use it
through ``DataFrame.transform`` so the chained-method style stays
intact::

    state = df.join(...).transform(pin)

Release: :func:`release_shared_pins` frees every registered pin —
``unpersist`` for a persist; for a checkpoint, ``unpersist`` of the RDD
behind the checkpointed plan (its ``LogicalRDD``) plus, for a reliable
one, its ``rdd-*`` files in the checkpoint directory (Spark removes
those only with ``spark.cleaner.referenceTracking.cleanCheckpoints``,
off by default, so a long-lived session would grow the directory by one
per pin). The unpersist is needed because
localCheckpoint blocks live in the block manager outside the
CacheManager, where neither ``DataFrame.unpersist`` nor clearing the
catalog cache reaches them. Left to the ContextCleaner they are freed
only when the driver JVM happens to GC, which is not a storage budget.
Clearing the catalog cache is no substitute for persists either: it
also drops caches the caller owns; the registry frees exactly the pins.

Ownership: a pin belongs to the thread that made it.

- ``release_shared_pins()`` frees the CALLING thread's pins, so one
  thread's release never pulls a checkpoint out from under a query
  another thread is still running.
- The same release also frees the pins of every owner thread that has
  exited: nothing can still read them, and a cached plan is not freed
  by GC.
- ``scope()`` frees on exit exactly the pins its body made on the
  current thread, also when the body raises, and keeps the older ones.
  Functions that finish their writes before returning (the rollup,
  upsert, compaction and erasure maintenance, the IVF index writers,
  the streaming sinks) run inside one, so a long-lived ``foreachBatch``
  thread does not pile up a pin per batch. A function that returns a
  lazy DataFrame over its pin leaves that pin to its caller, who calls
  ``release_shared_pins`` once the result is materialized.

Never release while a job that still reads a pinned relation of the
same thread is mid-flight.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

# owner thread -> [(pinned DataFrame, is_checkpoint)], oldest first
_PINS: dict[threading.Thread, list[tuple[DataFrame, bool]]] = {}
_LOCK = threading.Lock()


def _register(df: DataFrame, checkpoint: bool) -> DataFrame:
    with _LOCK:
        _PINS.setdefault(threading.current_thread(), []).append((df, checkpoint))
    return df


def pin_shared(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_shared_pins`."""
    df.persist()
    return _register(df, False)


def _checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir():
        return _register(df.checkpoint(eager=eager), True)
    return _register(df.localCheckpoint(eager=eager), True)


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage.

    Reliable ``checkpoint`` when a checkpoint dir is set, else
    ``localCheckpoint``. Use via ``df.transform(pin)``.
    """
    return _checkpoint(df, eager=True)


def pin_lazy(df: DataFrame) -> DataFrame:
    """Lineage-truncate ``df`` without forcing materialization now.

    The lazy variant exists for plans that fork into multiple branches
    below one non-deterministic source (bloom.py's uid assignment,
    ``global_row_number``'s sampled range boundaries): the pin
    guarantees one consistent materialization once ANY branch runs, but
    the caller does not want to pay for it earlier than that.
    """
    return _checkpoint(df, eager=False)


def _free(pins: list[tuple[DataFrame, bool]], blocking: bool) -> int:
    """Free ``pins`` newest first; returns how many were freed. A dead
    handle (session already stopped) is skipped, never raised."""
    n = 0
    for df, checkpoint in reversed(pins):
        try:
            if checkpoint:
                rdd = df._jdf.queryExecution().analyzed().rdd()
                rdd.unpersist(blocking)
                files = rdd.getCheckpointFile()  # defined once reliably written
                if files.isDefined():
                    jvm = df.sparkSession.sparkContext._jvm
                    path = jvm.org.apache.hadoop.fs.Path(files.get())
                    conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
                    path.getFileSystem(conf).delete(path, True)
            else:
                df.unpersist(blocking=blocking)
            n += 1
        except Exception:  # noqa: BLE001 - session stopped / plan shape drift
            pass
    return n


def release_shared_pins(blocking: bool = True) -> int:
    """Free the calling thread's pins and those of every exited thread;
    returns how many were freed. Blocking by default so callers (and
    tests) observe a deterministic storage state."""
    me = threading.current_thread()
    with _LOCK:
        owners = [t for t in _PINS if t is me or not t.is_alive()]
        drained = [p for t in owners for p in _PINS.pop(t)]
    return _free(drained, blocking)


@contextlib.contextmanager
def scope():
    """Free, on exit, the pins the body makes on this thread. Usable as
    ``with scope():`` or as the decorator ``@scope()``."""
    me = threading.current_thread()
    with _LOCK:
        outer = _PINS.setdefault(me, [])
        mark = len(outer)
    try:
        yield
    finally:
        with _LOCK:
            pins = _PINS.get(me, [])
            # a release inside the body replaced the list: all of it is ours
            start = mark if pins is outer else 0
            inner = pins[start:]
            del pins[start:]
            if not pins:
                _PINS.pop(me, None)
        _free(inner, True)
