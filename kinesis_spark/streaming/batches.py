"""One batch identity for the durable foreachBatch sinks: has run R
committed batch B?

Exactly-once needs a replayable source and a sink that is idempotent
per (run, batch id): after a failure the query redelivers its last
uncommitted batch under the same id. The bloom, chunk and intake sinks
decide "already committed" here; each keeps its own redo protocol for a
batch that died half-written.

Run token: a batch id alone is no identity, since a recreated checkpoint
numbers from 0 again. :func:`run_token` is a nonce kept in a sidecar file
inside the checkpoint directory, created once (``O_EXCL``), so every
attempt and restart of the checkpoint reads the same token, and ``rm -rf``
of the checkpoint starts a new run. A hash of the path would survive the
``rm -rf`` and swallow the new run's first batches.

Marker: ``<state_dir>/_last_batch`` holds ``token:id`` of the last batch
the run committed into ``state_dir``, replaced atomically as the sink's
last step. Batches of one run commit in order, so every id up to it is
committed; another run's marker, or none, means "run the batch".

Skip: a committed batch is still consumed, by a ``noop`` write. Stateful
operators upstream of the sink (a replay-shield ``dropDuplicates``)
commit their state-store version only when the batch's plan runs; a sink
that returns without reading it fails the query on every retry with
``STATE_STORE_COMMIT_VALIDATION_FAILED``.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

_SIDECAR = ".kinesis_spark_run_token"
_LAST_BATCH = "_last_batch"


def run_token(checkpoint_dir: str | None) -> str:
    """The run token of ``checkpoint_dir``; with no checkpoint, a nonce
    that no other run shares."""
    token = uuid.uuid4().hex[:12]
    if checkpoint_dir is None:
        return token
    side = os.path.join(checkpoint_dir, _SIDECAR)
    os.makedirs(checkpoint_dir, exist_ok=True)
    try:
        fd = os.open(side, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:  # an earlier attempt's token, or a racer's
        with open(side) as f:
            return f.read().strip()
    with os.fdopen(fd, "w") as f:
        f.write(token)
    return token


def skip_if_committed(
    batch: DataFrame, state_dir: str, token: str, batch_id: int
) -> bool:
    """True, after consuming ``batch`` with a noop write, when run
    ``token`` already committed ``batch_id`` into ``state_dir``."""
    try:
        with open(os.path.join(state_dir, _LAST_BATCH)) as f:
            m_token, _, m_id = f.read().strip().rpartition(":")
        done = m_token == token and batch_id <= int(m_id)
    except (OSError, ValueError):
        done = False
    if done:
        batch.write.format("noop").mode("overwrite").save()
    return done


def mark_committed(state_dir: str, token: str, batch_id: int) -> None:
    """Record that run ``token`` committed ``batch_id`` into ``state_dir``."""
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, f".{_LAST_BATCH}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write(f"{token}:{batch_id}")
    os.replace(tmp, os.path.join(state_dir, _LAST_BATCH))


def start_foreach_batch(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch hook ``process``,
    checkpointed at ``checkpoint_dir``; ``available_now`` drains what
    the source holds, then stops."""
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
