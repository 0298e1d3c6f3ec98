"""Restarts of the production intake (``pipeline.run_intake``) that
reach the sink's committed-batch identity (streaming/batches.py): a
re-run of a batch the sink already committed, and a checkpoint deleted
and recreated at the same path."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from kinesis_spark.ingest.writer import Record
from kinesis_spark.pipeline import IntakeConfig, run_intake
from kinesis_spark.streaming.spool import SpoolStreamClient
from kinesis_spark.txstore import tx_current_manifest, tx_read

STREAM = "restart"


def _put(spool: str, ids: range) -> None:
    """Gate-eligible documents whose tokens are unique to each doc, so
    admission admits every one of them."""
    SpoolStreamClient(spool).put_records(
        STREAM,
        [
            Record(
                data=json.dumps(
                    {
                        "doc_id": i,
                        "text": " ".join(f"d{i}w{j}" for j in range(24)),
                        "lang": "en",
                        "source": f"s{i % 2}",
                    }
                ).encode(),
                partition_key=f"pk{i % 2}",
            )
            for i in ids
        ],
    )


def _cfg(tmp_path) -> IntakeConfig:
    return IntakeConfig(
        spool_dir=str(tmp_path / "spool"),
        stream=STREAM,
        work_dir=str(tmp_path / "work"),
        await_s=120.0,
    )


def _corpus_ids(spark, cfg) -> list[int]:
    return sorted(r.doc_id for r in tx_read(spark, cfg.corpus).collect())


def _versions(spark, cfg) -> tuple[int, int]:
    return (
        tx_current_manifest(spark, cfg.corpus)["version"],
        tx_current_manifest(spark, cfg.rollup)["version"],
    )


@pytest.mark.streaming
def test_rerun_of_committed_batch_completes_and_changes_nothing(
    spark, tmp_path
):
    """Drain, lose the last commit-log entry, drain again: Spark re-runs
    that batch, the sink skips it but still consumes it (so the
    replay-shield state stores commit), and no store moves."""
    cfg = _cfg(tmp_path)
    _put(cfg.spool_dir, range(20))
    run_intake(spark, cfg)
    ids, versions = _corpus_ids(spark, cfg), _versions(spark, cfg)
    assert ids == list(range(20))

    commits = os.path.join(cfg.checkpoint, "commits")
    last = max(int(os.path.basename(p)) for p in glob.glob(f"{commits}/[0-9]*"))
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    run_intake(spark, cfg)

    assert os.path.exists(os.path.join(commits, str(last)))
    assert _corpus_ids(spark, cfg) == ids
    assert _versions(spark, cfg) == versions


@pytest.mark.streaming
def test_recreated_checkpoint_admits_new_documents(spark, tmp_path):
    """A checkpoint deleted and recreated at the same path is a new run:
    its batch 0 is new data, not the old run's committed batch 0."""
    cfg = _cfg(tmp_path)
    _put(cfg.spool_dir, range(20))
    run_intake(spark, cfg)
    shutil.rmtree(cfg.checkpoint)
    _put(cfg.spool_dir, range(20, 25))
    run_intake(spark, cfg)

    ids = _corpus_ids(spark, cfg)
    assert ids == list(range(25))  # every new doc, none twice
