"""CLI parity (reference main.go): pipe a file through the chunk/batch/
put pipeline and verify every byte reaches the sink."""

from __future__ import annotations

import glob
import io
import json
import os
import subprocess
import sys

from kinesis_spark.__main__ import SpoolSink, main  # noqa: F401 (SpoolSink = full-record spool client)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spooled(spool):
    """Spool entries with a decoded byte count (the spool stores full
    base64 record data, replayable by the consumer + Spark sources)."""
    import base64

    out = []
    for p in glob.glob(f"{spool}/*.jsonl"):
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                e["n"] = len(base64.b64decode(e["data"]))
                out.append(e)
    return out


def test_main_pipes_all_bytes(tmp_path):
    spool = str(tmp_path / "spool")
    payload = b"x" * (100 * 1024)  # 100 KiB through the 4 MB buffer
    rc = main(
        ["mystream", "-p", "mykey", "--fake-sink", spool, "--flush-seconds", "9"],
        stdin=io.BytesIO(payload),
    )
    assert rc == 0
    entries = _spooled(spool)
    assert sum(e["n"] for e in entries) == len(payload)
    assert {e["stream"] for e in entries} == {"mystream"}
    assert {e["pk"] for e in entries} == {"mykey"}


def test_main_restores_signal_handlers(tmp_path):
    """main() installs SIGINT/SIGTERM drain handlers for its own run
    only: an in-process caller gets its previous handlers back."""
    import signal

    before = [signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)]
    rc = main(
        ["s", "-p", "k", "--fake-sink", str(tmp_path / "spool")],
        stdin=io.BytesIO(b"x" * 1024),
    )
    assert rc == 0
    assert [signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)] == before


def test_main_chunks_oversized_records(tmp_path):
    spool = str(tmp_path / "spool")
    # payload far above the 1 MiB record cap must be chunked
    payload = os.urandom(3 * 1024 * 1024)
    rc = main(
        ["s", "-p", "k", "--fake-sink", spool, "--flush-seconds", "9"],
        stdin=io.BytesIO(payload),
    )
    assert rc == 0
    entries = _spooled(spool)
    assert sum(e["n"] for e in entries) == len(payload)
    assert max(e["n"] for e in entries) <= 1024 * 1024 - len(b"k")


def test_cli_subprocess_end_to_end(tmp_path):
    spool = str(tmp_path / "spool")
    data = b"hello kinesis\n" * 1000
    proc = subprocess.run(
        [sys.executable, "-m", "kinesis_spark", "cli-stream", "-p", "pk",
         "--fake-sink", spool],
        input=data,
        cwd=REPO,
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    entries = _spooled(spool)
    assert sum(e["n"] for e in entries) == len(data)


def test_cli_requires_partition_key():
    import pytest

    with pytest.raises(SystemExit):
        main(["stream-only"])


def test_cli_produce_consume_roundtrip(tmp_path):
    """The full user loop: bytes in via the producer, bytes out via
    --consume, byte-identical (including binary content)."""
    spool = str(tmp_path / "spool")
    payload = os.urandom(300 * 1024)
    rc = main(
        ["rt", "-p", "k1", "--fake-sink", spool, "--flush-seconds", "9"],
        stdin=io.BytesIO(payload),
    )
    assert rc == 0
    out = io.BytesIO()
    rc = main(["rt", "-p", "k1", "--fake-sink", spool, "--consume"], stdout=out)
    assert rc == 0
    assert out.getvalue() == payload


def test_cli_consume_filters_partition_key(tmp_path):
    spool = str(tmp_path / "spool")
    main(["s", "-p", "ka", "--fake-sink", spool, "--flush-seconds", "9"],
         stdin=io.BytesIO(b"AAA"))
    main(["s", "-p", "kb", "--fake-sink", spool, "--flush-seconds", "9"],
         stdin=io.BytesIO(b"BBB"))
    out = io.BytesIO()
    main(["s", "-p", "kb", "--fake-sink", spool, "--consume"], stdout=out)
    assert out.getvalue() == b"BBB"


def test_bench_warmup_names_are_registered():
    """bench.py's untimed warm-up list must track registry renames —
    a silently-missing warm-up name would quietly reintroduce the
    family-position warm-up skew the fixed protocol exists to kill."""
    import bench

    from kinesis_spark.queries import get_registry

    reg = get_registry()
    missing = [n for n in bench.WARMUP if n not in reg]
    assert not missing, missing


def test_cli_intake_verb_drains_and_prints_audit(tmp_path, capsys, spark, sf_dir):
    """``python -m kinesis_spark intake``: the production-pipeline verb
    drains the spooled stream through the one-call API and prints the
    per-(lang, source) audit rows as JSON lines."""
    import pytest

    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    from kinesis_spark.ingest.writer import Record
    from kinesis_spark.io import load_table
    from kinesis_spark.queries.pipelines import _KEEP_LANGS
    from kinesis_spark.streaming.spool import SpoolStreamClient

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(*_KEEP_LANGS))
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    spool = str(tmp_path / "spool")
    SpoolStreamClient(spool).put_records(
        "docs",
        [
            Record(
                data=json.dumps(r.asDict(), sort_keys=True).encode(),
                partition_key=f"pk{r.doc_id % 2}",
            )
            for r in docs
        ],
    )
    rc = main(
        [
            "intake",
            "--spool", spool,
            "--stream", "docs",
            "--work", str(tmp_path / "work"),
            "--await-s", "240",
        ]
    )
    assert rc == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rows and all(r["consumer_id"] == "consumer-1" for r in rows)
    assert all(r["corpus_version"] >= 1 for r in rows)
    # the audit is the rollup: admission can only shrink the batch, and
    # every audited partition tuple comes from the delivered docs
    assert 0 < sum(r["n_docs"] for r in rows) <= len(docs)
    assert {(r["lang"], r["source"]) for r in rows} <= {
        (r.lang, r.source) for r in docs
    }


def test_bench_regression_tripwire(tmp_path):
    """find_regressions flags >30%-and->0.5s slowdowns vs the previous
    committed BENCH_full.json, ignores sub-threshold noise, failed runs,
    and cross-scale-factor comparisons."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from bench import find_regressions

    prev = {
        "sf": 0.1,
        "queries": {
            "q_slow": 2.0,    # -> 3.0: +50%, +1.0s  => regression
            "q_noise": 0.2,   # -> 0.4: +100% but only +0.2s => ignored
            "q_ok": 2.0,      # -> 2.2: +10% => ignored
            "q_failed": 2.0,  # -> -1.0 (failed): ignored here
        },
    }
    p = tmp_path / "BENCH_full.json"
    p.write_text(json.dumps(prev))
    now = {"q_slow": 3.0, "q_noise": 0.4, "q_ok": 2.2, "q_failed": -1.0,
           "q_new": 5.0}
    got, host_ratio = find_regressions(str(p), now, 0.1)
    assert host_ratio == 1.0  # prev artifact predates the host sentinel
    assert set(got) == {"q_slow"}
    assert got["q_slow"] == {"prev": 2.0, "now": 3.0,
                             "now_host_normalized": 3.0,
                             "ratio": 1.5, "raw_ratio": 1.5}
    # different sf: no comparison
    assert find_regressions(str(p), now, 0.01) == ({}, 1.0)
    # missing file: no comparison
    assert find_regressions(str(tmp_path / "nope.json"), now, 0.1) == ({}, 1.0)
    # host-normalization (VERDICT r8 task 1): the same +50% raw slowdown
    # is NOT a regression when the sentinel says the host is 1.5x slower
    prev2 = dict(prev, host_seconds=1.0)
    p2 = tmp_path / "BENCH_prev2.json"
    p2.write_text(json.dumps(prev2))
    got2, hr2 = find_regressions(str(p2), now, 0.1, host_seconds=1.5)
    assert hr2 == 1.5 and got2 == {}


def test_cli_stream_named_intake_still_produces(tmp_path):
    """r7 review: the intake VERB is selected by argv[0]=='intake' plus
    --spool; a stream literally named 'intake' driven through the
    reference CLI shape (positional + -p) must still hit the producer
    path."""
    spool = str(tmp_path / "spool")
    rc = main(
        ["intake", "-p", "k", "--fake-sink", spool, "--flush-seconds", "9"],
        stdin=io.BytesIO(b"XYZ"),
    )
    assert rc == 0
    entries = _spooled(spool)
    assert {e["stream"] for e in entries} == {"intake"}
    assert sum(e["n"] for e in entries) == 3


def test_intake_zero_admission_drain_returns_empty_audit(spark, tmp_path):
    """r7 review: a drain where every record is gated out (or the
    stream is empty) never creates the lazily-initialized stores — the
    audit must be an EMPTY DataFrame with the documented schema, not a
    FileNotFoundError."""
    from kinesis_spark.ingest.writer import Record
    from kinesis_spark.pipeline import IntakeConfig, run_intake
    from kinesis_spark.streaming.spool import SpoolStreamClient

    spool = str(tmp_path / "spool")
    SpoolStreamClient(spool).put_records(
        "docs",
        [
            Record(
                data=json.dumps(
                    {"doc_id": 1, "text": "zz", "lang": "zz", "source": "s"}
                ).encode(),
                partition_key="pk0",
            )
        ],
    )
    audit = run_intake(
        spark,
        IntakeConfig(
            spool_dir=spool, stream="docs", work_dir=str(tmp_path / "work")
        ),
    )
    assert audit.count() == 0
    assert audit.columns == [
        "lang", "source", "n_docs", "total_tokens",
        "corpus_version", "consumer_id",
    ]
