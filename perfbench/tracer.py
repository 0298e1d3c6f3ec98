"""Per-layer tracing of the Spark workloads, from the benchmark's own
files: timing shims around calls into the program's public functions, a
``StreamingQueryListener`` for the micro-batch phases, and the status-store
reader for jobs, stages and shuffle bytes.

``IntakeTracer`` sums over every timed drain (the backlog and the waves).
The consumer calls of a drain run in Spark's Python worker processes; the
``worker_site`` directory puts a ``sitecustomize`` in front of them that
installs a ``ConsumerProbe`` appending its samples to files the tracer
reads back.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import threading
import time

from probes import ConsumerProbe
from status import GroupStats, StatusStore

HERE = os.path.dirname(os.path.abspath(__file__))
PROBE_ENV = "PERFBENCH_CONSUMER_PROBE_DIR"


class _Listener:
    """Collects start times and progress events per query run id."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()
        self.cond = threading.Condition()

    def make(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                ts = dt.datetime.fromisoformat(event.timestamp.replace("Z", "+00:00"))
                with outer.cond:
                    outer.started[str(event.runId)] = ts.timestamp()

            def onQueryProgress(self, event):
                p = event.progress
                with outer.cond:
                    outer.progress.setdefault(str(p.runId), []).append(
                        (dict(p.durationMs), p.numInputRows)
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.terminated.add(str(event.runId))
                    outer.cond.notify_all()

        return Listener()

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        with self.cond:
            self.cond.wait_for(lambda: len(self.terminated) >= n, timeout)


class IntakeTracer:
    def __init__(self, ctx) -> None:
        self.probe_dir = ctx.path("consumer-probe")
        os.makedirs(self.probe_dir)
        os.environ[PROBE_ENV] = self.probe_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [os.path.join(HERE, "worker_site"), os.environ["PYTHONPATH"]]
        )
        self.listener = _Listener()
        self.spark = None
        self.t = dict.fromkeys(
            ("add_batch", "admit_stage", "tx_append", "index_append", "rollup"), 0.0
        )
        self.drains: list[dict] = []

    # -- wiring -----------------------------------------------------------
    def sink(self, spark, cfg):
        """A ``PrepIntakeSink`` subclass built like ``make_intake_sink``
        builds the plain one, timing each batch and its rollup upsert."""
        from kinesis_spark.streaming.intake import PrepIntakeSink

        if self.spark is None:
            self.spark = spark
            self.status = StatusStore(spark)
            spark.streams.addListener(self.listener.make())
            self._patch(cfg)
        tracer = self

        class TracedSink(PrepIntakeSink):
            def process_batch(self, batch, batch_id):
                with tracer._timer("add_batch"):
                    super().process_batch(batch, batch_id)

            def _rollup_delta(self, docs):
                with tracer._timer("rollup"):
                    super()._rollup_delta(docs)

            def _rollup_recount(self, touched):
                with tracer._timer("rollup"):
                    super()._rollup_recount(touched)

        return TracedSink(
            spark, hashes_dir=cfg.hashes, bands_dir=cfg.bands,
            store_root=cfg.corpus, rollup_root=cfg.rollup,
            partition_cols=cfg.partition_cols, id_col=cfg.id_col,
            text_col=cfg.text_col,
        )

    def _patch(self, cfg) -> None:
        """Time the corpus commit (the sink's ``tx_append``/``tx_init`` on the
        corpus root) and the parquet writes of the staging snapshot and the
        hash/band index, told apart by path. Only the first config's run
        directory layout matters: every drain's stores share it."""
        import kinesis_spark.streaming.intake as intake
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self

        def corpus_timed(fn):
            def call(spark, root, *a, **kw):
                if os.path.basename(root) != os.path.basename(cfg.corpus):
                    return fn(spark, root, *a, **kw)
                with tracer._timer("tx_append"):
                    return fn(spark, root, *a, **kw)

            return call

        intake.tx_append = corpus_timed(intake.tx_append)
        intake.tx_init = corpus_timed(intake.tx_init)
        parquet = DataFrameWriter.parquet

        def timed_parquet(self, path, *a, **kw):
            p = str(path)
            kind = (
                "admit_stage" if f"{os.sep}staging{os.sep}" in p
                else "index_append" if f"{os.sep}index{os.sep}" in p
                else None
            )
            if kind is None:
                return parquet(self, path, *a, **kw)
            with tracer._timer(kind):
                return parquet(self, path, *a, **kw)

        DataFrameWriter.parquet = timed_parquet

    @contextlib.contextmanager
    def _timer(self, key):
        t = time.perf_counter()
        try:
            yield
        finally:
            if self.counting:
                self.t[key] += time.perf_counter() - t

    # -- per drain --------------------------------------------------------
    counting = False

    def before(self, label: str) -> None:
        self.counting = label != "warmup"
        self._known = set(self.listener.started)
        self._call = time.time()

    def after(self, label: str) -> None:
        self.listener.wait_terminated(len(self._known) + 1)
        self.counting = False
        new = [r for r in self.listener.started if r not in self._known]
        if label == "warmup":
            for name in os.listdir(self.probe_dir):  # set-up calls do not count
                os.unlink(os.path.join(self.probe_dir, name))
            return
        run_id = new[0]
        stats = self.status.group(run_id)
        self.drains.append(
            {
                "label": label,
                "start_s": self.listener.started[run_id] - self._call,
                "progress": self.listener.progress.get(run_id, []),
                "spark": stats,
            }
        )

    def metrics(self) -> dict[str, float]:
        def dur(key):
            return sum(p[0].get(key, 0) for d in self.drains for p in d["progress"])

        rows = sum(p[1] for d in self.drains for p in d["progress"])
        spark = GroupStats()
        for d in self.drains:
            spark += d["spark"]
        probe = ConsumerProbe.read_samples(self.probe_dir)
        return {
            **probe.metrics(),
            "source.latest_offset_ms": dur("latestOffset"),
            "source.get_batch_ms": dur("getBatch"),
            "source.spool_records_per_batch_record": probe.parsed / max(rows, 1),
            "sink.add_batch_s": self.t["add_batch"],
            "sink.admit_stage_s": self.t["admit_stage"],
            "txstore.tx_append_s": self.t["tx_append"],
            "index.append_s": self.t["index_append"],
            "rollup.upsert_s": self.t["rollup"],
            "query.start_s": sum(d["start_s"] for d in self.drains),
            "query.wal_commit_ms": dur("walCommit"),
            "query.planning_ms": dur("queryPlanning"),
            "spark.jobs": spark.jobs,
            "spark.stages": spark.stages,
            "spark.shuffle_bytes": spark.shuffle_write_bytes,
            "spark.executor_run_s": spark.executor_run_s,
        }

    def detail(self) -> list[dict]:
        return [
            {
                "drain": d["label"],
                "batches": sum(1 for p in d["progress"] if p[1]),
                "start_s": d["start_s"],
                "duration_ms": [p[0] for p in d["progress"]],
                "spark": vars(d["spark"]),
            }
            for d in self.drains
        ]
