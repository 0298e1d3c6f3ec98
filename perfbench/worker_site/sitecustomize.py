"""Installed in front of Spark's Python workers by traced ``intake`` runs
(``tracer.IntakeTracer`` prepends this directory to ``PYTHONPATH``): counts
and times the consumer calls the streaming source makes in the worker
processes, one sample file per process."""

import os

_dir = os.environ.get("PERFBENCH_CONSUMER_PROBE_DIR")
if _dir:
    import sys

    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from probes import ConsumerProbe

    ConsumerProbe(os.path.join(_dir, f"{os.getpid()}.jsonl")).install()
