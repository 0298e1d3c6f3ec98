"""Structured Streaming parity layer (SURVEY.md §3 "Spark retelling").

The reference pipeline maps onto a streaming query:

- stdin/rate pump        → ``readStream`` source (rate / text / binaryFile)
- 4 MB / 1 s buffer tick → ``trigger(processingTime="1 second")``
- chunk + tag + batch    → narrow column transforms (codegen'd)
- PutRecords             → ``foreachBatch`` → per-partition client calls
- drop valve             → batch-level admission policy + accumulator
  (Spark prefers backpressure; shedding is opt-in, observable, never silent
  — SURVEY.md §4 quirk 4)
- graceful shutdown      → ``query.stop()`` / ``trigger(availableNow=True)``
"""
