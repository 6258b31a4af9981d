"""Structured Streaming surface: event-time windowed aggregation with
watermarks, batch-replay parity harness, and stateful sessionization.

Watermark policy (the engine-wide contract, pinned by
tests/test_streaming_state_ttl.py):

- **Late-data budget = the watermark horizon.** Every stateful operator
  declares ``withWatermark(ts, H)``; events arriving more than ``H``
  behind the max observed event time MAY be dropped (aggregation) or
  re-emitted as duplicates (dedup). Choose ``H`` per source from its
  real out-of-orderness (Kafka replication lag, mobile offline buffers),
  not from processing latency.
- **State TTL is derived, never unbounded.** Each operator's state-store
  footprint is provably bounded by its watermark:
  windowed aggregation keeps only windows newer than ``watermark − H``;
  ``dropDuplicatesWithinWatermark`` keeps one entry per key seen within
  ``H``; stream-stream joins keep each side's rows within
  ``H + join-range`` (Spark derives the state watermark from the range
  condition — an unbounded join condition would pin state forever and is
  therefore banned here).
- **Eviction must be observable.** The TTL test replays multi-batch
  input whose event time advances past the horizon and asserts
  ``stateOperators[].numRowsTotal`` stays far below the distinct-key
  count while ``numRowsRemoved`` > 0 — i.e. the store provably evicts
  rather than accumulates. At 100 TB/day this bound is the difference
  between a fixed-size state store and an OOM three days in.
- **Segment replays share one harness.** Every foreachBatch replay
  whose result is a scan of per-micro-batch segments runs through
  ``streaming/replay.py: replay_segments`` (stage → availableNow
  stream → ``seg_{batch_id}`` publish → lazy segment scan); a replay
  supplies only its per-batch kernel.
- **End-of-stream flush.** availableNow replays die with the input, so
  outer joins/final windows flush via far-future sentinel rows (see
  streaming/joins.py) — the file-replay analogue of a Kafka end marker.
"""
