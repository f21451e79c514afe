"""Processor-API parity: custom stateful fold + timed emission.

Reference ProcessorApiExample.scala:34-72 hand-rolls a per-key running
total in a persistent KeyValueStore (process(): read store, add price,
put back — :60-67) and a *punctuator* that every 10s of stream time
scans the store and forwards every (key, total) downstream (:43-58).

Spark twin: ``applyInPandasWithState`` — the state store replaces the
KeyValueStore (checkpointed, partition-parallel), and emission happens
when a micro-batch touches a key (update semantics) or when the
configured timeout fires (punctuate semantics).

Documented mapping (SURVEY §7 M5): Kafka Streams punctuates on *stream
time advance*; Spark fires ``GroupStateTimeout`` when the watermark (event
-time timeout) or wall clock (processing-time timeout) passes the set
timestamp.  Emission cadence therefore quantizes to micro-batch
boundaries — same totals, same keys, trigger-aligned timing.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("total", DoubleType()),
        StructField("n", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# State layout: hash buckets of keys, not keys.
#
# applyInPandasWithState invokes the Python fold once per GROUP per
# micro-batch (~2 ms of pandas + marshalling each); grouping by key made
# that one call per touched key — the measured 32k -> 11k rows/s cliff
# from 10k to 1M keys (SCALE.md state decades).  Here the state key is
# pmod(xxhash64(key), n_buckets) and the state value is ONE pickled
# dict {key: (total, n)} for every key in the bucket, so the per-call
# overhead amortizes across all of them and emission is one wide frame
# per bucket.  Python calls per batch are bounded by n_buckets
# regardless of key cardinality.
#
# Sizing at scale: ~60 bytes/key pickled => a 1k-key bucket is a
# ~60 KB RocksDB value, rewritten per touched bucket per batch; pick
# n_buckets ~ keys / 1000 to hold that constant (same rule as
# funnel_stage_stream — see streaming/funnel.py).
#
# The punctuator (emit_every_ms) rides the SAME bucket blob: each key's
# NEXT-FIRE time is stored alongside its total, the bucket's single
# processing-time timeout is armed at the MIN next-fire across its
# keys, and a firing (or any data batch) re-emits exactly the keys that
# are DUE — per-key cadence preserved (each key re-emits emit_every_ms
# after its own last activity, independent of bucket siblings).
#
# Reference analog unchanged: per-key KeyValueStore fold + punctuator
# (ProcessorApiExample.scala:43-67); a bucket is the store partition
# made explicit.
# ---------------------------------------------------------------------------

STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def running_total_with_emission(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    emit_every_ms: int | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-key running sum with optional periodic re-emission.

    - Each micro-batch: fold new rows into state, emit updated totals
      (A2/A3 continuous-refinement semantics).
    - ``emit_every_ms``: also re-emit a key's current total once it has
      been idle that long — the punctuator (A4) analog.  Every key's
      next-fire time lives in its bucket's blob, the bucket's one
      processing-time timeout is armed at the min next-fire of its
      keys, and a firing re-emits only the keys that are due.
    - ``n_buckets``: state-store groups the keys are hashed into (see
      the block comment above for the sizing rule).

    Returns an update-mode streaming DataFrame (key, total, n).

    Null-key records are DROPPED before the fold — the reference
    semantics: Kafka Streams' groupByKey discards null-key records
    ahead of any aggregation (KGroupedStream contract;
    AggregationsExample.scala's groupBy upstream of :36-44).  The drop
    is explicit and JVM-side because the pandas groupby inside the fold
    would otherwise drop them silently (dropna default).

    CAUTION: with ``emit_every_ms`` set, armed timers continuously
    schedule micro-batches, so ``query.processAllAvailable()`` never
    settles — drive such queries with sink polling or awaitTermination
    (see tests/test_examples.py::test_processor_pipeline_punctuate_reemission).

    Toggling ``emit_every_ms`` between None and set requires a FRESH
    checkpoint: the timeout adds an internal state column
    (timeoutTimestamp), so Spark rejects recovery at state load with a
    clear incompatibility error (pytest-pinned).  Defensively, the fold
    also upgrades any legacy 2-tuple (total, n) entries to
    (total, n, next_fire) before reading next-fire times."""
    stream = stream.filter(F.col(key_col).isNotNull())
    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("long")
    )

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        timed_out = (
            state.hasTimedOut if emit_every_ms is not None else False
        )
        if not chunks and not timed_out:
            return
        now = (
            state.getCurrentProcessingTimeMs()
            if emit_every_ms is not None
            else 0
        )
        # entry = (total, n) plain mode; (total, n, next_fire_ms) with
        # the punctuator — the fire time is state, so it survives
        # checkpoint recovery like everything else in the blob
        totals: dict[str, tuple] = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        if emit_every_ms is not None and totals:
            # a checkpoint written in plain mode holds 2-tuples; when the
            # punctuator is newly enabled on restart, upgrade them in
            # place (first fire one full period from now) instead of
            # raising IndexError on rec[2] below
            totals = {
                k: rec if len(rec) > 2 else (rec[0], rec[1], now + emit_every_ms)
                for k, rec in totals.items()
            }
        out_k: list[str] = []
        out_t: list[float] = []
        out_n: list[int] = []
        emitted: dict[str, None] = {}
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            keys = pdf["key"].tolist()
            # a plain loop over the bucket's rows (~rows/n_buckets per
            # call): a pandas groupby costs ~0.6 ms per call whatever
            # the row count, more than the loop up to thousands of rows.
            # A null value adds nothing to the total but counts in n.
            for k, v in zip(keys, pdf["value"].fillna(0.0).tolist()):
                rec = totals.get(k)
                totals[k] = (rec[0] + v, rec[1] + 1) if rec else (v, 1)
            emitted = dict.fromkeys(keys)
            for k in emitted:
                total, n = totals[k][:2]
                if emit_every_ms is not None:
                    totals[k] = (total, n, now + emit_every_ms)
                out_k.append(k)
                out_t.append(total)
                out_n.append(n)
        if emit_every_ms is not None:
            # due keys re-emit their CURRENT total (punctuate), whether
            # this invocation carried data for bucket siblings or the
            # bucket's timer fired with no data at all
            for k, rec in totals.items():
                if k not in emitted and rec[2] <= now:
                    totals[k] = (rec[0], rec[1], now + emit_every_ms)
                    out_k.append(k)
                    out_t.append(rec[0])
                    out_n.append(rec[1])
        state.update((pickle.dumps(totals, protocol=pickle.HIGHEST_PROTOCOL),))
        if emit_every_ms is not None and totals:
            next_fire = min(rec[2] for rec in totals.values())
            state.setTimeoutDuration(max(1, int(next_fire - now)))
        if out_k:
            yield pd.DataFrame({"key": out_k, "total": out_t, "n": out_n})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if emit_every_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return src.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
