"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 / north-star "custom stateful operators").

Shape: ``stream.groupBy(key).applyInPandasWithState(fn, output, state,
"update", timeout)``. Spark shuffles rows to their key's state partition;
``fn`` receives Arrow batches per key plus a ``GroupState`` handle whose
contents survive across micro-batches (backed by the state store —
RocksDB/HDFS-checkpointed on a cluster, so state size scales with keys, not
events).

The operator here is a per-user activity accumulator: running event count,
exact value total, and last-seen event time. Its batch twin is a plain
``groupBy(user).agg(...)`` — tests assert stream == batch after draining
(the design rule of this package).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # imported at run time inside the Python workers only
    import pandas as pd

OUTPUT_SCHEMA = ("user_id bigint, n_events bigint, total_value_micros bigint,"
                 " last_ts_ms bigint")
STATE_SCHEMA = "n bigint, total_micros bigint, last_ms bigint"

_MICROS = 1_000_000


def _accumulate(key: tuple[Any, ...],
                batches: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    import pandas as pd

    n, total_micros, last_ms = state.get if state.exists else (0, 0, 0)
    for pdf in batches:
        n += len(pdf)
        # exact integer accumulation (same 1e-6 quantization as
        # functions/numeric.dsum — float sums would drift vs the batch twin)
        total_micros += int((pdf["value"] * _MICROS).round().astype("int64")
                            .sum())
        last_ms = max(last_ms, int(pdf["ts_ms"].max()))
    state.update((n, total_micros, last_ms))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value_micros": [total_micros],
                        "last_ts_ms": [last_ms]})


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class _RunningTotals(StatefulProcessor):
    """StatefulProcessor for :func:`stream_user_totals_tws`."""

    def __init__(self, ttl_ms: int | None = None):
        self._ttl_ms = ttl_ms

    def init(self, handle) -> None:
        # ttlDurationMs bounds state lifetime: a key silent for longer
        # than the TTL is evicted by the state store — the knob that
        # keeps per-key state from growing without bound over months of
        # 100 TB-scale ingest.
        self._state = handle.getValueState(
            "totals", STATE_SCHEMA, ttlDurationMs=self._ttl_ms)

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        cur = self._state.get()
        n, total_micros, last_ms = cur if cur is not None else (0, 0, 0)
        for pdf in rows:
            n += len(pdf)
            total_micros += int(
                (pdf["value"] * _MICROS).round().astype("int64").sum())
            last_ms = max(last_ms, int(pdf["ts_ms"].max()))
        self._state.update((int(n), int(total_micros), int(last_ms)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "total_value_micros": [total_micros],
             "last_ts_ms": [last_ms]})

    def close(self) -> None:
        pass


def stream_user_totals_tws(events: DataFrame,
                           state_ttl_ms: int | None = None) -> DataFrame:
    """:func:`stream_user_totals` on the ``transformWithStateInPandas``
    API (Spark 4.x): explicit named ``ValueState`` with optional TTL
    eviction, the successor to ``applyInPandasWithState``'s single
    implicit state tuple. Same semantics (the test asserts this and the
    batch groupBy agree after draining); the operational differences are
    what matter at scale — per-state TTL, multiple named states per
    key, timers, and live state introspection via the state data source
    reader.

    Deployment requirements (both checked by Spark at query start):
    - RocksDB state store provider
      (``spark.sql.streaming.stateStore.providerClass =
      ...state.RocksDBStateStoreProvider``);
    - the ``protobuf`` Python package — the transformWithState state
      server speaks protobuf to the JVM. Not shipped in this sandbox
      (the test skips itself when absent); present on any standard
      Spark 4.x cluster image."""
    from data_services_spark.functions.numeric import epoch_ms

    prepped = events.select(
        "user_id", "value", epoch_ms("ts").alias("ts_ms"))
    return (prepped.groupBy("user_id")
            .transformWithStateInPandas(_RunningTotals(state_ttl_ms),
                                        OUTPUT_SCHEMA, "Update", "None"))


def stream_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals, one state row per user, emitted each
    micro-batch the user appears in (output mode: update).

    Event time crosses the Arrow boundary as epoch-ms LONG (computed
    JVM-side) — never a raw timestamp, per the registry's determinism
    conventions."""
    from data_services_spark.functions.numeric import epoch_ms

    prepped = events.select(
        "user_id", "value", epoch_ms("ts").alias("ts_ms"))
    return (prepped.groupBy("user_id")
            .applyInPandasWithState(_accumulate, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))
