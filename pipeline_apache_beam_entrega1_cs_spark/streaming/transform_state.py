"""transformWithStateInPandas: Spark 4's arbitrary-stateful streaming API
(the successor to applyInPandasWithState) — typed state handles
(ValueState/ListState/MapState), timers, and RocksDB-backed state.

Operator: per-user high-water-mark tracker — emits a row whenever a user
posts a new maximum event value, carrying the previous maximum. The
pattern (detect record-breaking events against persistent state) is a
classic fraud/alerting shape that plain windowed aggregation can't
express.

The API runs a gRPC state server in the Python worker, which needs the
``protobuf`` package; where it is missing, tests skip through
``transform_with_state_available()``, and applyInPandasWithState
(streaming/stateful.py) covers the arbitrary-state surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

def transform_with_state_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = "user_id LONG, new_max DOUBLE, prev_max DOUBLE, n_records LONG"


class HighWaterMarkProcessor(StatefulProcessor):
    """Tracks the running max event value per user in a ValueState."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("hwm", "mx DOUBLE, n LONG")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            mx, n = self._state.get()
        else:
            mx, n = float("-inf"), 0
        out_new, out_prev = [], []
        for pdf in rows:
            # arrival order within a batch is file order for a single
            # partition source; process in ts order for determinism
            for v in pdf.sort_values("ts")["value"]:
                v = float(v)
                if v > mx:
                    out_new.append(v)
                    out_prev.append(None if mx == float("-inf") else mx)
                    mx = v
                    n += 1
        self._state.update((mx, n))
        if not out_new:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(out_new),
                        "new_max": out_new,
                        "prev_max": out_prev,
                        "n_records": list(range(n - len(out_new) + 1, n + 1)),
                    }
                )
            ]
        )

    def close(self) -> None:
        pass


def high_water_marks(events_stream: DataFrame) -> DataFrame:
    """Record-breaking events per user via transformWithStateInPandas."""
    return (
        events_stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            HighWaterMarkProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="None",
        )
    )


def run_high_water_marks(spark, sf_dir: str) -> DataFrame:
    """Drive the high-water-mark tracker over the events parquet stream.
    Requires the RocksDB state store (transformWithState's backing
    store); configured per-query via the writeStream options path is not
    possible, so the session config is set before starting."""
    from .windows import _drain, _stream_events

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return _drain(high_water_marks(_stream_events(spark, sf_dir)), "append")
