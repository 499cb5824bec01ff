"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no arbitrary-stateful surface (SURVEY §2.11 lists it as
absent); Spark's ``applyInPandasWithState`` is the idiomatic primitive: a
user function over (key, batch-of-rows, state-handle) with watermark-based
timeout eviction — state is per-key, partitioned by the grouping key, so a
billion-key stream distributes like any other keyed aggregation.

``running_totals`` is the canonical example operator: per-key running
count/sum maintained across micro-batches, emitting one row per key per
batch the key appears in. The same scaffold (group → state get/update →
emit) fits anomaly scoring, session carry-over, etc. Streaming exact
dedup is ``streaming.windows.dedup_within_watermark``
(``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(df: DataFrame, key_col: str, value_col: str,
                   *, timeout: str = "NoTimeout") -> DataFrame:
    """Per-key running (count, sum) across micro-batches.

    Output schema: ``{key_col} bigint, n_events bigint, total double``.
    State per key is two scalars — bounded regardless of stream length.
    """
    out_schema = f"{key_col} bigint, n_events bigint, total double"
    state_schema = "n bigint, s double"

    def update(key: tuple[Any, ...],
               batches: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [s]})

    return (df.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    getattr(GroupStateTimeout, timeout)))
