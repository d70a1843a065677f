"""Custom stateful streaming operator: latest-state-per-key.

The reference's operational views are all "latest event wins" shapes —
``pool_states_view`` takes each pool's most recent swap/initialization
by event_id (src/dao.ts:384-427, lateral top-1). In batch that's an
argmax (``max_by``); on a stream, recomputing the argmax from history
every batch grows with history. This operator instead keeps one row of
state per key with ``applyInPandasWithState`` — O(keys) state, O(batch)
work per trigger, the Spark-native equivalent of the reference's
per-block materialized refresh.

State: for each key, the (event_id, payload...) of the largest
event_id seen. Deterministic: event_id is the chain's total order
(SURVEY §1.1), so arrival order across batches cannot change the
result — the equivalence test pins stream output == batch argmax.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def latest_state_stream(
    stream: DataFrame,
    key_col: str,
    event_id_col: str = "event_id",
    value_cols: tuple[str, ...] = ("value",),
) -> DataFrame:
    """Streaming latest-row-per-key. Emits, per micro-batch, the keys
    whose latest row changed (update semantics — sink with foreachBatch
    MERGE or a key-value store)."""

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField(event_id_col, T.LongType()),
            *[T.StructField(c, T.DoubleType()) for c in value_cols],
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField(event_id_col, T.LongType()),
            *[T.StructField(c, T.DoubleType()) for c in value_cols],
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best_id = None
        best_vals: list[float] | None = None
        if state.exists:
            stored = state.get
            best_id, best_vals = stored[0], list(stored[1:])
        changed = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            row = pdf.loc[pdf[event_id_col].idxmax()]
            rid = int(row[event_id_col])
            if best_id is None or rid > best_id:
                best_id = rid
                best_vals = [float(row[c]) for c in value_cols]
                changed = True
        # emit only keys whose latest row actually changed — a batch
        # of stale (lower event_id) rows must not rewrite state or
        # trigger a downstream re-upsert
        if not changed:
            return
        state.update((best_id, *best_vals))
        yield pd.DataFrame(
            [(key[0], best_id, *best_vals)],
            columns=[key_col, event_id_col, *value_cols],
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
