"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.C streaming: "custom stateful operators").

running_user_totals: per-key running (count, sum) maintained in the state
store across micro-batches, emitting the updated totals for keys seen in
each batch. With an availableNow replay of a static file the final emitted
state equals the batch groupBy — asserted in tests (the stateful analogue
of the batch↔stream equivalence harness).

Scale: state is (2 doubles) per key, partitioned by the grouping key —
state-store size is O(distinct keys), independent of stream length."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n bigint, total double"
STATE_SCHEMA = "n bigint, total double"


def _update(key, pdf_iter, state: GroupState):
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """events(user_id, value, ...) → per-user running totals, updated each
    micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
