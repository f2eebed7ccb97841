"""Stateful streaming position tracker (applyInPandasWithState).

The reference keeps no state between hourly cycles — each run re-fetches
everything (main.py:353-359). A streaming-native engine carries per-key
state across micro-batches instead; this module implements the canonical
example for the snapshot domain: a running position tracker per user that
folds each batch of deposit/withdraw events into (net_value, n_events)
state and emits the updated position — i.e. the incremental form of the
reference's F1→A3 aggregation. ``stream_position_tracker`` in the query
registry runs it against a batch-SQL oracle.

State per key is one fixed-width (net, n) tuple, updated with Arrow
batches (pandas per group). Keys never time out (NoTimeout), so state
grows with the number of distinct users over the life of the query.
"""
from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, net_value double, n_events long"
STATE_SCHEMA = "net double, n long"


def _update_position(key, pdfs: Iterable, state: GroupState):
    import pandas as pd

    import numpy as np

    net, n = state.get if state.exists else (0.0, 0)
    for pdf in pdfs:
        # deposits add, withdrawals subtract — the signed fold of the
        # reference's deposit-only sum (main.py:127-135) generalized
        et = pdf["event_type"].to_numpy()
        sign = np.where(et == "purchase", 1.0, np.where(et == "error", -1.0, 0.0))
        # nansum: a null `value` must be skipped (Spark SQL sum semantics),
        # not propagated — NaN*0.0 is NaN, and one NaN would otherwise
        # permanently poison the per-user net state.
        net += float(np.nansum(pdf["value"].to_numpy() * sign))
        n += int(len(pdf))
    state.update((net, n))
    yield pd.DataFrame({"user_id": [key[0]], "net_value": [net], "n_events": [n]})


def running_position_tracker(events: DataFrame) -> DataFrame:
    """Stateful per-user position over an event stream.

    Emits one updated (user_id, net_value, n_events) row per key per
    micro-batch in update mode. purchase ≡ deposit (+), error ≡ withdraw
    (−), other event types only count.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_position,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
