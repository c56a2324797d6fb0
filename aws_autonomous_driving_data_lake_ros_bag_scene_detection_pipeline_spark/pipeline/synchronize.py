"""Topic synchronization: per-topic streams → one wide 10 Hz table.

Re-expresses the reference's first EMR job (synchronize_topics.py) as a
single lazy Catalyst plan:

| reference step | here |
|---|---|
| per-file loop + union (44-75) | one multi-path read / ``union_by_name`` |
| ``to_json(struct)`` payload (93-98) | optional — typed values by default |
| union of the topics + pivot (173-178) | typed union: one column per topic, NULL on the other topics' rows (no pivot aggregate, no struct merge) |
| driver ``collect()`` + per-bag ``spark.range`` grid (111-157) | each signal row ``explode``s the grid ticks it owns (``sequence`` of tick ids, pure plan) |
| global ``orderBy(Time)`` (184) | dropped — the window sort suffices |
| per-topic window fill loop (189-191) | one Window operator (shared spec) |

Scale: one shuffle on the bag keys (the window); no driver round trip,
no Python. Works unchanged for millions of bags at 100 TB because the
grid is generated executor-side. The grid fill itself is
:func:`~..operators.timeseries.resample_asof`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import resample_asof


def pack_payload(df: DataFrame, keys: list[str], time_col: str,
                 as_json: bool = False) -> DataFrame:
    """Collapse all non-key columns into one ``payload`` column — the
    reference's ``create_json_payload`` (synchronize_topics.py:93-98).
    ``as_json=True`` reproduces the reference's JSON-string payload;
    default keeps a typed struct so Catalyst can still prune/push."""
    data_cols = [c for c in df.columns if c not in set(keys) | {time_col}]
    payload = F.struct(*data_cols)
    if as_json:
        payload = F.to_json(payload)
    return df.select(*keys, time_col, payload.alias("payload"))


def synchronize_topics(topic_dfs: dict[str, DataFrame], keys: list[str],
                       time_col: str = "Time", step: float = 0.1,
                       as_json: bool = False) -> DataFrame:
    """Synchronize per-topic streams onto a regular ``step`` grid per key
    group, forward-filling each topic's latest payload — the whole sync
    job (synchronize_topics.py:200-223) as one composable transform.

    Output: ``keys + [time_col] + [<topic> ...]`` (topics sorted) with
    one payload column per topic, one row per (keys, tick). Each topic
    column holds only its own topic's fields: a struct, or a JSON
    string with ``as_json`` for reference parity.

    Each topic frame is tagged with every topic column — its own
    payload in its own column, a typed NULL in the others — so the
    plain ``unionByName`` merges no struct types and each column stays
    as narrow as its topic. Several samples of one topic at the same
    instant keep one of them, arbitrarily — like the reference's pivot
    ``first()`` (synchronize_topics.py:177)."""
    topics = sorted(topic_dfs)
    packed = {t: pack_payload(df, keys, time_col, as_json=as_json)
              for t, df in topic_dfs.items()}
    types = {t: packed[t].schema["payload"].dataType for t in topics}
    tagged = [
        packed[t].select(
            *keys, time_col,
            *[(F.col("payload") if u == t
               else F.lit(None).cast(types[u])).alias(u) for u in topics])
        for t in topics]
    signals = reduce(DataFrame.unionByName, tagged)
    return resample_asof(signals, keys, time_col, step, topics)
