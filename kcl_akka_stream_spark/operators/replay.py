"""Replay-dedup acceptance operator (SURVEY §2.5 A3).

Behavioral port of the reference's correctness oracle ``removeReprocessed``
(IT/MessageUtil.scala:24-61, behavior matrix IT/MessageUtilTest.scala:15-95):
per key, a received message sequence is valid iff it is the original order
with only *contiguous replay-from-an-earlier-checkpoint* repetitions
(nested retries allowed); the operator strips the replays and raises on any
true reordering or non-prefix replay.  This encodes the library's delivery
guarantee: per-key ordered, at-least-once, duplicates only as
replay-from-checkpoint prefixes.

Spark shape: ``groupBy(key).applyInPandas`` -- per-key sequences are bounded
(one shard's in-flight window), so a per-key pandas scan is the right tool;
keys hash-partition, so the operator scales with executors.  The scan itself
is pure Python over one key's messages.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame


class UnexpectedMessageSequence(Exception):
    """Raised when a received sequence cannot be explained by
    replay-from-checkpoint (reordered or non-prefix duplication)."""

    def __init__(self, key: str, message: str, messages: Sequence[str]):
        super().__init__(
            f"Messages for key `{key}` starting from `{message}` were processed "
            f"out of order: {','.join(map(str, messages))}"
        )


def remove_reprocessed_list(key: str, messages: Sequence[str]) -> list[str]:
    """Strip contiguous replay repetitions from one key's received sequence.

    A replay restarts at some earlier message (a checkpoint position) and
    must then re-deliver the original messages in order; retries of the
    replay slice itself may nest.  Restart positions must be monotonically
    non-decreasing (a later replay cannot restart before an earlier one).
    """
    distinct: list[str] = list(dict.fromkeys(messages))
    n = len(messages)

    def match_prefix(slice_candidate: list[str], start: int) -> int:
        """Length of the longest prefix of slice_candidate matching messages[start:]."""
        length = 0
        while (
            start + length < n
            and length < len(slice_candidate)
            and slice_candidate[length] == messages[start + length]
        ):
            length += 1
        return length

    i = 0  # cursor into distinct (expected next original message)
    j = 0  # cursor into messages (received)
    last_restart = 0
    while j < n:
        expected = distinct[i] if i < len(distinct) else None
        received = messages[j]
        if expected == received:
            i += 1
            j += 1
            continue
        # Replay: the received message must be a re-delivery of an already
        # seen message, restarting no earlier than the previous restart.
        restart = max(idx for idx, m in enumerate(distinct) if m == received) if received in distinct else -1
        if restart < last_restart:
            raise UnexpectedMessageSequence(key, received, messages)
        last_restart = restart
        slice_candidate = distinct[restart:i]
        # Consume one or more back-to-back (possibly partial, nested) retries
        # of the replay slice; the final retry must run to the slice's end so
        # the stream resumes exactly at distinct[i].
        end = j
        while True:
            advanced = match_prefix(slice_candidate, end)
            if advanced == 0:
                break
            end += advanced
        last_index = end - 1
        if last_index < j or not slice_candidate or slice_candidate[-1] != messages[last_index]:
            raise UnexpectedMessageSequence(key, received, messages)
        j = end
    return distinct


def remove_reprocessed(
    df: DataFrame,
    key_col: str,
    msg_col: str,
    order_col: str,
) -> DataFrame:
    """DataFrame form: per key, validate + strip replays; output one row per
    surviving message with its position in the deduped sequence."""
    out_schema = f"{key_col} string, {msg_col} string, position long"

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        key = str(pdf[key_col].iloc[0])
        kept = remove_reprocessed_list(key, pdf[msg_col].astype(str).tolist())
        return pd.DataFrame(
            {key_col: key, msg_col: kept, "position": range(len(kept))}
        )

    return (
        df.select(
            df[key_col].cast("string").alias(key_col),
            df[msg_col].cast("string").alias(msg_col),
            df[order_col].alias(order_col),
        )
        .groupBy(key_col)
        .applyInPandas(scan, schema=out_schema)
    )
