"""Consumer configuration surface (SURVEY §1.5).

Mirrors the reference's HOCON config (ConsumerConfig.scala:103-144,
reference.conf:1-11) as plain dataclasses, mapped onto Spark reader options:

- initial position enum ``latest | trim-horizon | at-timestamp`` with a
  parsed datetime (ConsumerConfig.scala:115-139) -> ``startingPosition``;
- checkpoint cadence (ShardCheckpointConfig.scala:7-11; defaults 60 s /
  10 000 records / 5 s drain, reference.conf:5-9) -> streaming/commit.py;
- fetch sizing (maxRecordsPerFetch) -> ``maxFetchRecordsPerShard`` /
  ``maxFilesPerTrigger`` admission control.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any


class InitialPosition:
    LATEST = "latest"
    TRIM_HORIZON = "trim-horizon"
    AT_TIMESTAMP = "at-timestamp"


@dataclass(frozen=True)
class ShardCheckpointConfig:
    """ShardCheckpointConfig.scala:7-11; defaults reference.conf:5-9."""

    checkpoint_period_seconds: float = 60.0
    checkpoint_after_processing_nr_of_records: int = 10_000
    max_wait_for_completion_on_stream_shutdown_seconds: float = 5.0

    @classmethod
    def from_dict(cls, conf: dict[str, Any]) -> "ShardCheckpointConfig":
        c = conf.get("shard-checkpoint-config", conf)
        return cls(
            checkpoint_period_seconds=float(c.get("checkpoint-period", 60.0)),
            checkpoint_after_processing_nr_of_records=int(
                c.get("checkpoint-after-processing-nr-of-records", 10_000)
            ),
            max_wait_for_completion_on_stream_shutdown_seconds=float(
                c.get("max-wait-for-completion-on-stream-shutdown", 5.0)
            ),
        )


@dataclass(frozen=True)
class ConsumerConfig:
    """ConsumerConfig.scala:20-44 -- stream + application identity plus
    position/fetch knobs.  (streamName, applicationName) is the consumer
    group identity, KinesisAppId.scala:3."""

    stream_name: str
    application_name: str
    initial_position: str = InitialPosition.LATEST
    at_timestamp: _dt.datetime | None = None
    max_records_per_fetch: int = 1_000
    checkpoint: ShardCheckpointConfig = field(default_factory=ShardCheckpointConfig)

    def __post_init__(self):
        valid = {InitialPosition.LATEST, InitialPosition.TRIM_HORIZON, InitialPosition.AT_TIMESTAMP}
        if self.initial_position not in valid:
            raise ValueError(f"initial-position must be one of {sorted(valid)}")
        if self.initial_position == InitialPosition.AT_TIMESTAMP and self.at_timestamp is None:
            raise ValueError("at-timestamp initial position requires a timestamp")

    @classmethod
    def from_dict(cls, conf: dict[str, Any]) -> "ConsumerConfig":
        pos = conf.get("initial-position", InitialPosition.LATEST)
        ts = conf.get("at-timestamp")
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        return cls(
            stream_name=conf["stream-name"],
            application_name=conf["application-name"],
            initial_position=pos,
            at_timestamp=ts,
            max_records_per_fetch=int(conf.get("max-records-per-fetch", 1_000)),
            checkpoint=ShardCheckpointConfig.from_dict(conf),
        )

    def reader_options(self) -> dict[str, str]:
        """Spark reader options for a Kinesis-connector source (S1/S2)."""
        opts = {
            "streamName": self.stream_name,
            "consumerName": self.application_name,
            "maxFetchRecordsPerShard": str(self.max_records_per_fetch),
        }
        if self.initial_position == InitialPosition.LATEST:
            opts["startingPosition"] = "latest"
        elif self.initial_position == InitialPosition.TRIM_HORIZON:
            opts["startingPosition"] = "trim_horizon"
        else:
            opts["startingPosition"] = self.at_timestamp.isoformat()
        return opts
