"""Engine configuration.

Mirrors the reference deployment's tunables (serverless.yml:24-37,
sample.secrets.json) as an explicit config object instead of env-var
reads at module load (shipper.js:3, subscriber.js:2-9).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def local_cpus() -> int:
    """Task slots for a local session: ``SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class EngineConfig:
    # Data plane (reference: serverless.yml:24-37)
    batch_size: int = 1000          # Kinesis records per trigger (BATCH_SIZE)
    bulk_size: int = 100            # sink docs per bulk write (LOGS_BULK_SIZE)
    flush_interval_ms: int = 2000   # sink flush cadence (LOG_INTERVAL)
    starting_position: str = "latest"  # serverless.yml:31

    # Control plane (reference: subscriber.js, sample.secrets.json)
    log_group_prefix: str = "/aws/lambda"   # PREFIX
    retention_days: int = 1                 # LOG_GROUP_RETENTION_IN_DAYS
    page_size: int = 50                     # describeLogGroups limit (subscriber.js:20)
    shipper_name: str = "shipper"           # cycle guard (subscriber.js:70-73)

    # Engine-side layout
    log_table_path: str = "out/log_table"
    dlq_path: str = "out/dlq"
    checkpoint_path: str = "out/_checkpoints"

    # Spark tuning — local defaults; on a real cluster these come from
    # spark-submit conf. shuffle_partitions should be ~2-3x total cores
    # at 100 TB (e.g. 8000 on a 1000-executor cluster); AQE coalesces.
    shuffle_partitions: int = local_cpus()

    extra_spark_conf: dict = field(default_factory=dict)


DEFAULT_CONFIG = EngineConfig()
