"""Engine configuration.

Replaces the reference's env-var sprawl (``src/etl/extractors.py:12-22``,
``src/etl/loaders.py:6-15``) with one typed config object. Every knob keeps
the reference's default so behavior is drop-in compatible.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_bool(name: str, default: bool) -> bool:
    v = os.getenv(name)
    if v is None:
        return default
    return v.strip().lower() in ("1", "true", "yes", "on", "y")


def _env_int(name: str, default: int) -> int:
    v = os.getenv(name)
    return int(v) if v else default


@dataclass
class EngineConfig:
    """All engine knobs. Defaults mirror the reference where one exists."""

    # --- Spark runtime ---
    # one local task slot per CPU this process may run on
    master: str = field(
        default_factory=lambda: os.getenv(
            "SPARK_MASTER",
            f"local[{os.getenv('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]",
        )
    )
    app_name: str = "devcontainers-etl-node-spark"
    shuffle_partitions: int = field(default_factory=lambda: _env_int("SPARK_SHUFFLE_PARTITIONS", 32))
    session_timezone: str = "UTC"  # reference normalizes everything to UTC (loaders.py:128-133)

    # --- Sources (reference extractors.py defaults) ---
    pg_url: str = field(default_factory=lambda: os.getenv("PG_JDBC_URL", "jdbc:postgresql://postgres:5432/appdb"))
    pg_user: str = field(default_factory=lambda: os.getenv("POSTGRES_USER", "app"))
    pg_password: str = field(default_factory=lambda: os.getenv("POSTGRES_PASSWORD", "app"))
    kafka_bootstrap: str = field(default_factory=lambda: os.getenv("KAFKA_BOOTSTRAP", "kafka:9092"))
    kafka_topic: str = field(default_factory=lambda: os.getenv("KAFKA_TOPIC", "sales.events"))
    kafka_max_records: int = field(default_factory=lambda: _env_int("KAFKA_MAX_RECORDS", 50_000))  # extractors.py:15
    s3_endpoint: str = field(default_factory=lambda: os.getenv("S3_ENDPOINT", "http://minio:9000"))
    s3_bucket: str = field(default_factory=lambda: os.getenv("S3_BUCKET", "wms-snapshots"))
    s3_prefix: str = field(default_factory=lambda: os.getenv("S3_PREFIX", "inventory/"))

    # --- Sinks (reference loaders.py defaults) ---
    ch_url: str = field(default_factory=lambda: os.getenv("CH_JDBC_URL", "jdbc:clickhouse://clickhouse:8123/commerce"))
    ch_batch_rows: int = field(default_factory=lambda: _env_int("CH_CHUNK_ROWS", 200_000))  # loaders.py:13
    insert_enabled: bool = field(default_factory=lambda: _env_bool("INSERT", True))  # etl.py:8

    # --- Generator fleet (reference data_chargers defaults) ---
    interval_seconds: int = field(default_factory=lambda: _env_int("INTERVAL_SECONDS", 10))  # postgres/kafka_loader.py
    magnitude_order: int = field(default_factory=lambda: _env_int("MAGNITUDE_ORDER", 10))  # rows per cycle

    # --- Corpus / bench ---
    sf_dir: str = field(default_factory=lambda: os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))


DEFAULT = EngineConfig()
