"""Engine configuration: YAML with the reference's key set
(config.example.yml; loader semantics from internal/config/config.go:94-196
incl. default injection ValidateConfig :138-196).

`bandwidth_mbps` is accepted-but-unused exactly like the reference
(config.go:74 — declared, never enforced; SURVEY D8), kept so existing
configs parse unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import yaml


@dataclass
class MySQLConfig:
    host: str = "localhost"
    port: int = 3306
    username: str = "root"
    password: str = ""
    database: str = ""
    test_only: bool = False
    max_open_conns: int = 100
    max_idle_conns: int = 50
    conn_max_lifetime: int = 3600
    connection_params: str = ""

    @property
    def jdbc_url(self) -> str:
        params = f"?{self.connection_params.replace('&', '&')}" if self.connection_params else ""
        return f"jdbc:mysql://{self.host}:{self.port}/{self.database}{params}"


@dataclass
class PostgresConfig:
    host: str = "localhost"
    port: int = 5432
    username: str = "postgres"
    password: str = ""
    database: str = ""
    test_only: bool = False
    max_conns: int = 50
    pg_connection_params: str = ""

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"

    @property
    def dsn(self) -> str:
        """DB-API / libpq DSN (the COPY sink's connection string)."""
        auth = self.username + (f":{self.password}" if self.password else "")
        return f"postgresql://{auth}@{self.host}:{self.port}/{self.database}"


@dataclass
class ConversionOptions:
    tableddl: bool = True
    data: bool = True
    view: bool = False
    indexes: bool = True
    functions: bool = False
    triggers: bool = False
    foreign_keys: bool = True  # r8: reference drops FKs; we keep them
    check_constraints: bool = True  # r11: MySQL 8 CHECKs, post-data
    users: bool = True
    table_privileges: bool = True
    lowercase_columns: bool = True
    skip_existing_tables: bool = True
    use_table_list: bool = False
    table_list: list[str] = field(default_factory=list)
    exclude_use_table_list: bool = False
    exclude_table_list: list[str] = field(default_factory=list)
    validate_data: bool = True
    truncate_before_sync: bool = False
    # COPY-protocol fast sink instead of JDBC batch INSERT (the
    # reference's hot path, postgres/connection.go:557); needs psycopg
    # on the executors.
    use_copy_protocol: bool = False


@dataclass
class Limits:
    concurrency: int = 10
    bandwidth_mbps: int = 100          # declared-only parity (SURVEY D8)
    max_ddl_per_batch: int = 10
    max_functions_per_batch: int = 5
    max_indexes_per_batch: int = 20
    max_users_per_batch: int = 10
    max_rows_per_batch: int = 10_000
    batch_insert_size: int = 10_000


@dataclass
class EngineConfig:
    mysql: MySQLConfig = field(default_factory=MySQLConfig)
    postgresql: PostgresConfig = field(default_factory=PostgresConfig)
    options: ConversionOptions = field(default_factory=ConversionOptions)
    limits: Limits = field(default_factory=Limits)

    @property
    def include_tables(self) -> list[str] | None:
        return self.options.table_list if self.options.use_table_list else None

    @property
    def exclude_tables(self) -> list[str] | None:
        return (
            self.options.exclude_table_list
            if self.options.exclude_use_table_list
            else None
        )


def _fill(cls, data: dict[str, Any]):
    # unknown keys are ignored, so a YAML that still carries a retired
    # option keeps loading
    known = {f for f in cls.__dataclass_fields__}
    return cls(**{k: v for k, v in (data or {}).items() if k in known})


def load_config(path: str) -> EngineConfig:
    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    conv = raw.get("conversion") or {}
    return EngineConfig(
        mysql=_fill(MySQLConfig, raw.get("mysql")),
        postgresql=_fill(PostgresConfig, raw.get("postgresql")),
        options=_fill(ConversionOptions, conv.get("options")),
        limits=_fill(Limits, conv.get("limits")),
    )
