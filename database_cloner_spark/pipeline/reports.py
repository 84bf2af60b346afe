"""Report & log sinks.

The reference's text artifacts: per-database password files
(clone_databases.sh:447-470), the credential summary (:554-609 PG,
:952-1005 Mongo), and the append-only timestamped log (:24-34).

All of them are a few dozen rows composed on the driver, so they are
written ON the driver, like the reference's shell redirection: one part
file per write, no Spark job. The layout stays Spark's — a directory of
part files (text for reports, all-string parquet for the log and the
metadata tables) — so `spark.read.text`/`.parquet` read them back and a
Spark writer (streaming/ops.py stream_to_log) can append to the same log.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import Callable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from database_cloner_spark.pipeline.principals import DbPrincipals


def password_file_lines(p: DbPrincipals, host: str, port: int, generated_on: str) -> list[str]:
    """Format-faithful password file (clone_databases.sh:447-470)."""
    return [
        "PostgreSQL Database Cloning - Generated Passwords",
        f"Generated on: {generated_on}",
        f"Database: {p.target_db}",
        "===============================================",
        "",
        "App User (DML only):",
        f"Username: {p.app_user}",
        f"Password: {p.app_password}",
        "",
        "Schema Owner (DDL + DML):",
        f"Username: {p.owner_user}",
        f"Password: {p.owner_password}",
        "",
        "Connection Details:",
        f"Host: {host}",
        f"Port: {port}",
        f"Database: {p.target_db}",
        "",
        "Roles assigned:",
        f"- {p.app_user} -> {p.app_role}",
        f"- {p.owner_user} -> {p.owner_role}",
    ]


def credential_record(p: DbPrincipals) -> str:
    """The 5-field `:`-record (clone_databases.sh:476)."""
    return f"{p.target_db}:{p.owner_user}:{p.owner_password}:{p.app_user}:{p.app_password}"


def _write_part(path: str, ext: str, append: bool, write: Callable[[str], None]) -> None:
    """Write one part file under directory `path`: `write(tmp)` fills a
    hidden temp file there (Spark skips dot-files), then os.replace
    publishes it whole, so a reader never sees a partial file. Overwrite
    reuses one fixed part name, then drops every other entry (older
    parts, Spark's _SUCCESS/.crc files); append adds a uniquely named part."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex if append else '00000'}{ext}"
    tmp = os.path.join(path, f".{name}.tmp")
    write(tmp)
    os.replace(tmp, os.path.join(path, name))
    if not append:
        for entry in set(os.listdir(path)) - {name}:
            full = os.path.join(path, entry)
            (shutil.rmtree if os.path.isdir(full) else os.remove)(full)


def write_rows(
    columns: Sequence[str], rows: Sequence[Sequence[str]], path: str, append: bool = False
) -> None:
    """All-string parquet table sink for driver-side rows (metadata
    tables, probe results, the log): `append` adds the rows like Spark's
    mode('append'), otherwise they replace the directory's content."""
    table = pa.table(
        {c: pa.array([r[i] for r in rows], pa.string()) for i, c in enumerate(columns)}
    )
    _write_part(path, ".parquet", append, lambda tmp: pq.write_table(table, tmp))


def write_text_report(lines: list[str], path: str) -> None:
    """Text-report sink: one line per element, replacing any previous
    report at `path` (reports are human-read)."""

    def write(tmp: str) -> None:
        with open(tmp, "w", encoding="utf-8") as f:
            f.writelines(f"{line}\n" for line in lines)

    _write_part(path, ".txt", False, write)


class LogSink:
    """Append-only timestamped log (clone_databases.sh:24-34) as a
    parquet sink: (ts, level, message). Buffered per flush so each batch
    is one appended part file; readable back as a DataFrame for the
    §2.1 write_log surface."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._buf: list[tuple[str, str, str]] = []

    def log(self, level: str, message: str) -> None:
        ts = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        self._buf.append((ts, level, message))

    def info(self, message: str) -> None:
        self.log("INFO", message)

    def error(self, message: str) -> None:
        self.log("ERROR", message)

    def warning(self, message: str) -> None:
        self.log("WARNING", message)

    def success(self, message: str) -> None:
        self.log("SUCCESS", message)

    def flush(self) -> None:
        if not self._buf:
            return
        write_rows(("ts", "level", "message"), self._buf, self.path, append=True)
        self._buf = []

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


def credential_summary_lines(
    sets: list[DbPrincipals], host: str, port: int, generated_on: str
) -> list[str]:
    """The end-of-run credential summary (clone_databases.sh:554-609):
    header + one block per database, in work-list order."""
    lines = [
        "Database Cloning - Credential Summary",
        f"Generated on: {generated_on}",
        "=" * 47,
        "",
    ]
    for p in sets:
        lines += [
            f"Database: {p.target_db}",
            f"  Owner: {p.owner_user} / {p.owner_password}",
            f"  App:   {p.app_user} / {p.app_password}",
            f"  URI:   postgresql://{p.app_user}:****@{host}:{port}/{p.target_db}",
            "",
        ]
    return lines
