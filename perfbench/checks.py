"""Correctness gate, computed outside the program under test.

Analytics results are compared with the registry's DuckDB oracle SQL the
way tests/oracle_harness.py compares them: same column names, same type
class per column, same row count and the same order-insensitive multiset of
normalised values (hashed). The comparison is restated here rather than
imported, so that the gate stays fixed while the test helpers evolve. Clone, re-sync and CDC targets are read back
with DuckDB and compared as row multisets against the state the input
generator computed; pipeline/verify.py is never consulted.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import subprocess
import sys
from datetime import date, datetime


def _type_class(t: str) -> str:
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{_type_class(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{_type_class(t[6:-1])}>"
    if t.startswith(("decimal", "numeric")):
        return "decimal"
    if t in ("hugeint", "int128", "uhugeint"):
        return "hugeint"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "int1", "int2", "int4", "int8", "utinyint", "usmallint",
             "uinteger", "ubigint"):
        return "int"
    if t in ("float", "double", "real", "float4", "float8"):
        return "float"
    if t in ("varchar", "string", "text", "char", "bpchar"):
        return "str"
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("boolean", "bool"):
        return "bool"
    if t.startswith(("struct", "map")):
        return "nested"
    return t


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\x1e".join(norm).encode()).hexdigest()


def oracle_summaries(data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Columns, types, row count and value hash of each oracle's result on
    the generated tables, or the error it raised."""
    from perfbench.inputs import TABLES, connect

    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for key, sql in oracles.items():
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
            out[key] = {"cols": cols, "types": types, "rows": len(rows),
                        "hash": value_hash(cols, rows)}
        except Exception as ex:  # noqa: BLE001 — reported as that key's failure
            out[key] = {"error": repr(ex)}
    con.close()
    return out


def start_oracles(data_dir: str, keys, out_path: str) -> subprocess.Popen:
    """Compute the oracle summaries in a child process (DuckDB, one thread,
    lowest CPU priority) that uses the cores Spark leaves idle while the
    session starts and the cold cycle runs."""
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), data_dir, out_path, *keys],
        stdout=subprocess.DEVNULL)


def finish_oracles(proc: subprocess.Popen, out_path: str) -> dict[str, dict]:
    if proc.wait(timeout=170) != 0:
        raise RuntimeError(f"oracle process exited with {proc.returncode}")
    with open(out_path) as f:
        return json.load(f)


def analytics_problem(key: str, dtypes: list[tuple[str, str]], rows, oracle: dict) -> str | None:
    """None when the Spark result (`dtypes`, `rows`) matches the oracle's
    summary."""
    if "error" in oracle:
        return f"{key}: oracle failed: {oracle['error']}"
    s_cols = [c for c, _ in dtypes]
    if sorted(s_cols) != sorted(oracle["cols"]):
        return f"{key}: columns {sorted(s_cols)} != oracle {sorted(oracle['cols'])}"
    o_types = oracle["types"]
    bad = {c: (t, o_types[c]) for c, t in dtypes if _type_class(t) != _type_class(o_types[c])}
    if bad:
        return f"{key}: column type classes differ {bad}"
    if len(rows) != oracle["rows"]:
        return f"{key}: {len(rows)} rows != oracle {oracle['rows']}"
    if value_hash(s_cols, rows) != oracle["hash"]:
        return f"{key}: value hash differs from oracle"
    return None


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def state_problem(con, expected_sql: str, target_path: str) -> str | None:
    """None when the parquet at `target_path` (a file, a directory or a
    chunk-partitioned directory) holds exactly the rows of `expected_sql`.
    Columns are matched by name and cast to the expected types; partition
    columns absent from `expected_sql` are ignored."""
    files = _parquet_files(target_path)
    if not files:
        return f"{target_path}: no parquet files"
    exp = con.execute(f"DESCRIBE {expected_sql}").fetchall()
    listing = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    sel = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in exp)
    actual = f"SELECT {sel} FROM read_parquet({listing}, hive_partitioning = false)"
    try:
        only_exp = con.execute(
            f"SELECT count(*) FROM ({expected_sql} EXCEPT ALL {actual})"
        ).fetchone()[0]
        only_act = con.execute(
            f"SELECT count(*) FROM ({actual} EXCEPT ALL {expected_sql})"
        ).fetchone()[0]
    except Exception as ex:  # noqa: BLE001 — a missing column is a mismatch
        return f"{target_path}: unreadable against expected schema: {ex}"
    if only_exp or only_act:
        return f"{target_path}: {only_exp} expected rows missing, {only_act} unexpected rows"
    return None


def count_rows(con, path: str) -> int:
    files = _parquet_files(path)
    if not files:
        return 0
    listing = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    return con.execute(f"SELECT count(*) FROM read_parquet({listing})").fetchone()[0]


if __name__ == "__main__":
    # checks.py DATA_DIR OUT_JSON KEY...: oracle summaries for KEYs
    os.nice(19)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from database_cloner_spark.registry import all_oracles

    sql = all_oracles()
    summaries = oracle_summaries(sys.argv[1], {k: sql[k] for k in sys.argv[3:]})
    with open(sys.argv[2], "w") as f:
        json.dump(summaries, f)
