"""Seeded benchmark inputs, generated with DuckDB from the vendored base.

`base/` holds the deterministic sf0.01 fixture (ten tables, 60,175
lineitem rows). A seed derives a namespace from it by shifting every
table-local key by `key_offset(seed)` and permuting the row order. Text,
vectors and measures are untouched and the offset is a multiple of 10^7, so
every seed yields an isomorphic dataset: key residues, duplicate structure
and result sizes are the same, only identities and physical order differ.

The same seed draws the re-sync drift and the CDC change batches. Both
generators keep the expected table state in DuckDB and record exactly how
many rows, keys and chunks they changed, so correctness and rewrite
amplification are judged against ground truth, not against the program.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# Table-local keys, shifted consistently across fact/dimension references.
SHIFTED_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def key_offset(seed: int) -> int:
    return (seed % 1000 + 1) * 10_000_000


def connect() -> duckdb.DuckDBPyConnection:
    """Single-threaded, UTC: identical bytes for identical seeds."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def derive_namespace(seed: int, out_dir: str, tables=TABLES) -> None:
    """Write the seed's key-shifted, row-permuted copy of `tables`."""
    os.makedirs(out_dir, exist_ok=True)
    off = key_offset(seed)
    mult = 1103515245 + 2 * (seed % 100_000)  # odd: a permutation mod 2^31
    con = connect()
    try:
        for t in tables:
            src = f"read_parquet('{BASE_DIR}/{t}.parquet')"
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            sel = ", ".join(
                f"{c} + {off} AS {c}" if c in SHIFTED_KEYS.get(t, ()) else c
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {sel} FROM "
                f"(SELECT *, row_number() OVER () AS __rn FROM {src}) "
                f"ORDER BY (__rn * {mult}) % 2147483648, __rn) "
                f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()


# -- Spark's chunk function, reimplemented ----------------------------------
# pipeline/incremental.py places a row in chunk pmod(xxhash64(key), n).
# Spark's xxhash64 of a bigint is XXH64 over its 8 bytes with seed 42. The
# generator needs it to confine "local" drift to a few chunks, and to know
# the ground-truth set of chunks a change set touches.

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_chunk(keys, n_chunks: int) -> np.ndarray:
    """pmod(xxhash64(key), n_chunks) for an array of bigint keys."""
    k = np.asarray(keys, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(k.shape, np.uint64(42) + _P5 + np.uint64(8), dtype=np.uint64)
        h ^= _rotl(k * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return np.mod(h.view(np.int64), n_chunks)


def _columns(con, table: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]


class LineitemDrift:
    """Seeded value drift on `lineitem`, keyed for a chunked re-sync on
    l_orderkey. `local` confines the changed rows to as few chunks as
    hold them; `scattered` spreads the same number over all chunks."""

    def __init__(self, con, lineitem_path: str, n_chunks: int, seed: int,
                 changed_share: float):
        self.con = con
        self.n_chunks = n_chunks
        self.rng = np.random.default_rng([seed, 1])
        con.execute(
            "CREATE TABLE li AS SELECT row_number() OVER () AS __rid, * "
            f"FROM read_parquet('{lineitem_path}')"
        )
        self.cols = [c for c in _columns(con, "li") if c != "__rid"]
        keys = con.execute("SELECT l_orderkey FROM li ORDER BY __rid").fetchnumpy()
        self.rid_chunk = spark_chunk(keys["l_orderkey"], n_chunks)
        self.n_rows = len(self.rid_chunk)
        self.n_changed = max(1, round(self.n_rows * changed_share))
        self.step = 0

    def drift(self, kind: str, snapshot_path: str) -> dict:
        """Change `n_changed` rows, write the new source snapshot, and
        return the ground truth of what changed."""
        self.step += 1
        if kind == "local":
            order = self.rng.permutation(self.n_chunks)
            pool = np.empty(0, dtype=np.int64)
            for c in order:
                pool = np.concatenate([pool, np.flatnonzero(self.rid_chunk == c)])
                if len(pool) >= self.n_changed:
                    break
        else:
            pool = np.arange(self.n_rows)
        idx = np.sort(self.rng.choice(pool, size=self.n_changed, replace=False))
        self.con.register("__chg", pa.table({"rid": idx + 1}))
        self.con.execute(
            f"UPDATE li SET l_extendedprice = l_extendedprice + {self.step}, "
            "l_quantity = l_quantity + 1 "
            "WHERE __rid IN (SELECT rid FROM __chg)"
        )
        self.con.unregister("__chg")
        self.write(snapshot_path)
        return {
            "kind": kind,
            "rows_changed": int(self.n_changed),
            "chunks_changed": int(len(np.unique(self.rid_chunk[idx]))),
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.con.execute(
            f"COPY (SELECT {', '.join(self.cols)} FROM li ORDER BY __rid) "
            f"TO '{path}' (FORMAT PARQUET)"
        )

    def expected_sql(self) -> str:
        return f"SELECT {', '.join(self.cols)} FROM li"


class OrdersChanges:
    """Seeded CDC batches against `orders`: updates, deletes, inserts of
    new keys, and keys upserted then deleted within the same batch. The
    expected state applies the highest-seq record per key."""

    KEY = "o_orderkey"

    def __init__(self, con, orders_path: str, n_chunks: int, seed: int,
                 batch_share: float):
        self.con = con
        self.n_chunks = n_chunks
        self.rng = np.random.default_rng([seed, 2])
        con.execute(f"CREATE TABLE od AS SELECT * FROM read_parquet('{orders_path}')")
        self.cols = _columns(con, "od")
        n = con.execute("SELECT count(*) FROM od").fetchone()[0]
        self.batch_records = max(8, round(n * batch_share))
        self.next_key = con.execute(f"SELECT max({self.KEY}) FROM od").fetchone()[0] + 1
        self.seq = 0

    def batch(self, path: str) -> dict:
        """Write one change batch to `path`, apply it to the expected
        state, and return its ground truth."""
        n = self.batch_records
        n_pair = n // 10  # upsert then delete, two records per key
        n_del = n * 15 // 100
        n_ins = n * 15 // 100
        n_upd = n - 2 * n_pair - n_del - n_ins
        keys = self.con.execute(
            f"SELECT {self.KEY} FROM od ORDER BY {self.KEY}"
        ).fetchnumpy()[self.KEY]
        picked = self.rng.choice(keys, size=n_upd + n_del + n_pair, replace=False)
        upd, dele, pair = np.split(picked, [n_upd, n_upd + n_del])
        ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        # record rows: (key, op, key whose row supplies the payload)
        recs = (
            [(k, "upsert", k) for k in upd]
            + [(k, "delete", k) for k in dele]
            + [(k, "upsert", t) for k, t in zip(ins, self.rng.choice(keys, size=n_ins))]
            + [(k, "upsert", k) for k in pair]
        )
        order = self.rng.permutation(len(recs))
        rows = [recs[i] for i in order] + [(k, "delete", k) for k in pair]
        seq0 = self.seq
        self.seq += len(rows)
        self.con.register("__recs", pa.table({
            "k": np.array([r[0] for r in rows], dtype=np.int64),
            "op": [r[1] for r in rows],
            "t": np.array([r[2] for r in rows], dtype=np.int64),
            "seq": np.arange(seq0 + 1, seq0 + 1 + len(rows), dtype=np.int64),
        }))
        payload = ", ".join(
            f"r.k AS {c}" if c == self.KEY
            else f"CASE WHEN r.op = 'upsert' THEN o.o_totalprice + 1 END AS {c}"
            if c == "o_totalprice"
            else f"CASE WHEN r.op = 'upsert' THEN o.{c} END AS {c}"
            for c in self.cols
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE batch AS SELECT r.op AS op, r.seq AS seq, {payload} "
            f"FROM __recs r JOIN od o ON o.{self.KEY} = r.t ORDER BY r.seq"
        )
        self.con.unregister("__recs")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.con.execute(f"COPY batch TO '{path}' (FORMAT PARQUET)")
        # expected state: drop every batch key, re-insert winning upserts
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE win AS SELECT * FROM batch "
            f"QUALIFY row_number() OVER (PARTITION BY {self.KEY} ORDER BY seq DESC) = 1"
        )
        self.con.execute(f"DELETE FROM od WHERE {self.KEY} IN (SELECT {self.KEY} FROM batch)")
        self.con.execute(
            f"INSERT INTO od SELECT {', '.join(self.cols)} FROM win WHERE op = 'upsert'"
        )
        batch_keys = np.unique([r[0] for r in rows])
        return {
            "changes": len(rows),
            "keys": int(len(batch_keys)),
            "chunks_touched": int(len(np.unique(spark_chunk(batch_keys, self.n_chunks)))),
        }

    def expected_sql(self) -> str:
        return f"SELECT {', '.join(self.cols)} FROM od"
