"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, inputs  # noqa: E402
from perfbench.spans import Span, Tracer, is_restored  # noqa: E402
from perfbench.workloads import CLONE_TABLES, CloneWorkload, Ledger  # noqa: E402


def _files(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _generate(seed, d):
    inputs.derive_namespace(seed, f"{d}/data", CLONE_TABLES)
    con = inputs.connect()
    drift = inputs.LineitemDrift(con, f"{d}/data/lineitem.parquet", 16, seed, 0.015)
    drift.drift("local", f"{d}/snap1/lineitem.parquet")
    drift.drift("scattered", f"{d}/snap2/lineitem.parquet")
    changes = inputs.OrdersChanges(con, f"{d}/data/orders.parquet", 8, seed, 0.02)
    changes.batch(f"{d}/batch/changes.parquet")
    con.close()
    return _files(d)


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _generate(7, tmp_path / "a")
    b = _generate(7, tmp_path / "b")
    c = _generate(8, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_local_drift_stays_in_few_chunks_scattered_spreads(tmp_path):
    inputs.derive_namespace(3, tmp_path, ("lineitem",))
    con = inputs.connect()
    drift = inputs.LineitemDrift(con, f"{tmp_path}/lineitem.parquet", 16, 3, 0.015)
    local = drift.drift("local", f"{tmp_path}/s1/lineitem.parquet")
    scattered = drift.drift("scattered", f"{tmp_path}/s2/lineitem.parquet")
    assert local["rows_changed"] == scattered["rows_changed"] == 900
    assert local["chunks_changed"] == 1
    assert scattered["chunks_changed"] == 16


def test_deleted_row_in_clone_is_a_failed_operation(tmp_path):
    from database_cloner_spark.pipeline.clone import CloneRunResult, TableResult

    ns, target = tmp_path / "ns", tmp_path / "target"
    inputs.derive_namespace(5, ns, CLONE_TABLES)
    os.makedirs(target / "_principal_probes")
    con = inputs.connect()
    for t in CLONE_TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{ns}/{t}.parquet')) "
            f"TO '{target}/clone_{t}.parquet' (FORMAT PARQUET)")
    result = CloneRunResult(results=[
        TableResult(t, f"clone_{t}", "cloned", verified=True) for t in CLONE_TABLES])
    wl = types.SimpleNamespace(con=con, ns=str(ns), clone_target=str(target))
    assert CloneWorkload.clone_problem(wl, result) is None

    victim = target / "clone_lineitem.parquet"
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{victim}') LIMIT 59999) "
        f"TO '{tmp_path}/short.parquet' (FORMAT PARQUET)")
    os.replace(tmp_path / "short.parquet", victim)
    ledger = Ledger()
    ledger.record("clone", CloneWorkload.clone_problem(wl, result))
    assert (ledger.attempted, ledger.failed) == (1, 1)
    assert "1 expected rows missing" in ledger.problems[0]


def test_oracle_summary_matches_same_rows_and_catches_a_changed_value(tmp_path):
    inputs.derive_namespace(2, tmp_path)
    sql = "SELECT n_nationkey, n_name FROM nation"
    summary = checks.oracle_summaries(str(tmp_path), {"k": sql})["k"]
    con = inputs.connect()
    rows = con.execute(f"SELECT n_name, n_nationkey FROM read_parquet('{tmp_path}/nation.parquet')").fetchall()
    dtypes = [("n_name", "string"), ("n_nationkey", "int")]
    assert checks.analytics_problem("k", dtypes, list(reversed(rows)), summary) is None
    rows[0] = (rows[0][0] + "x", rows[0][1])
    assert "value hash" in checks.analytics_problem("k", dtypes, rows, summary)


def test_wrappers_are_restored():
    from database_cloner_spark.pipeline import clone, verify
    from database_cloner_spark.sources import parquet

    originals = (parquet.load, clone.load, verify.verify_clone, clone.ClonePipeline.run)
    tracer = Tracer()
    tracer.install()
    try:
        assert clone.load is not originals[1] and parquet.load is not originals[0]
        # a module imported while the wrappers are installed binds a wrapper
        late = types.ModuleType("database_cloner_spark._late_import")
        late.load = parquet.load
        sys.modules[late.__name__] = late
        assert not is_restored()
    finally:
        tracer.restore()
    try:
        assert is_restored()
        assert late.load is originals[0]
        assert (parquet.load, clone.load, verify.verify_clone,
                clone.ClonePipeline.run) == originals
    finally:
        del sys.modules[late.__name__]


def test_self_time_subtracts_the_union_of_children():
    t = Tracer()
    t.spans = [Span("op", 0.0, 10.0, -1, "o", 1),
               Span("a", 1.0, 3.0, 0, "o", 1),
               Span("b", 2.0, 5.0, 0, "o", 2),  # overlaps a, other thread
               Span("c", 2.5, 2.75, 2, "o", 2)]
    assert t.self_times() == pytest.approx([6.0, 2.0, 2.75, 0.25])


def test_spark_chunk_matches_spark(tmp_path):
    import numpy as np
    from pyspark.sql import SparkSession

    keys = np.array([0, 1, -1, 7, 2**40 + 3, -(2**62), 123456789012], dtype=np.int64)
    spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path)).getOrCreate())
    try:
        df = spark.createDataFrame([(int(k),) for k in keys], "k bigint")
        got = [r[0] for r in df.selectExpr("pmod(xxhash64(k), 16)").collect()]
    finally:
        spark.stop()
    assert got == list(inputs.spark_chunk(keys, 16))
