"""Warehouse ETL write-path tests: idempotency (the reference's
ON CONFLICT semantics — run the refresh twice, identical star), merge
semantics, and partition layout.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time

import pytest

from filmdb_data_warehouse___power_bi_dashboard_spark.plans import etl
from filmdb_data_warehouse___power_bi_dashboard_spark.plans.etl import build_warehouse
from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import overlap
from filmdb_data_warehouse___power_bi_dashboard_spark.sources.sinks import (
    merge_upsert,
    read_warehouse_table,
)

WAREHOUSE_TABLES = [
    "dim_date",
    "dim_client",
    "dim_magasin",
    "dim_categorie",
    "dim_film",
    "fact_paiement",
    "v_agg_mensuel_magasin",
    "v_agg_mensuel_categorie",
    "v_dim_mois",
]


@pytest.fixture(scope="module")
def dw_root():
    d = tempfile.mkdtemp(prefix="dw-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_build_warehouse_idempotent(spark, sf_small, dw_root):
    counts1 = build_warehouse(spark, sf_small, dw_root)
    keys1 = {
        name: sorted(
            r[0]
            for r in read_warehouse_table(spark, dw_root, name)
            .select(key)
            .collect()
        )
        for name, key in [
            ("dim_client", "client_key"),
            ("dim_film", "film_key"),
            ("fact_paiement", "source_paiement_id"),
        ]
    }
    counts2 = build_warehouse(spark, sf_small, dw_root)
    assert counts1 == counts2
    for name, key in [
        ("dim_client", "client_key"),
        ("dim_film", "film_key"),
        ("fact_paiement", "source_paiement_id"),
    ]:
        keys2 = sorted(
            r[0]
            for r in read_warehouse_table(spark, dw_root, name).select(key).collect()
        )
        assert keys1[name] == keys2, f"{name} surrogate keys drifted across re-runs"


def test_fact_partitioned_by_month(spark, sf_small, dw_root):
    fact_dir = os.path.join(dw_root, "fact_paiement")
    parts = [p for p in os.listdir(fact_dir) if p.startswith("pay_month=")]
    assert len(parts) >= 2, f"expected monthly partition dirs, got {parts[:5]}"
    # Partition pruning: reading one month must only touch that dir.
    df = spark.read.parquet(fact_dir)
    one_month = sorted(p.split("=")[1] for p in parts)[0]
    plan = df.filter(df.pay_month == one_month)._jdf.queryExecution().executedPlan().toString()
    assert "pay_month" in plan


def test_build_warehouse_counts_equal_read_back(spark, sf_small, tmp_path):
    """The counts observed on the writes are the rows the tables hold,
    on a first build and on a re-run that merges into it."""
    dw = str(tmp_path / "dw")
    for _ in range(2):
        counts = build_warehouse(spark, sf_small, dw)
        assert list(counts) == WAREHOUSE_TABLES
        read_back = {name: read_warehouse_table(spark, dw, name).count() for name in counts}
        assert counts == read_back


class _InjectedWriteFailure(RuntimeError):
    pass


def test_build_warehouse_failed_table_keeps_previous_rows(spark, sf_small, tmp_path, monkeypatch):
    """One table's failed write fails the refresh, after the other
    eight tables are written; the failed table keeps its previous
    rows, and no refresh thread outlives the call."""
    dw = str(tmp_path / "dw")
    first = build_warehouse(spark, sf_small, dw)
    film_dir = os.path.join(dw, "dim_film")
    film_inode = os.stat(film_dir).st_ino
    original = etl.stage_and_swap_write
    written = []

    def failing_write(df, path, *args, **kwargs):
        if os.path.basename(path) == "dim_film":
            raise _InjectedWriteFailure(path)
        original(df, path, *args, **kwargs)
        written.append(os.path.basename(path))

    monkeypatch.setattr(etl, "stage_and_swap_write", failing_write)
    threads_before = set(threading.enumerate())
    with pytest.raises(_InjectedWriteFailure):
        build_warehouse(spark, sf_small, dw)
    assert [t for t in threading.enumerate() if t not in threads_before] == []
    assert sorted(written) == sorted(n for n in WAREHOUSE_TABLES if n != "dim_film")
    assert os.stat(film_dir).st_ino == film_inode
    assert read_warehouse_table(spark, dw, "dim_film").count() == first["dim_film"]


def test_overlap_threads_order_properties_and_errors(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("filmdb.test.overlap", "from-caller")
    try:
        def probe():
            return threading.get_ident(), sc.getLocalProperty("filmdb.test.overlap")

        out = overlap(probe, lambda: "second", lambda: 3)
        ident, prop = out[0]
        assert ident != threading.get_ident()
        assert prop == "from-caller"
        assert out[1:] == ["second", 3]

        # A property one thunk sets stays on its own thread.
        barrier = threading.Barrier(2)

        def own(value):
            sc.setLocalProperty("filmdb.test.overlap", value)
            barrier.wait(timeout=30)
            return sc.getLocalProperty("filmdb.test.overlap")

        assert overlap(lambda: own("a"), lambda: own("b")) == ["a", "b"]
        assert sc.getLocalProperty("filmdb.test.overlap") == "from-caller"

        finished = []

        def slow():
            time.sleep(0.3)
            finished.append(threading.get_ident())

        def boom():
            raise ValueError("boom")

        with pytest.raises(ValueError, match="boom"):
            overlap(slow, boom, slow)
        assert len(finished) == 2
    finally:
        sc.setLocalProperty("filmdb.test.overlap", None)


def test_merge_upsert_do_update(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    incoming = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    out = {r["k"]: r["v"] for r in merge_upsert(existing, incoming, "k").collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_merge_upsert_do_nothing(spark):
    existing = spark.createDataFrame([(1, "old")], "k int, v string")
    incoming = spark.createDataFrame([(1, "new"), (2, "ins")], "k int, v string")
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(existing, incoming, "k", do_update=False).collect()
    }
    assert out == {1: "old", 2: "ins"}


def test_fact_surrogates_stable_under_cache_release(spark, sf_small):
    """Round-5 regression pin: recomputing the fact after every cached
    block is dropped must reproduce IDENTICAL surrogate keys.

    The round-4 bug: global ranks pinned their offsets to one sampling
    of repartitionByRange boundaries held alive by a persist; dropping
    that block (test teardown locally — a lost executor at scale) and
    recomputing produced duplicate payment ids, silently shrinking
    COUNT(DISTINCT source_paiement_id). Ranking is now a pure function
    of the data, so release + full recompute must be a no-op."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.plans.etl import (
        _STAR_CACHE,
        build_star_frames,
    )
    from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import release_persisted

    star = build_star_frames(spark, sf_small)
    fact = star["fact_paiement"]
    # Materialize only a sliver (mimics a LIMIT-style first touch that
    # caches some partitions but not all), then drop every cache block.
    fact.limit(1).collect()
    release_persisted()
    fact.unpersist(blocking=True)
    after_release = {
        (r["source_paiement_id"], r["client_key"], r["film_key"])
        for r in fact.collect()
    }
    # Cold rebuild from scratch for the ground truth.
    _STAR_CACHE.clear()
    release_persisted()
    fresh = build_star_frames(spark, sf_small)["fact_paiement"]
    ground_truth = {
        (r["source_paiement_id"], r["client_key"], r["film_key"])
        for r in fresh.collect()
    }
    assert len(after_release) == len(ground_truth)
    assert after_release == ground_truth


def test_scd2_apply_idempotent_and_chains_versions(spark):
    """SCD2: re-applying the same update batch must be a no-op (the
    live version already carries the new attributes), and a SECOND
    distinct update must chain a third version with contiguous
    validity intervals."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.plans.scd import (
        OPEN_END,
        scd2_apply,
    )

    current = spark.createDataFrame(
        [(1, "alice", "A", "1992-01-01", OPEN_END),
         (2, "bob", "B", "1992-01-01", OPEN_END)],
        "client_id long, nom_client string, segment string, valid_from string, valid_to string",
    )
    upd1 = spark.createDataFrame(
        [(1, "X", "1995-06-01")],
        "client_id long, segment string, effective_date string",
    )
    v2 = scd2_apply(current, upd1, key="client_id", tracked=["segment"])
    rows2 = sorted(map(tuple, v2.collect()))
    assert rows2 == sorted([
        (1, "alice", "A", "1992-01-01", "1995-06-01"),
        (1, "alice", "X", "1995-06-01", OPEN_END),
        (2, "bob", "B", "1992-01-01", OPEN_END),
    ])

    # Idempotent: same batch again changes nothing.
    again = scd2_apply(v2, upd1, key="client_id", tracked=["segment"])
    assert sorted(map(tuple, again.collect())) == rows2

    # Chaining: a later change appends a third version.
    upd2 = spark.createDataFrame(
        [(1, "Y", "1999-01-01")],
        "client_id long, segment string, effective_date string",
    )
    v3 = scd2_apply(v2, upd2, key="client_id", tracked=["segment"])
    assert sorted(map(tuple, v3.collect())) == sorted([
        (1, "alice", "A", "1992-01-01", "1995-06-01"),
        (1, "alice", "X", "1995-06-01", "1999-01-01"),
        (1, "alice", "Y", "1999-01-01", OPEN_END),
        (2, "bob", "B", "1992-01-01", OPEN_END),
    ])
