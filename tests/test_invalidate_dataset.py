"""io.invalidate_dataset: the documented eviction point for per-
dataset model-state memos (ADVICE r8: the `_k_cells` count memo had
no invalidation — rewriting a dataset dir mid-session left Spark
training against the old corpus while the SQL oracle recomputed from
the new one)."""

import shutil

import pytest


@pytest.fixture()
def tmp_dataset(tmp_path):
    """A writable copy of the sf0.001 embeddings table (testdata is
    read-only; invalidation is only observable after a rewrite)."""
    d = tmp_path / "ds"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                d / "embeddings.parquet")
    return str(d)


def test_k_cells_rewrite_needs_invalidate(spark, tmp_dataset):
    from pro_etl_spark import io as pio
    from pro_etl_spark.ops import similarity as sim

    k1 = sim._k_cells(spark, tmp_dataset)
    n1 = pio.load(spark, tmp_dataset, "embeddings").count()

    # rewrite the dir with half the rows — the memo must go stale
    # (documented), and invalidate_dataset must bring it current
    half = pio.load(spark, tmp_dataset, "embeddings").limit(max(n1 // 2, 1))
    pdf = half.toPandas()
    shutil.rmtree(tmp_dataset)
    import os

    os.makedirs(tmp_dataset)
    pdf.to_parquet(f"{tmp_dataset}/embeddings.parquet")

    assert sim._k_cells(spark, tmp_dataset) == k1, (
        "memo is per-(app, dataset) by design — stale until invalidated"
    )
    pio.invalidate_dataset(spark, tmp_dataset)
    k2 = sim._k_cells(spark, tmp_dataset)
    import math

    n2 = pio.load(spark, tmp_dataset, "embeddings").count()
    assert n2 == max(n1 // 2, 1)
    assert k2 == max(sim.K_CELLS, math.ceil(math.sqrt(n2)))


def test_invalidate_evicts_all_registered_memos(spark, tmp_dataset):
    """Every artifact memoized for the dataset is evicted, nested builds
    included, and artifacts of OTHER datasets (or of none) survive."""
    from pro_etl_spark import io as pio

    memo, other = pio.dataset_memo, "/some/other/ds"
    memo(spark, tmp_dataset, ("t", 1),
         lambda: ("stale", memo(spark, tmp_dataset, "t", lambda: "stale")))
    memo(spark, other, "t", lambda: "keep")
    memo(spark, None, "t", lambda: "keep")
    assert memo(spark, tmp_dataset, "t", lambda: "rebuilt") == "stale"
    pio.invalidate_dataset(spark, tmp_dataset)
    assert memo(spark, tmp_dataset, "t", lambda: "fresh") == "fresh"
    assert memo(spark, tmp_dataset, ("t", 1), lambda: "fresh") == "fresh"
    assert memo(spark, other, "t", lambda: "rebuilt") == "keep"
    assert memo(spark, None, "t", lambda: "rebuilt") == "keep"
    for key in [k for k in pio._MEMOIZED if k[2] in ("t", ("t", 1))]:
        del pio._MEMOIZED[key]


def test_memo_keys_are_built_only_in_io():
    """Every memo goes through ``io.dataset_memo``, so
    ``invalidate_dataset`` reaches all of them: no module but io.py
    builds a key from the application id."""
    import pathlib

    import pro_etl_spark

    root = pathlib.Path(pro_etl_spark.__file__).parent
    users = [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if "sparkContext.applicationId" in p.read_text(encoding="utf-8")
    ]
    assert users == ["io.py"]


def test_view_memo_is_session_scoped(spark):
    """Temp views are SparkSession-scoped, so the register_views memo
    must track each session independently (ADVICE r10: an
    applicationId-keyed memo tracked only the LAST (app, sf_dir) pair,
    so invalidate could re-register views into the wrong session or
    skip a session whose views were stale)."""
    from pro_etl_spark import io as pio

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    s2 = spark.newSession()
    pio.register_views(spark, sf_a)
    pio.register_views(s2, sf_b)
    # both sessions tracked, each with its own dataset (the app-keyed
    # memo kept only s2's later registration)
    assert pio._REGISTERED_VIEWS[spark] == sf_a
    assert pio._REGISTERED_VIEWS[s2] == sf_b
    # each session's views resolve against ITS dataset
    n_a = spark.sql("SELECT count(*) AS n FROM events").collect()[0].n
    n_b = s2.sql("SELECT count(*) AS n FROM events").collect()[0].n
    assert (n_a, n_b) == (1000, 10000)
    # invalidating session 1's dataset re-registers session 1's views
    # (skipped under the app-keyed memo, which said sf_b) and leaves
    # session 2's registration untouched
    pio.invalidate_dataset(spark, sf_a)
    assert pio._REGISTERED_VIEWS[spark] == sf_a
    assert pio._REGISTERED_VIEWS[s2] == sf_b
    assert spark.sql("SELECT count(*) AS n FROM events").collect()[0].n == 1000
