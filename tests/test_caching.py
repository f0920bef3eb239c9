"""Persist-lifecycle contract (round-3 verdict item #3).

Builder-local persists (shingle/signature relations that feed two branches
of one plan) and the entry module's cross-query memos are all session-scoped
caches with no release path of their own. __spark_entry__.clear_caches()
must release every one of them: after running the dedup/image/spatial query
families end-to-end and clearing, Spark's cache manager must be EMPTY — any
residue is an untracked persist leaking executor storage in a long-lived
session. (localCheckpoint RDDs are lineage truncation, not cache-manager
entries, and are out of scope here.)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_clear_caches_releases_all_persisted_relations(spark, sf_dir):
    import __spark_entry__ as e

    qs = e.queries()
    # every query family that persists: dhash signatures, shingle relations
    # (jaccard / minhash / incremental / decontaminate), simhash signatures,
    # the entry memos (_PAIRS_CACHE via dedup_clusters, _SUCCESS_CACHE via
    # knn_cells)
    for name in (
        "image_hash_pairs",
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs",
        "incremental_dedup",
        "decontaminate",
        "simhash_pairs",
        "dedup_clusters",
        "knn_cells",
    ):
        assert qs[name](spark, sf_dir).count() >= 0, name

    cm = _cache_manager(spark)
    assert not cm.isEmpty(), "sanity: the query run should have persisted"

    released = e.clear_caches()
    assert released > 0
    assert cm.isEmpty(), (
        "cache manager not empty after clear_caches() — an untracked "
        "persist() is leaking executor storage"
    )

    # the memos re-build lazily and the queries stay correct after a clear
    assert qs["knn_cells"](spark, sf_dir).count() >= 0
    e.clear_caches()
    assert cm.isEmpty()


def test_radius_join_persists_once_per_input(spark):
    """Repeated radius_join calls on one input reuse one tracked relation
    (the memoized point projection) instead of adding a persist each."""
    from geocode_spark import caching
    from geocode_spark.operators.spatial import radius_join

    pts = spark.createDataFrame(
        [(f"p{i:02d}", 380000.0 + 97.0 * i, 4400000.0 + 53.0 * (i % 7))
         for i in range(40)],
        ["primary_key", "x", "y"],
    )
    n0 = len(caching._TRACKED)
    first = sorted(radius_join(pts).collect())
    n1 = len(caching._TRACKED)
    second = sorted(radius_join(pts).collect())
    assert n1 - n0 == 1
    assert len(caching._TRACKED) == n1
    assert first == second and first  # effect size: pairs exist


def test_pack_locators_hit_skips_locator_plan(spark, fixtures_dir,
                                              monkeypatch):
    """A second pack_locators call with the same locator DataFrames returns
    the memoized pack without re-deriving unified_locators."""
    import geocode_spark.operators.geocode as g
    from geocode_spark.plans.pipeline import load_locators

    calls = []
    orig = g.unified_locators

    def counting(*args, **kw):
        calls.append(1)
        return orig(*args, **kw)

    monkeypatch.setattr(g, "unified_locators", counting)
    locs = load_locators(spark, fixtures_dir)
    first = g.pack_locators(**locs, pobox=True)
    second = g.pack_locators(**locs, pobox=True)
    assert second is first
    assert len(calls) == 1
    # other locator objects of the same plan: the plan comparison still hits
    third = g.pack_locators(**load_locators(spark, fixtures_dir), pobox=True)
    assert third is first and len(calls) == 2


def test_clear_caches_builds_fresh_index(spark, fixtures_dir):
    """After clear_caches() the next geocode builds and publishes a new
    locator index; results are unchanged."""
    from geocode_spark.caching import clear_caches
    from geocode_spark.operators.geocode import (
        geocode,
        locator_index,
        pack_locators,
    )
    from geocode_spark.plans.pipeline import load_locators

    locs = load_locators(spark, fixtures_dir)
    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    before = locator_index(pack_locators(**locs, pobox=True))
    rows = sorted(geocode(addr, pobox=True, **locs).collect())
    assert locator_index(pack_locators(**locs, pobox=True)) is before
    clear_caches()
    after = locator_index(pack_locators(**locs, pobox=True))
    assert after is not before and after.name != before.name
    assert sorted(geocode(addr, pobox=True, **locs).collect()) == rows


def test_cell_index_built_once_per_candidate_relation(spark, fixtures_dir,
                                                      monkeypatch):
    """knn_cell builds its cell index once per candidate relation: the very
    DataFrame hits without a plan comparison, a re-read of the same parquet
    hits on the plan, and after clear_caches() the next call builds and
    publishes a new index; results are unchanged."""
    import geocode_spark.operators.spatial as sp
    from geocode_spark.caching import clear_caches

    builds = []
    build = sp.CellIndex.from_arrow.__func__

    def counting(cls, *args, **kw):
        builds.append(1)
        return build(cls, *args, **kw)

    monkeypatch.setattr(sp.CellIndex, "from_arrow", classmethod(counting))
    path = f"{fixtures_dir}/address_points.parquet"
    cands = spark.read.parquet(path)
    pts = cands.selectExpr("CAST(cand_id AS STRING) AS primary_key",
                           "x + 50.0 AS x", "y AS y")
    first = sp.cell_index(cands)
    rows = sorted(sp.knn_cell(pts, cands, k=3).collect())
    assert sp.cell_index(cands) is first
    assert sp.cell_index(spark.read.parquet(path)) is first
    assert len(builds) == 1 and rows  # effect size: neighbours exist
    clear_caches()
    after = sp.cell_index(cands)
    assert after is not first and after.name != first.name
    assert len(builds) == 2
    assert sorted(sp.knn_cell(pts, cands, k=3).collect()) == rows
    assert len(builds) == 2


def test_index_kinds_round_trip_through_pickle(spark, fixtures_dir):
    """Both index classes travel as a pickled IndexFile and load back from
    the published file as their own class, with the built arrays."""
    import pickle

    import numpy as np

    from geocode_spark.operators import indexfile
    from geocode_spark.operators.cellindex import CellIndex
    from geocode_spark.operators.geocode import locator_index, pack_locators
    from geocode_spark.operators.match import LocatorIndex
    from geocode_spark.operators.spatial import (
        DEFAULT_BBOX,
        KNN_RES,
        cell_index,
    )
    from geocode_spark.plans.pipeline import load_locators

    pack = pack_locators(**load_locators(spark, fixtures_dir), pobox=True)
    cands = spark.read.parquet(f"{fixtures_dir}/address_points.parquet")
    built = {
        LocatorIndex: LocatorIndex.from_pack(pack.toArrow()),
        CellIndex: CellIndex.from_arrow(
            cands.select("cand_id", "x", "y").toArrow(), KNN_RES,
            DEFAULT_BBOX),
    }
    for handle in (locator_index(pack), cell_index(cands)):
        copy = pickle.loads(pickle.dumps(handle))
        indexfile._MAPPED.pop(copy.name, None)  # map the file afresh
        index = copy.load()
        want = built[copy.kind]
        assert type(index) is copy.kind
        assert index.meta == want.meta
        assert len(index.keys) > 0
        for name in copy.kind.ARRAYS:
            np.testing.assert_array_equal(getattr(index, name),
                                          getattr(want, name))
