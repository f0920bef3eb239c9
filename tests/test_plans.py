"""Physical-plan regression guards: the scale properties PLANS.md documents
must stay true as code evolves.

These assert on executed-plan strings (cheap — no job runs), pinning:
 - exchange counts for the temporal window family (exactly one) and
   stratified sampling (zero);
 - the geocode hot path is one Arrow stage with no join and no exchange;
 - the unfused extraction kernel is planned exactly once;
 - no row-at-a-time Python UDF (BatchEvalPython) sneaks onto any query
   plan — Arrow stages (ArrowEvalPython / mapInPandas / cogroup) only.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning")


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_temporal_single_shuffle(events):
    from geocode_spark.operators.temporal import (
        asof_last_purchase,
        session_stats,
        sessionize,
    )

    for fn in (sessionize, session_stats, asof_last_purchase):
        assert _n_exchanges(_plan(fn(events))) == 1, fn.__name__


def test_stratified_sample_zero_shuffle(docs):
    from geocode_spark.textops.corpusops import stratified_sample

    assert _n_exchanges(_plan(stratified_sample(docs))) == 0


def test_embedding_validate_zero_shuffle(spark):
    from geocode_spark.textops.similarity import (
        embedding_validate,
        validation_corpus,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert _n_exchanges(_plan(embedding_validate(validation_corpus(emb)))) == 0


_JOIN = re.compile(r"HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct")


def _assert_one_kernel_no_join(plan: str) -> None:
    """The geocode plan shape: one Arrow stage (parse and match in the
    same Python round trip), no join and no exchange of any kind."""
    assert plan.count("ArrowEvalPython") == 1, plan
    assert not _JOIN.search(plan), plan
    assert "Exchange" not in plan, plan


def test_geocode_pages_no_sort_merge_join(spark, fixtures_dir):
    """The page pipeline matches inside its Arrow stage against the shared
    locator index: no join at all (so no sort-merge join and no broadcast
    rebuilt per query), and the stage reads the page scan directly."""
    from geocode_spark.plans.pipeline import geocode_pages, load_locators

    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    plan = _plan(geocode_pages(pages, load_locators(spark, fixtures_dir)))
    _assert_one_kernel_no_join(plan)
    lines = plan.splitlines()
    kernel = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    assert "FileScan" in lines[-1] and "pages.parquet" in lines[-1]
    assert kernel < len(lines) - 1


def test_extract_addresses_single_arrow_stage(spark):
    """The unfused extraction kernel is deterministic, so the
    extract_addresses query plans it exactly once."""
    import __spark_entry__ as mod

    plan = _plan(mod.queries()["extract_addresses"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1


@pytest.mark.parametrize("name", [
    "metrics_by_grid_salted",  # geocode_metrics_by_grid
    "metrics_rollup",
    "tile_rollup_salted",  # over __spark_entry__._success_points
    "knn_cells",  # idem
])
def test_success_row_queries_plan_kernel_once(spark, name):
    """Queries over a geocode result's matches (message IS NULL) run the
    geocode kernel once: no Filter on `message` reaches below the stage's
    projection, where the optimizer would inline the kernel into its
    condition and plan a second ArrowEvalPython. The persisted point
    relation of the spatial queries renders inside their plans."""
    import __spark_entry__ as mod

    plan = _plan(mod.queries()[name](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1, plan


def _batch_filter_lines(plan: str) -> list:
    """Indexes of the plan lines that are a Filter on the batch key hash."""
    return [
        i for i, line in enumerate(plan.splitlines())
        if re.sub(r"^[ :+-]*(\*\(\d+\) )?", "", line).startswith("Filter")
        and "xxhash64" in line
    ]


@pytest.mark.parametrize("shape", ["pages", "addresses"])
def test_resume_plan_filters_batch_key_below_kernel(spark, fixtures_dir, shape):
    """A resume processes only its pending batches: the batch-key filter is
    pushed below the single Arrow kernel, next to the source scan, for page
    input (fused extract+parse+match) and address rows (cleanse+parse+
    match) alike. Exactly one ArrowEvalPython also guards against the
    deterministic kernels being evaluated twice; there is no join and no
    exchange. With every batch pending there is no batch filter."""
    from geocode_spark.batching import _pending_plan
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import geocode_pages, load_locators

    locs = load_locators(spark, fixtures_dir)
    if shape == "pages":
        pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
        result, source = geocode_pages(pages, locs), "pages.parquet"
    else:
        addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
        result, source = geocode(addr, pobox=True, **locs), "addresses.parquet"

    assert _plan(result).count("ArrowEvalPython") == 1
    full = _plan(_pending_plan(result, 4, list(range(4)), "primary_key"))
    assert full.count("ArrowEvalPython") == 1
    assert _batch_filter_lines(full) == []

    resume = _plan(_pending_plan(result, 4, [2], "primary_key"))
    _assert_one_kernel_no_join(resume)
    lines = resume.splitlines()
    kernel = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    (filt,) = _batch_filter_lines(resume)
    # rendered after the kernel = in the subtree under it, directly on
    # the source scan (past the columnar-to-row adapter)
    assert kernel < filt
    scan = [ln for ln in lines[filt + 1:] if "ColumnarToRow" not in ln][0]
    assert "FileScan" in scan and source in scan


def test_no_row_at_a_time_python_udf_anywhere(spark):
    """BatchEvalPython = per-row pickled Python — banned from every query
    plan. Arrow stages are fine."""
    import __spark_entry__ as mod

    for name, fn in mod.queries().items():
        if name in mod.EAGER_QUERIES:
            # eager operators (driver loop / drained streaming run):
            # building them RUNS jobs; their stages are pinned by their
            # building-block queries and the streaming pytest suite
            continue
        plan = _plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name


def test_tiled_write_partition_pruning(spark, fixtures_dir, tmp_path):
    """The tiling sink story: geocoded points written partitioned by tile
    prune at read time — a tile-filtered query touches only its own
    directories (the Iceberg-partitioning analog this sandbox can test)."""
    from pyspark.sql import functions as F

    from geocode_spark.operators.spatial import assign_tiles
    from geocode_spark.operators.geocode import geocode
    from geocode_spark.plans.pipeline import load_locators

    addr = spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
    res = geocode(addr, **load_locators(spark, fixtures_dir), pobox=True)
    pts = res.filter(F.col("message").isNull()).select(
        "primary_key", "x", "y", "score"
    )
    out = str(tmp_path / "tiled")
    assign_tiles(pts).write.partitionBy("tile_x", "tile_y").parquet(out)

    back = spark.read.parquet(out)
    one_tile = back.select("tile_x").distinct().limit(1).collect()[0][0]
    q = back.filter(F.col("tile_x") == one_tile)
    plan = _plan(q)
    assert "PartitionFilters" in plan
    # the filter reached the partition level: the scan reads strictly fewer
    # files than the full table holds
    import glob

    all_files = glob.glob(f"{out}/tile_x=*/tile_y=*/*.parquet")
    read_files = glob.glob(f"{out}/tile_x={one_tile}/tile_y=*/*.parquet")
    assert 0 < len(read_files) < len(all_files)
    assert q.count() == back.filter(F.col("tile_x") == one_tile).count()


def test_bucketed_join_is_shuffle_free(spark, fixtures_dir, tmp_path):
    """Co-located join via bucketing — the 100 TB answer to repeated joins
    on the same key: both sides written bucketBy(zone key), the sort-merge
    join then reads pre-bucketed files with NO exchange on either side."""
    from pyspark.sql import functions as F

    addr = (
        spark.read.parquet(f"{fixtures_dir}/addresses.parquet")
        .withColumn("zone_key", F.upper(F.trim(F.col("zone"))))
    )
    pts = (
        spark.read.parquet(f"{fixtures_dir}/address_points.parquet")
        .withColumn("zone_key", F.upper(F.col("zip5")))
    )
    spark.sql("DROP TABLE IF EXISTS b_addr")
    spark.sql("DROP TABLE IF EXISTS b_pts")
    (addr.write.mode("overwrite").bucketBy(8, "zone_key")
         .sortBy("zone_key").saveAsTable("b_addr"))
    (pts.write.mode("overwrite").bucketBy(8, "zone_key")
        .sortBy("zone_key").saveAsTable("b_pts"))
    try:
        joined = (
            spark.table("b_addr").hint("merge")
            .join(spark.table("b_pts"), "zone_key")
            .select("zone_key", "id", "cand_id")
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_addr")
        spark.sql("DROP TABLE IF EXISTS b_pts")


def test_round3_projection_ops_zero_shuffle(docs, spark, fixtures_dir):
    """doc_repetition and pii_redact are per-row metrics — their plans must
    be single projections over the scan (zero exchanges); domain_stats is
    one keyed aggregation (<= 1 hash exchange)."""
    from geocode_spark.textops.corpusops import doc_repetition
    from geocode_spark.textops.textstats import domain_stats, pii_redact

    assert _n_exchanges(_plan(doc_repetition(docs))) == 0
    assert _n_exchanges(_plan(pii_redact(docs))) == 0
    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    # two exchanges: keyed agg + the exact count-distinct re-partition (the
    # same documented trade as event_window_rollup — approx_count_distinct
    # would drop it to one)
    assert _n_exchanges(_plan(domain_stats(pages))) <= 2


def test_corpus_assembly_ops_single_exchange(docs):
    """The packing/shuffle family must stay one-exchange: packing windows
    partition by shard, url_dedup and epoch_shuffle hash once on their key.
    A regression to 2+ means a stage recomputes a corpus-sized relation."""
    from geocode_spark.textops.lineops import epoch_shuffle
    from geocode_spark.textops.packing import (
        sequence_pack,
        sequence_pack_greedy,
        synthetic_url_corpus,
        url_dedup,
    )

    for fn in (sequence_pack, sequence_pack_greedy, epoch_shuffle):
        plan = _plan(fn(docs))
        assert _n_exchanges(plan) == 1, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__
    assert _n_exchanges(_plan(url_dedup(synthetic_url_corpus(docs)))) == 1


def test_mixture_sample_one_corpus_pass(docs):
    """mixture_sample's per-source stats must come from ONE aggregate over
    the corpus (1 hash exchange), joined back by broadcast — the uniform-
    weight path once recomputed the aggregate per consumer (2 exchanges =
    two corpus scans)."""
    from geocode_spark.textops.packing import mixture_sample

    plan = _plan(mixture_sample(docs))
    assert _n_exchanges(plan) == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_strip_boilerplate_broadcasts_frequent_lines(docs):
    """The frequent-line relation is bounded by total_lines/min_df, so the
    flagging join must be broadcast (never a sort-merge over line rows);
    exchanges <= 3: exact distinct-df (2-phase) + doc reassembly."""
    from geocode_spark.textops.lineops import (
        strip_boilerplate,
        synthetic_line_corpus,
    )

    plan = _plan(strip_boilerplate(synthetic_line_corpus(docs)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _n_exchanges(plan) <= 3


def test_lm_and_span_family_scans_pruned_and_keyed(docs):
    """Round-4 LM / span-dedup / BPE family pins (PLANS.md §6b):
    every parquet scan prunes to the columns the operator needs (doc_id,
    text — never the full 5-column documents schema), every exchange is
    keyed (no range/single-partition exchange on a corpus-sized relation),
    and nothing degrades to a cartesian product."""
    import re

    from geocode_spark.textops.lm import bigram_lm_score
    from geocode_spark.textops.spans import span_dedup_rewrite, span_dup_stats

    # bigram_lm_score's vocab |V| is a 1-row global aggregate — its single
    # SinglePartition exchange folds map-side partials, metadata-sized.
    for fn, single_ok in (
        (bigram_lm_score, 1),
        (span_dup_stats, 0),
        (span_dedup_rewrite, 0),
    ):
        plan = _plan(fn(docs))
        assert "CartesianProduct" not in plan, fn.__name__
        for scan_cols in re.findall(r"FileScan parquet \[([^\]]*)\]", plan):
            cols = {c.split("#")[0] for c in scan_cols.split(",") if c}
            assert cols <= {"doc_id", "text"}, (fn.__name__, cols)
        assert "rangepartitioning" not in plan, fn.__name__
        assert plan.count("SinglePartition") <= single_ok, fn.__name__


def test_bpe_pair_stats_single_partition_sort_is_bounded(docs):
    """bpe_pair_stats' final rank window MAY sort a single partition, but
    only AFTER the pair aggregation (charset^2-bounded) — the corpus scan
    itself prunes to [text] and reaches the window through keyed exchanges."""
    import re

    from geocode_spark.textops.lm import bpe_pair_stats

    plan = _plan(bpe_pair_stats(docs))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    assert {c.split("#")[0] for c in scans[0].split(",") if c} == {"text"}
    assert _n_exchanges(plan) == 2  # word groupBy + pair groupBy
    assert "CartesianProduct" not in plan


def test_semdedup_single_exchange_pruned_scan(spark):
    """semdedup's distributed phase is exactly: one zero-shuffle Arrow
    assignment pass + ONE keyed exchange (the per-cell applyInPandas
    groupBy). The k-means training runs eagerly at build time via bounded
    driver collects (the ann_ivf_kmeans pattern), so it never appears in
    the returned plan. Scan must prune to [vec_id, embedding]."""
    import re

    from geocode_spark.textops.similarity import semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(semdedup(emb, n_centroids=4, iters=1))
    assert _n_exchanges(plan) == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans and all(
        {c.split("#")[0] for c in s.split(",") if c} <= {"vec_id", "embedding"}
        for s in scans
    )
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan


def test_hot_key_rollups_single_exchange(spark, fixtures_dir):
    """Hot keys need no salt: with every point in one tile and every match
    in one grid, tile_rollup and geocode_metrics_by_grid each equal their
    DuckDB oracle and plan exactly one Exchange (partial aggregation
    combines the hot key map-side)."""
    import duckdb
    import pandas as pd
    from compare_util import assert_frames_match, duck_to_pdf

    from geocode_spark.operators.geocode import geocode, geocode_metrics_by_grid
    from geocode_spark.operators.spatial import tile_rollup, tile_rollup_sql
    from geocode_spark.oracle import metrics_by_grid_oracle_sql
    from geocode_spark.plans.pipeline import load_locators

    pts = pd.DataFrame({
        "primary_key": [f"p{i}" for i in range(2000)],
        "x": [420_000.0 + (i * 7) % 997 for i in range(2000)],
        "y": [4_500_000.0 + (i * 13) % 991 for i in range(2000)],
        "score": [70 + i % 31 for i in range(2000)],
    })
    tiles = tile_rollup(spark.createDataFrame(
        pts, "primary_key string, x double, y double, score bigint"))
    assert _plan(tiles).count("Exchange") == 1
    got = tiles.toPandas()
    assert len(got) == 1
    con = duckdb.connect()
    try:
        con.register("pts", pts)
        want = con.sql(tile_rollup_sql("SELECT * FROM pts")).df()
    finally:
        con.close()
    assert_frames_match(got, want, label="tile_rollup hot tile")

    hot = "upper(zone) = 'SALT LAKE CITY'"
    src = spark.read.parquet(f"{fixtures_dir}/addresses.parquet").where(hot)
    grids = geocode_metrics_by_grid(
        geocode(src, pobox=True, **load_locators(spark, fixtures_dir)))
    assert _plan(grids).count("Exchange") == 1
    got = grids.toPandas()
    assert len(got) == 1 and got["n_success"][0] > 1
    want = duck_to_pdf(metrics_by_grid_oracle_sql(
        fixtures_dir, pobox=True,
        source_sql=f"(SELECT * FROM read_parquet("
                   f"'{fixtures_dir}/addresses.parquet') WHERE {hot})"))
    assert_frames_match(got, want, label="metrics_by_grid hot grid")
