"""Training-data operator tests: text stats, dedup families, ANN, multimodal."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def corpus(docs):
    from geocode_spark.textops.dedup import near_dup_corpus

    df = near_dup_corpus(docs).cache()
    yield df
    df.unpersist()


# ------------------------------------------------------------------ textstats
def test_token_counts(spark):
    from geocode_spark.textops.textstats import text_stats

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b  c", "", "x, y!"]})
    )
    out = text_stats(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens_ws"] == 3
    assert out.loc[2, "n_tokens_ws"] == 0
    assert out.loc[3, "n_tokens_ws"] == 2
    assert out.loc[3, "n_tokens_re"] == 4  # x , y !
    assert out.loc[3, "punct_count"] == 2


def test_quality_bounds(docs):
    from geocode_spark.textops.textstats import text_stats

    q = text_stats(docs).agg(
        F.min("quality").alias("lo"), F.max("quality").alias("hi")
    ).collect()[0]
    assert 0.0 <= q.lo <= q.hi <= 1.0


def test_lang_id_accuracy(spark):
    from geocode_spark.fixtures import ensure_fixtures
    from geocode_spark.textops.textstats import lang_id

    fix = str(ensure_fixtures(SF_DIR))
    pages = spark.read.parquet(f"{fix}/pages.parquet")
    joined = lang_id(pages).join(pages.select("url", "lang"), "url")
    n_bad = joined.filter(F.col("lang_pred") != F.col("lang")).count()
    assert n_bad == 0  # fixture salads carry unambiguous markers


def test_fingerprint_stability(spark):
    from geocode_spark.textops.textstats import text_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                # same words, different whitespace/case -> same fingerprints
                "text": ["The  Quick   Brown fox", "the quick brown fox"],
            }
        )
    )
    out = text_stats(df).toPandas()
    assert out.fp_md5.nunique() == 1
    assert out.fp_minhash.nunique() == 1


# ---------------------------------------------------------------------- dedup
def test_dedup_exact_finds_injected_copies(corpus):
    from geocode_spark.textops.dedup import dedup_exact

    out = dedup_exact(corpus).toPandas()
    dupes = out[out.n_copies > 1]
    assert len(dupes) > 0
    # survivor is always the original (lowest id)
    assert (dupes.survivor_id < 1_000_000).all()


def test_minhash_equals_bruteforce_jaccard(corpus):
    from geocode_spark.textops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = ngram_jaccard_pairs(corpus, 0.8).toPandas()
    lsh = minhash_lsh_pairs(corpus, 0.8).toPandas()
    key = lambda d: set(map(tuple, d[["id_a", "id_b"]].values))
    assert key(exact) == key(lsh)
    assert len(exact) > 0  # injected near-dups are found


def test_jaccard_range_and_order(corpus):
    from geocode_spark.textops.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(corpus, 0.8).toPandas()
    assert (out.id_a < out.id_b).all()
    assert ((out.jaccard >= 0.8) & (out.jaccard <= 1.0)).all()


def test_simhash_exact_copy_distance_zero(corpus):
    from geocode_spark.textops.dedup import simhash_pairs

    out = simhash_pairs(corpus).toPandas()
    # every injected exact copy (id%7==0 -> id+1e6) collides at hamming 0
    zero = out[(out.hamming == 0) & (out.id_b == out.id_a + 1_000_000)]
    assert len(zero) > 0
    assert (out.hamming <= 4).all()


# ----------------------------------------------------------------- similarity
def test_ann_topk_shape_and_order(emb):
    from geocode_spark.textops.similarity import ann_topk

    out = ann_topk(emb, k=5).toPandas()
    assert set(out.columns) == {"vec_id", "rank", "cand_id", "cosine"}
    for vid, g in out.groupby("vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert g["cosine"].is_monotonic_decreasing
        assert (g["cand_id"] != vid).all()


def test_ann_lsh_is_subset_of_bruteforce_space(emb):
    from geocode_spark.textops.similarity import ann_lsh_topk, ann_topk

    brute = ann_topk(emb, k=1).toPandas().set_index("vec_id")
    lsh = ann_lsh_topk(emb, k=1).toPandas().set_index("vec_id")
    # bucketed search returns <= the query set, and when the true NN shares
    # the bucket the answers agree
    assert set(lsh.index) <= set(brute.index)
    agree = (lsh["cand_id"] == brute.loc[lsh.index, "cand_id"]).mean()
    assert agree > 0  # sanity: buckets aren't degenerate


def test_similarity_never_materializes_table_on_driver(emb, monkeypatch):
    """The round-1 scale bug: similarity ops funneled the WHOLE embeddings
    table through driver toPandas+broadcast. Pin the fix: toPandas is never
    called while building or running any similarity op, and the only collects
    are metadata-scale (IVF centroids) or the guarded brute-force query pack
    — never more than the query subset."""
    from pyspark.sql import DataFrame

    from geocode_spark.textops.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        ann_topk,
        embedding_near_dup,
        near_dup_embeddings,
    )

    n_total = emb.count()
    orig_collect = DataFrame.collect

    def no_topandas(self, *a, **kw):
        raise AssertionError("driver toPandas() inside a similarity op")

    def guarded_collect(self):
        rows = orig_collect(self)
        assert len(rows) < n_total, (
            f"driver collect() of {len(rows)} rows >= table size {n_total}"
        )
        return rows

    monkeypatch.setattr(DataFrame, "toPandas", no_topandas)
    monkeypatch.setattr(DataFrame, "collect", guarded_collect)
    plans = [
        ann_topk(emb, k=2),
        ann_lsh_topk(emb, k=2),
        ann_ivf_topk(emb, k=2),
        embedding_near_dup(near_dup_embeddings(emb), threshold=0.95),
    ]
    for df in plans:  # execute with the guards still armed
        assert df.count() >= 0


def test_ann_ivf_partials_merge_exactly(emb):
    """IVF per-cell partial top-k + window merge == the oracle's global
    ranking over the union of probed cells (the merge-exactness argument)."""
    from geocode_spark.textops.similarity import ann_ivf_topk

    out = ann_ivf_topk(emb, k=3).toPandas()
    for vid, g in out.groupby("vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert g["cosine"].is_monotonic_decreasing


def test_embedding_near_dup_recovers_injected_pairs(emb):
    from geocode_spark.textops.similarity import (
        NEAR_DUP_ID_OFFSET,
        NEAR_DUP_INJECT_MOD,
        embedding_near_dup,
        near_dup_embeddings,
    )

    out = embedding_near_dup(near_dup_embeddings(emb), 0.95).toPandas()
    n_inject = emb.filter(f"vec_id % {NEAR_DUP_INJECT_MOD} = 0").count()
    # every injected perturbed copy pairs with its base at cosine ~0.9999
    injected = out[out.id_b == out.id_a + NEAR_DUP_ID_OFFSET]
    assert len(injected) == n_inject
    assert (injected.cosine >= 0.99).all()


# ----------------------------------------------------------------- multimodal
def test_image_meta_parses_header(spark):
    from geocode_spark.fixtures import ensure_fixtures
    from geocode_spark.textops.multimodal import image_meta

    fix = str(ensure_fixtures(SF_DIR))
    pages = spark.read.parquet(f"{fix}/pages.parquet")
    out = image_meta(pages).toPandas()
    valid = out[out.format.notna()]
    poisoned = out[out.format.isna()]
    assert len(valid) > 0 and len(poisoned) > 0  # fixture has both
    assert (valid.format == "FIMG").all() and valid.error.isna().all()
    assert valid.width.between(320, 320 + 7 * 160).all()
    assert valid.height.between(240, 240 + 4 * 120).all()
    # F5: malformed payloads are error rows, not task failures
    assert poisoned.error.str.startswith("invalid image container:").all()


def test_resize_plan_preserves_aspect_bound(spark):
    from geocode_spark.fixtures import ensure_fixtures
    from geocode_spark.textops.multimodal import resize_plan

    fix = str(ensure_fixtures(SF_DIR))
    pages = spark.read.parquet(f"{fix}/pages.parquet")
    out = resize_plan(pages, max_dim=256).toPandas()
    out = out[out.width.notna()]  # poisoned containers carry no dims
    assert len(out) > 0
    assert (out[["target_w", "target_h"]].max(axis=1) <= 256).all()
    small = out[(out.width <= 256) & (out.height <= 256)]
    assert (small.target_w == small.width).all()


def test_decode_image_probe_gates_real_path(spark):
    from geocode_spark.fixtures import ensure_fixtures
    from geocode_spark.textops.multimodal import (
        decode_image,
        has_image_library,
    )

    fix = str(ensure_fixtures(SF_DIR))
    pages = spark.read.parquet(f"{fix}/pages.parquet")
    if has_image_library():
        # real path: same schema contract; fixture payloads are not
        # valid images, so every row takes the (-1,-1,-1) error lane
        out = decode_image(pages).limit(5).toPandas()
        assert set(out.columns) == {"url", "f0", "f1", "f2"}
    else:
        with pytest.raises(NotImplementedError):
            decode_image(pages)
    out = decode_image(pages, fake=True).limit(5).toPandas()
    assert set(out.columns) == {"url", "f0", "f1", "f2"}


def test_frame_sample_stride(spark):
    from geocode_spark.fixtures import ensure_fixtures
    from geocode_spark.textops.multimodal import frame_sample

    fix = str(ensure_fixtures(SF_DIR))
    pages = spark.read.parquet(f"{fix}/pages.parquet")
    out = frame_sample(pages, stride=4).toPandas()
    assert (out.frame_idx % 4 == 0).all()
    assert (out.frame_idx < out.n_frames).all()


# -------------------------------------------------------- embedding validation
def test_embedding_validate_oracle(spark, emb):
    from compare_util import assert_frames_match, duck_to_pdf
    from geocode_spark.textops.similarity import (
        embedding_validate,
        embedding_validate_oracle_sql,
        validation_corpus,
    )

    got = embedding_validate(validation_corpus(emb)).toPandas()
    want = duck_to_pdf(embedding_validate_oracle_sql("embeddings"), SF_DIR)
    assert_frames_match(got, want, label="embedding_validate")
    # the injected malformed rows are diagnosed, the base table is clean
    assert (got[got["vec_id"] < 3_000_000]["valid"] == 1).all()
    bad = got[got["vec_id"] >= 3_000_000]
    assert len(bad) > 0 and (bad["valid"] == 0).all()
    assert bad["message"].str.startswith("Error: ").all()


def test_ann_lsh_oversize_buckets_split_exactly(spark):
    """VERDICT r02 #3 + #7: a hot sign bucket must not become one unbounded
    pandas group. Adversarial fixture: ALL 2000 vectors have positive
    leading dimensions, so every one lands in sign bucket 255 — the
    worst-case correlated-embedding skew. With max_bucket_rows=100 the
    bucket must split ~20 ways, each sub-group hash-bounded, and the
    partial-top-k + window merge must reproduce the unsplit answer
    row-for-row."""
    import math

    from pyspark.sql import functions as F

    from geocode_spark.textops.similarity import _sign_bucket_col, ann_lsh_topk

    n, d = 2000, 16
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda j: 0.1
            + ((F.col("id") * 31 + j.cast("bigint") * 17) % 97).cast("double")
            / 97.0,
        ).alias("embedding"),
    )
    base = emb.select(
        "vec_id", _sign_bucket_col(F.col("embedding")).alias("bucket")
    )
    sizes = base.groupBy("bucket").count().toPandas()
    assert len(sizes) == 1 and int(sizes["count"].max()) == n  # one hot bucket

    cap = 100
    n_subs = math.ceil(n / cap)
    cols = ["vec_id", "rank", "cand_id", "cosine"]
    want = ann_lsh_topk(emb, k=3).toPandas()[cols]
    got = ann_lsh_topk(emb, k=3, max_bucket_rows=cap).toPandas()[cols]
    want = want.sort_values(["vec_id", "rank"]).reset_index(drop=True)
    got = got.sort_values(["vec_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)

    # the hash split bounds the largest cogroup candidate group: binomial
    # around cap with sd ~sqrt(cap) — 2x cap is a >10-sigma ceiling
    split_sizes = (
        base.withColumn(
            "sub", F.pmod(F.xxhash64("vec_id"), F.lit(n_subs)).cast("bigint")
        )
        .groupBy("bucket", "sub")
        .count()
        .toPandas()
    )
    assert len(split_sizes) == n_subs
    assert int(split_sizes["count"].max()) <= 2 * cap


def test_decontaminate_flags_benchmark_overlap(spark, docs):
    from geocode_spark.textops.corpusops import DECON_BENCH_MOD, decontaminate

    n = docs.count()
    # inject a doc that copies a benchmark doc's text verbatim — it MUST be
    # flagged (the operator's whole purpose)
    bench_text = docs.filter(F.col("doc_id") == 0).select("text").collect()[0][0]
    injected = spark.createDataFrame(
        [(9_999_991, bench_text)], "doc_id bigint, text string"
    )
    out = decontaminate(
        docs.select("doc_id", "text").unionByName(injected)
    ).toPandas()
    # benchmark docs themselves are excluded from the output
    assert (out["doc_id"] % DECON_BENCH_MOD != 0).all()
    assert len(out) == n - len([1 for i in range(0, n, DECON_BENCH_MOD)]) + 1
    inj = out[out["doc_id"] == 9_999_991].iloc[0]
    assert inj["is_contaminated"] == 1 and inj["n_hits"] > 0
    # flag is exactly n_hits > 0
    assert ((out["n_hits"] > 0) == (out["is_contaminated"] == 1)).all()


def test_doc_repetition_scores_repeats(spark):
    from geocode_spark.textops.corpusops import doc_repetition

    df = spark.createDataFrame(
        [
            (1, "spam " * 50),            # one distinct 3-gram, 48 total
            (2, " ".join(f"w{i}" for i in range(50))),  # all distinct
            (3, "too short"),              # < 3 tokens -> zeros
        ],
        "doc_id bigint, text string",
    )
    out = doc_repetition(df).toPandas().set_index("doc_id")
    assert out.loc[1, "repetition_ratio"] > 0.9
    assert out.loc[2, "repetition_ratio"] == 0.0
    assert out.loc[3, "n_grams_total"] == 0
    assert out.loc[3, "repetition_ratio"] == 0.0


def test_pii_redact_counts_and_rewrites(spark):
    import hashlib

    from geocode_spark.textops.textstats import pii_redact

    text = ("mail a@b.com and c.d@e.org then call 555-123-4567 "
            "or 555.123.4567 x")
    df = spark.createDataFrame([(1, text), (2, "no pii here")],
                               "doc_id bigint, text string")
    out = pii_redact(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_emails"] == 2 and out.loc[1, "n_phones"] == 2
    want = ("mail <EMAIL> and <EMAIL> then call <PHONE> "
            "or <PHONE> x")
    assert out.loc[1, "clean_md5"] == hashlib.md5(want.encode()).hexdigest()
    assert out.loc[2, "n_emails"] == 0 and out.loc[2, "n_phones"] == 0
    assert (out.loc[2, "clean_md5"]
            == hashlib.md5(b"no pii here").hexdigest())


def test_domain_stats_partitions_corpus(spark, fixtures_dir):
    from geocode_spark.textops.textstats import domain_stats

    pages = spark.read.parquet(f"{fixtures_dir}/pages.parquet")
    out = domain_stats(pages).toPandas()
    assert out["n_pages"].sum() == pages.count()
    assert (out["host"].str.len() > 0).all()
    assert out["host"].is_unique


def test_ann_ivf_kmeans_refines_and_stays_exact(spark, emb):
    """Lloyd refinement must (a) actually move centroids (different cell
    partition than the seeded IVF for at least some vectors), (b) keep the
    top-k contract (ranks contiguous, cosine non-increasing), and (c) keep
    every returned neighbor out of the query's own id."""
    from geocode_spark.textops.similarity import (
        ann_ivf_kmeans_topk,
        ann_ivf_topk,
    )

    refined = ann_ivf_kmeans_topk(emb, k=3).toPandas()
    seeded = ann_ivf_topk(emb, k=3).toPandas()
    key = lambda d: set(map(tuple, d[["vec_id", "cand_id"]].values))
    assert key(refined) != key(seeded)  # refinement moved the partition
    for vid, g in refined.groupby("vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert g["cosine"].is_monotonic_decreasing
        assert (g["cand_id"] != vid).all()


def test_ann_ivf_kmeans_zero_iters_equals_seeded(spark, emb):
    """iters=0 degenerates to the seeded IVF exactly — the refinement is a
    strict extension, not a different operator."""
    import pandas as pd

    from geocode_spark.textops.similarity import (
        ann_ivf_kmeans_topk,
        ann_ivf_topk,
    )

    a = ann_ivf_kmeans_topk(emb, k=3, iters=0).toPandas()
    b = ann_ivf_topk(emb, k=3).toPandas()
    cols = ["vec_id", "rank", "cand_id", "cosine"]
    pd.testing.assert_frame_equal(
        a[cols].sort_values(["vec_id", "rank"]).reset_index(drop=True),
        b[cols].sort_values(["vec_id", "rank"]).reset_index(drop=True),
    )


def test_incremental_dedup_flags_cross_corpus_copies(spark, docs):
    """Every injected copy of an existing doc must be flagged against its
    source; new docs are never matched against other NEW docs (the
    incremental contract: no intra-batch pairs)."""
    from geocode_spark.textops.dedup import (
        INCR_COPY_OFFSET,
        INCR_NEW_MOD,
        incremental_dedup,
        incremental_split,
    )

    new, existing = incremental_split(docs.select("doc_id", "text"))
    out = incremental_dedup(new, existing, threshold=0.8).toPandas()
    assert len(out) == new.count()
    inj = out[out["doc_id"] >= INCR_COPY_OFFSET]
    assert len(inj) > 0
    assert (inj["is_dup"] == 1).all()
    # an injected verbatim copy matches its own source id (the minimum
    # qualifying existing doc can only be <= the source, and the source
    # always qualifies at jaccard 1.0)
    assert (inj["match_id"] <= inj["doc_id"] - INCR_COPY_OFFSET).all()
    # match ids always come from the EXISTING side
    matched = out[out["is_dup"] == 1]
    assert (matched["match_id"] % INCR_NEW_MOD != 0).all()


# ----------------------------------------------------------------- semdedup
def test_semdedup_removes_higher_id_twin(spark):
    from geocode_spark.textops.similarity import semdedup

    # vecs 0/1 identical (cos=1), vec 2 orthogonal-ish; one centroid ->
    # one cell; keep-lowest-id: 0 kept, 1 dropped, 2 kept
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    out = {
        r.vec_id: r.keep
        for r in semdedup(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            n_centroids=1, iters=1,
        ).collect()
    }
    assert out == {0: True, 1: False, 2: True}


def test_semdedup_below_threshold_all_kept(spark):
    from geocode_spark.textops.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
    ]
    out = semdedup(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        n_centroids=1, iters=1,
    ).collect()
    assert all(r.keep for r in out)


def test_semdedup_no_cross_cell_suppression(spark):
    from geocode_spark.textops.similarity import semdedup

    # two tight opposite-direction groups -> 2 cells; identical vectors
    # WITHIN each cell dedup, but cells never suppress each other
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]),
        (2, [-1.0, 0.01]), (3, [-1.0, 0.01]),
    ]
    out = {
        r.vec_id: r
        for r in semdedup(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            n_centroids=2, iters=1,
        ).collect()
    }
    assert [out[i].keep for i in range(4)] == [True, False, True, False]
    assert out[0].cell_id != out[2].cell_id


def test_semdedup_oversized_cell_raises(spark):
    import pytest as _pytest

    from geocode_spark.textops.similarity import semdedup

    rows = [(i, [1.0, float(i)]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="raise.*n_centroids"):
        semdedup(df, n_centroids=1, iters=1, max_cell=2).collect()


def test_semdedup_zero_norm_embedding_raises(spark):
    import warnings

    import pytest as _pytest

    from geocode_spark.textops.similarity import semdedup

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the driver-side Lloyd loop sees the zero-norm row first: it must
    # leave the error to the assignment kernel without a RuntimeWarning
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        with _pytest.raises(Exception, match="zero-norm"):
            semdedup(df, n_centroids=1, iters=1).collect()
    assert not [w for w in seen if issubclass(w.category, RuntimeWarning)]


def test_dedup_keep_best_elects_longest_then_lowest_id(spark):
    from geocode_spark.textops.corpusops import dedup_keep_best

    # cluster {1,2,3}: 3 is longest -> wins over lower ids; cluster {10,11}:
    # equal length -> tie to lowest id; 99: singleton stays its own best
    rows = [
        (1, "short"), (2, "short x"), (3, "the longest member here"),
        (10, "same size"), (11, "sizes ame"), (99, "alone"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["cluster_id"]: (r["best_id"], r["n_members"], r["best_len"])
        for r in dedup_keep_best(corpus, edges=edges).collect()
    }
    assert got == {
        1: (3, 3, 23),   # longest wins although id 3 > canonical 1
        10: (10, 2, 9),  # length tie -> lowest doc_id
        99: (99, 1, 5),  # singleton
    }


def test_contamination_score_graded_and_short_doc_zero(spark):
    from geocode_spark.textops.corpusops import contamination_score

    # doc 0 is the "benchmark" (bench_mod=2 -> even ids); doc 1 shares
    # half its distinct shingles with it; doc 3 is too short for any
    # shingle and must score (0, 0, 0) through the /0 guard, not NULL
    rows = [
        (0, "a b c d"),            # benchmark: shingles {a b c, b c d}
        (1, "a b c x y z w"),      # 5 distinct shingles, 1 banned
        (3, "hi there"),           # < 3 tokens: no shingles
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_hits"], r["overlap_permille"])
        for r in contamination_score(docs, bench_mod=2).collect()
    }
    assert got == {
        1: (5, 1, 200),  # 1000 * 1 // 5
        3: (0, 0, 0),
    }


def test_pii_ipv4_ssn_shapes(spark):
    """Per-shape pins for the round-5 patterns: every positive and
    near-miss shape in the injection corpus gets its own row."""
    import hashlib

    from geocode_spark.textops.textstats import pii_redact

    cases = [
        # (text, n_ipv4, n_ssn, redacted)
        ("host 10.0.0.1 up", 1, 0, "host <IP> up"),
        ("edge 0.0.0.0 and 255.255.255.255", 2, 0, "edge <IP> and <IP>"),
        ("seq 1.2.3.4.5 x", 1, 0, "seq <IP>.5 x"),          # leading quad
        ("from 999.300.1.7 or 256.300.2.8", 0, 0, None),     # out of range
        ("build v1.2.33 done", 0, 0, None),                  # no \b before
        ("ssn 123-45-6789.", 0, 1, "ssn <SSN>."),
        ("ref 1234-56-7890 tail", 0, 0, None),               # 4-digit lead
        ("pin 123-45-67890", 0, 0, None),                    # 5-digit tail
        ("call 555-123-4567 not ssn", 0, 0, None),           # phone shape
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_1) in enumerate(cases)],
        "doc_id bigint, text string",
    )
    out = pii_redact(df).toPandas().set_index("doc_id")
    for i, (t, n_ip, n_ssn, clean) in enumerate(cases):
        assert out.loc[i, "n_ipv4"] == n_ip, (t, out.loc[i, "n_ipv4"])
        assert out.loc[i, "n_ssn"] == n_ssn, (t, out.loc[i, "n_ssn"])
        if clean is None:  # near-miss: text must survive byte-identical
            # (the phone-shape row still rewrites via PHONE_RE)
            expect = t if "555-" not in t else t.replace(
                "555-123-4567", "<PHONE>")
            clean = expect
        assert (out.loc[i, "clean_md5"]
                == hashlib.md5(clean.encode()).hexdigest()), t


def test_corpus_split_deterministic_and_complete(spark):
    import hashlib

    from geocode_spark.textops.corpusops import (
        SPLIT_NAMES,
        SPLIT_PPK,
        corpus_split,
    )

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(400)], "doc_id long, text string"
    )
    rows = corpus_split(df).collect()
    assert len(rows) == 400  # every doc assigned exactly once
    # python-recomputed bucket pins the hash formulation
    for r in rows[:50]:
        b = int(hashlib.md5(f"{r.doc_id}:split:1".encode())
                .hexdigest()[:8], 16) % 1000
        assert r.bucket == b
        exp = (SPLIT_NAMES[0] if b < SPLIT_PPK[0]
               else SPLIT_NAMES[1] if b < SPLIT_PPK[0] + SPLIT_PPK[1]
               else SPLIT_NAMES[2])
        assert r.split == exp
    # seed changes the draw; same seed repeats it exactly
    again = {r.doc_id: r.split for r in corpus_split(df).collect()}
    other = {r.doc_id: r.split for r in corpus_split(df, seed=2).collect()}
    first = {r.doc_id: r.split for r in rows}
    assert first == again
    assert first != other


def test_encoding_quality_variants(spark):
    """Each injected damage family is counted exactly, independently."""
    from geocode_spark.textops.textstats import (
        encoding_corpus, encoding_quality,
    )

    docs = spark.createDataFrame(
        [(i, "clean words only") for i in range(8)], "doc_id long, text string"
    )
    out = (
        encoding_quality(encoding_corpus(docs))
        .toPandas().set_index("doc_id").sort_index()
    )
    for i in range(8):
        v = i % 4
        row = out.loc[i]
        assert row.n_replacement == (2 if v == 0 else 0)
        assert row.n_mojibake == (3 if v == 1 else 0)
        assert row.n_control == (3 if v == 2 else 0)
        assert row.damaged == (0 if v == 3 else 1)


def test_encoding_quality_oracle(spark):
    from compare_util import assert_frames_match, duck_to_pdf
    from geocode_spark.textops.textstats import (
        encoding_corpus, encoding_quality, encoding_quality_oracle_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = encoding_quality(encoding_corpus(docs)).toPandas()
    want = duck_to_pdf(encoding_quality_oracle_sql(), SF_DIR)
    assert (got.damaged > 0).any() and (got.damaged == 0).any()
    assert_frames_match(got, want, label="encoding_quality")


def test_encoding_quality_legit_whitespace_not_flagged(spark):
    """Tab/newline/CR are NOT control damage; VT/FF exempt too."""
    from geocode_spark.textops.textstats import encoding_quality

    docs = spark.createDataFrame(
        [(3, "line one\n\tcol\rtwo\x0b\x0c end")], "doc_id long, text string"
    )
    row = encoding_quality(docs).toPandas().iloc[0]
    assert row.n_control == 0 and row.damaged == 0


def test_ngram_novelty_semantics(spark):
    """Exact copy of an earlier doc scores 0; all-new text scores 1000;
    a half-overlap doc lands strictly between; short docs score (0,0,0)."""
    from geocode_spark.textops.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),     # exact copy
            (2, "zeta eta theta iota kappa"),          # all new
            (3, "gamma delta epsilon zeta eta theta"), # straddles 0 and 2
            (4, "tiny doc"),                           # < 3 tokens
        ],
        "doc_id long, text string",
    )
    out = ngram_novelty(docs).toPandas().set_index("doc_id").sort_index()
    assert out.loc[0, "novelty_permille"] == 1000
    assert out.loc[1, "novelty_permille"] == 0
    assert out.loc[2, "novelty_permille"] == 1000
    # doc 3 shingles: "gamma delta epsilon" seen (doc 0); "zeta eta theta"
    # seen (doc 2); the two straddling shingles are new -> 2/4 = 500
    assert out.loc[3, "n_shingles"] == 4
    assert out.loc[3, "n_novel"] == 2
    assert out.loc[3, "novelty_permille"] == 500
    assert tuple(out.loc[4, ["n_shingles", "n_novel", "novelty_permille"]]) \
        == (0, 0, 0)


def test_ngram_novelty_oracle(spark):
    from compare_util import assert_frames_match, duck_to_pdf
    from geocode_spark.textops.dedup import (
        near_dup_corpus, ngram_novelty, ngram_novelty_oracle_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = ngram_novelty(near_dup_corpus(docs)).toPandas()
    want = duck_to_pdf(ngram_novelty_oracle_sql("documents"), SF_DIR)
    # effect size: the injected exact copies must all score 0
    copies = got[(got.doc_id >= 1000000) & (got.doc_id < 2000000)]
    assert len(copies) > 0 and (copies.novelty_permille == 0).all()
    assert (got.novelty_permille > 0).any()
    assert_frames_match(got, want, label="ngram_novelty")
