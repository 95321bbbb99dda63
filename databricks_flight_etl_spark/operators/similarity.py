"""X2 similarity search over embedding columns (SURVEY §2.11).

Baseline: brute-force cosine top-k — a broadcast of the (tiny) probe
row cross-joined against the corpus, dot products via built-in
``zip_with``/``aggregate`` higher-order functions (JVM-side, sequential
left-fold → deterministic summation order), then TakeOrderedAndProject.
Linear scan, no shuffle of the corpus: the right shape when the probe
set is small.

Scale path: random-hyperplane LSH (``hyperplane_bucket``) assigns each
vector a signature; candidate generation is an equi-join on the bucket
key (shuffle on a short int key instead of a cartesian product), then
exact cosine re-ranking within buckets. Cf. PAPERS.md (REPOSE ICDE 2021;
top-k similarity EDBT 2020) for the distributed top-k pattern.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import spread
from ..session import pin

__all__ = ["dot", "l2_norm", "cosine", "cosine_topk", "cosine_topk_batch",
           "cosine_topk_pandas",
           "hyperplane_bucket", "ann_topk_lsh", "ann_topk_lsh_multiprobe",
           "cosine_near_dup_pairs",
           "ivf_centroids", "ivf_assign", "ivf_assign_pandas",
           "ann_topk_ivf", "ann_topk_ivf_batch",
           "quantize_embeddings", "dequantize_embeddings",
           "semantic_dedup",
           "group_vector_mean", "centroid_outlier_scores",
           "project_embeddings", "project_embeddings_pandas",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-fold aggregate (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first NON-NULL vector (a null embedding
    that happens to land first in partition order must not make the
    operator treat the whole dataset as empty). Returns None only when
    every row's vector is NULL (or df is empty)."""
    first = (
        df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    if first is None or first[0] is None:
        return None
    return len(first[0])


def cosine_topk(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against the row whose ``id_col`` equals
    ``probe_id``. Output (vec_id, cosine), ordered (cos desc, id asc).

    float32 embeddings are cast to double BEFORE any arithmetic so both
    engines (and any oracle) do the same IEEE math.
    """
    probe = df.filter(F.col(id_col) == probe_id).select(
        _as_double(vec_col).alias("__pv")
    )
    # spread the corpus before scoring: the fold-based dot is the hot
    # map work and must not run on a single under-split scan task
    corpus = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    joined = corpus.crossJoin(F.broadcast(probe))
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        joined.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def _banded_buckets_pandas(planes: list[list[float]], r: int, n_bands: int):
    """Arrow-batched banded-LSH bucketing: ONE numpy matmul per batch
    ((batch × dim) @ (dim × r·n_bands)) instead of compiling r·n_bands·dim
    plane literals into whole-stage codegen (which dominates wall time
    once the plane count is corpus-scaled). Returns array<long> of one
    bucket per band; bit j of a band's bucket is sign(v·plane_j), the
    same layout as ``hyperplane_bucket``."""
    import numpy as np
    import pandas as pd

    P = np.asarray(planes, dtype=np.float64).T  # dim × (r·n_bands)
    w = (1 << np.arange(r)).astype(np.int64)

    # no type hints: under `from __future__ import annotations` they
    # arrive as strings, which pandas_udf's signature inspection rejects
    def _kernel(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vs.to_numpy())              # batch × dim
        bits = (m @ P) >= 0                      # batch × (r·n_bands)
        bits = bits.reshape(len(m), n_bands, r)
        b = (bits * w).sum(axis=2).astype(np.int64)  # batch × n_bands
        return pd.Series(list(b))

    return F.pandas_udf(_kernel, "array<long>")


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    decimals: int = 6,
    salt: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ threshold and id_a < id_b.

    ``salt > 1`` splits each block's quadratic pair work across
    ``salt`` reducers: side A keys by (block, xxhash64(id) % salt),
    side B replicates ``salt``× so every pair still meets exactly
    once. Per-pair arithmetic is unchanged (oracle-stable). Use when
    blocks are FEW and large — the n_lists=1 certification config
    previously funneled all N²/2 pairs through ONE task (15.6 s at
    sf0.1). Production banded/corpus-scaled configs have many small
    blocks and want salt=1 (replication would just multiply shuffle
    volume).

    Candidate generation is a self-equi-join on ``block_col`` (a label,
    shard, or precomputed LSH bucket — see ``hyperplane_bucket``), never
    a full cross join: per-block pairs are quadratic only in the block
    size, and the join shuffles (id, vector, norm) co-located by block.

    With ``block_col=None`` BANDED hyperplane LSH is derived from the
    vectors themselves, sized for the corpus (a fixed plane count would
    make per-bucket pair work (N/2^p)² — quadratic at scale):

    - planes per band ``r = clamp(ceil(log2(N / 128)), 8, 20)`` keeps
      expected bucket occupancy ≈128, so per-band candidate work stays
      ~128·N — LINEAR in N at any scale;
    - band count ``b = clamp(ceil(ln(10) / q^r), 1, 16)`` with
      ``q = 1 − arccos(threshold)/π`` (the per-plane collision
      probability) targets ~90% recall: a pair is a candidate if ANY
      band agrees, P = 1 − (1 − q^r)^b.

    Approximate by construction (cross-band misses survive); exact
    within candidates. Norms are computed once per side before the
    banding explode; float32 input is cast to double first.
    """
    v = spread(
        df.select(
            F.col(id_col),
            _as_double(vec_col).alias("__v"),
            *([F.col(block_col).alias("__blk")] if block_col else []),
        )
    )
    banded = False
    if block_col is None:
        dim = _infer_dim(df, vec_col)
        if dim is None:  # empty/all-null corpus → empty result, not a crash
            return v.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        n_rows = df.count()  # one bounded count over the pruned scan
        r = max(8, min(20, math.ceil(math.log2(max(n_rows, 2) / 128.0))))
        q = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        n_bands = max(1, min(16, math.ceil(math.log(10.0) / max(q**r, 1e-12))))
        banded = n_bands > 1
        planes = _hyperplanes(dim, r * n_bands, seed=42)
        bucket_arr = _banded_buckets_pandas(planes, r, n_bands)(F.col("__v"))
        v = (
            v.withColumn("__n", l2_norm(F.col("__v")))
            .select(
                F.col(id_col), "__v", "__n",
                F.posexplode(bucket_arr).alias("__band", "__bucket"),
            )
            .withColumn("__blk", F.struct("__band", "__bucket"))
            .drop("__band", "__bucket")
        )
    else:
        v = v.withColumn("__n", l2_norm(F.col("__v")))
    # both self-join sides read v: pin it so the spread exchange, the
    # banding dots, and the norm compute ONCE
    v = pin(v)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__blk",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__blk",
    )
    join_keys = ["__blk"]
    if salt > 1:
        a = a.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col("id_a").cast("string")), F.lit(salt)
            ).cast("int"),
        )
        b = b.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
        join_keys = ["__blk", "__salt"]
    cos = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    out = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round("__cos", decimals).alias("cosine"))
    )
    if banded:
        # a pair colliding in several bands appears once per band; the
        # dedup shuffle runs AFTER the threshold filter, so it moves
        # only surviving (id, id, cosine) triples, not vectors
        out = out.distinct()
    return out


def cosine_topk_batch(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Top-k neighbors for MANY probes in one job: broadcast the probe
    rows, cross-join corpus×probes (|corpus|·|probes| scored pairs, one
    corpus scan), rank per probe with a window. Output
    (probe_id, vec_id, rank, cosine), total order per probe.

    The retrieval shape that matters in practice — per-query jobs waste
    a full scan per probe; this amortizes one scan across the batch.
    For probe batches too large to broadcast, switch to the IVF index
    (ann_topk_ivf) and join probes to their lists instead.
    """
    probes = df.filter(F.col(id_col).isin(*probe_ids)).select(
        F.col(id_col).alias("probe_id"), _as_double(vec_col).alias("__pv")
    )
    corpus = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        F.col(id_col),
        cosine(F.col("__v"), F.col("__pv")).alias("__cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("__cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            "rank",
            F.round("__cos", decimals).alias("cosine"),
        )
    )


def cosine_topk_pandas(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """``cosine_topk`` with the dot products computed in Arrow-batched
    Python (numpy matmul per batch via ``mapInPandas``) instead of JVM
    higher-order functions.

    The alternative hot path when vectors are wide: numpy's BLAS matmul
    beats the element-wise JVM fold at high dimensions, at the price of
    Arrow transfer. Same results as the built-in version (pinned by
    test) — choose per profile, not per taste.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    probe = df.filter(F.col(id_col) == probe_id).select(
        _as_double(vec_col).alias("__pv")
    ).first()
    if probe is None:
        raise ValueError(f"probe {id_col}={probe_id} not found in corpus")
    pv = np.asarray(probe["__pv"], dtype=np.float64)
    pn = np.sqrt(pv @ pv)

    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("__id"),
            _as_double(vec_col).alias("__v"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__cos", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            m = np.stack(pdf["__v"].to_numpy())    # (batch, dim) float64
            dots = m @ pv
            norms = np.sqrt((m * m).sum(axis=1))
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__cos": dots / (norms * pn)}
            )

    scored = src.mapInPandas(kernel, out_schema)
    return (
        scored.orderBy(F.desc("__cos"), F.asc("__id"))
        .limit(k)
        .select(
            F.col("__id").alias(id_col),
            F.round("__cos", decimals).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer → per-list inverted
# index → probe the nearest n_probe lists only. The scale path beyond LSH:
# at 100 TB the corpus is written partitioned by list_id, so a query scans
# n_probe/n_lists of the data with partition pruning doing the skipping.

def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _unit(v: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _nearest_list(vec: Column, centroids: list[list[float]]) -> Column:
    """0-based index of the max-cosine centroid. Centroids are unit
    vectors, so argmax dot == argmax cosine; array_position finds the
    max's index (exact double equality — same computed value)."""
    dots = F.array(*[dot(vec, _lit_vec(c)) for c in centroids])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


# Arrow-vs-codegen crossover for nearest-list assignment: the
# literal-fold expression compiles n_lists × dim constants into
# whole-stage codegen — a ONE-TIME janino cost that dominates a
# single-shot job well before row count matters (re-measured r4 at
# sf0.1, dim=64: 16 lists = ~5.5 s cold compile vs ~0.6 s Arrow;
# 8 lists compiles in <1 s and then beats Arrow on per-row cost).
# Above the crossover the numpy matmul kernel is compile-free and
# assignment-identical (pinned by test).
_ASSIGN_ARROW_MIN_LISTS = 9

# JL auto-dispatch crossover: above this many sign-matrix terms
# (dim × out_dim) the expression form's per-row interpreted HOF fold
# (linear in terms) loses to one numpy GEMM per Arrow batch, so
# project_embeddings switches to the Arrow matmul.
# 64-dim × 16 (the bit-certified config) stays comfortably below;
# 1024-dim × 128 lands far above.
_JL_ARROW_MIN_TERMS = 32_768


def _assign_lists(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Nearest-centroid assignment, dispatched across the measured
    Arrow/codegen crossover (see ``_ASSIGN_ARROW_MIN_LISTS``)."""
    if not centroids:  # empty-corpus codebook: typed null, not a crash
        return df.withColumn(out_col, F.lit(None).cast("int"))
    if len(centroids) >= _ASSIGN_ARROW_MIN_LISTS:
        return ivf_assign_pandas(df, centroids, vec_col, out_col)
    return ivf_assign(df, centroids, vec_col, out_col)


def _ivf_fit(
    pruned: DataFrame,
    id_col: str,
    n_lists: int,
    iters: int,
) -> list[list[float]]:
    """Lloyd fit over an already-projected (``id_col``, __v) frame the
    CALLER persists — every round re-executes the lineage down to the
    cache, not to the source scan. Seeds: the ``n_lists`` vectors of
    smallest xxhash64(id) (seeded 'random' sample without an RNG)."""
    seeds = (
        pruned.select(
            "__v",
            F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h", "__v")
        .limit(n_lists)
        .collect()
    )
    cents = [_unit(list(r["__v"])) for r in seeds]
    if iters <= 0 or not cents:  # empty corpus -> no codebook, not a crash
        return cents
    dim = len(cents[0])

    import numpy as np
    import pandas as pd

    for _ in range(iters):
        # fused assign + per-list partial sums in ONE compile-free Arrow
        # pass: each batch yields at most n_lists partial rows
        # (list, n, sum vector), so the driver combines
        # O(partitions × n_lists) rows and NOTHING shuffles — the
        # classic distributed-k-means step. (The previous shape — an
        # assignment pass feeding a dim-wide avg hash agg — paid a
        # janino compile of dim aggregate expressions per fit plus a
        # shuffle per round.)
        cmat = np.asarray(cents, dtype=np.float64).T  # (dim, n_lists)

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(
                    pdf["__v"].map(
                        lambda v: np.asarray(v, dtype=np.float64))
                )
                lists = (m @ cmat).argmax(axis=1)
                out_l, out_n, out_s = [], [], []
                for li in np.unique(lists):
                    sel = m[lists == li]
                    out_l.append(int(li))
                    out_n.append(sel.shape[0])
                    out_s.append(sel.sum(axis=0))
                yield pd.DataFrame(
                    {"l": out_l, "n": out_n, "s": out_s})

        partials = pruned.mapInPandas(
            kernel, "l int, n long, s array<double>"
        ).collect()
        sums = np.zeros((n_lists, dim))
        counts = np.zeros(n_lists)
        for r in partials:
            sums[r["l"]] += np.asarray(r["s"])
            counts[r["l"]] += r["n"]
        # empty lists keep their previous centroid; plain Python floats
        # (np.float64 elements poison later createDataFrame calls)
        cents = [
            _unit([float(x) for x in sums[i] / counts[i]])
            if counts[i] else cents[i]
            for i in range(n_lists)
        ]
    return cents


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic coarse quantizer: seed with the ``n_lists`` vectors
    of smallest xxhash64(id) (seeded 'random' sample without an RNG),
    then ``iters`` distributed Lloyd steps — assign (narrow map) +
    per-list elementwise mean in one hash agg. Only the
    (n_lists × dim) centroid table ever reaches the driver."""
    pruned = spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    )
    if iters > 0:
        # each Lloyd round collects a mean table, which re-executes the
        # whole lineage — pin the projected vectors once instead of
        # rescanning/recasting the source per round
        from pyspark import StorageLevel

        pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _ivf_fit(pruned, id_col, n_lists, iters)
    finally:
        if iters > 0:
            pruned.unpersist()


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """Attach the IVF list id (nearest-centroid index) — the column to
    partition/cluster the stored index by."""
    return df.withColumn(
        out_col, _nearest_list(_as_double(vec_col), centroids)
    )


def ann_topk_ivf(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    decimals: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """IVF ANN top-k: rank centroids by cosine to the probe, scan only
    the ``n_probe`` nearest lists, exact cosine re-rank within them.
    Recall misses only when a true neighbor's list ranks below n_probe.
    (In production, centroids are trained once and the assignment is a
    stored partition column — per-query work is just the pruned scan.)

    ``checkpoint=False`` returns the lazy plan and leaves the pruned
    cache pinned until :func:`session.release_pins` (plan-audit path);
    see :func:`ann_topk_ivf_batch`."""
    # prune to (id, vec) ONCE (nulls out — np.asarray(None) isn't
    # stackable in the Arrow Lloyd kernel, and a null vector can't be a
    # neighbor anyway); the Lloyd rounds and the final index assignment
    # all re-execute down to this cache, not the source scan
    pruned = pin(spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    ))
    try:
        cents = _ivf_fit(pruned, id_col, n_lists, iters)
        probe_row = (
            df.filter(F.col(id_col) == probe_id)
            .select(_as_double(vec_col)).first()
        )
        if probe_row is None or probe_row[0] is None:
            raise ValueError(
                f"probe {id_col}={probe_id} not found in corpus "
                "(or has a null embedding)"
            )
        probe_vec = list(probe_row[0])
        pu = _unit(probe_vec)
        ranked = sorted(
            range(len(cents)),
            key=lambda i: -sum(a * b for a, b in zip(pu, cents[i])),
        )
        lists = ranked[:n_probe]
        assigned = _assign_lists(pruned, cents, "__v", "__list")
        cand = assigned.filter(F.col("__list").isin(*lists)).select(
            F.col(id_col), F.col("__v")
        )
        cos = cosine(F.col("__v"), _lit_vec(probe_vec))
        # materialize the k-row answer (localCheckpoint, eager) so the
        # cache can be freed without the caller's later action
        # re-executing the fit lineage — no leaked persisted corpus per
        # call in long-lived sessions
        out = (
            cand.select(F.col(id_col), cos.alias("__cos"))
            .orderBy(F.desc("__cos"), F.asc(id_col))
            .limit(k)
            .select(
                F.col(id_col),
                F.round(F.col("__cos"), decimals).alias("cosine"),
            )
        )
        if not checkpoint:
            return out
        return out.localCheckpoint()
    except BaseException:
        # checkpoint=False promises the cache stays pinned only for a
        # SUCCESSFUL lazy return — on any raise (e.g. probe not found)
        # the caller gets no handle to free it, so free it here
        # (unpersist is idempotent; the finally below may repeat it)
        pruned.unpersist()
        raise
    finally:
        if checkpoint:
            pruned.unpersist()


def ivf_assign_pandas(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """``ivf_assign`` with the argmax computed by numpy in an Arrow
    batch (one (batch × dim) @ (dim × n_lists) matmul per batch)
    instead of the JVM literal-expression fold.

    The trade (mirrors cosine_topk_pandas): the expression form compiles
    n_lists·dim literals into whole-stage codegen — ~seconds of one-time
    janino work that dominates small interactive jobs — while this path
    is compile-free but pays Arrow transfer per row. Same assignments
    (pinned by test: argmax of the same dot products; ties go to the
    lower index in both, numpy argmax returns the first maximum).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_lists)
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(fields + [T.StructField(out_col, T.IntegerType())])
    cols = [f.name for f in fields]

    def kernel(batches):
        for pdf in batches:
            m = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            lists = (m @ cmat).argmax(axis=1).astype("int32")
            out = pdf[cols].copy()
            out[out_col] = lists
            yield out

    return df.mapInPandas(kernel, out_schema)


def _probe_lists_pandas(
    probes: DataFrame, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """Per-probe nearest-``n_probe`` inverted lists, exploded to
    (probe_id, __pv, __list) rows: one numpy matmul + stable argsort
    per Arrow batch. Stays distributed — a million-probe batch never
    funnels through the driver."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_lists)
    out_schema = T.StructType([
        probes.schema["probe_id"],
        probes.schema["__pv"],
        T.StructField("__list", T.IntegerType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(
                pdf["__pv"].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            # stable argsort of −dot: ties keep the LOWER list index,
            # bit-matching the (negdot, idx) struct sort it replaced
            order = np.argsort(-(m @ cmat), axis=1, kind="stable")
            top = order[:, :n_probe].astype("int32")
            k = top.shape[1]
            yield pd.DataFrame({
                "probe_id": pdf["probe_id"].repeat(k).values,
                "__pv": pdf["__pv"].repeat(k).values,
                "__list": top.reshape(-1),
            })

    return probes.mapInPandas(kernel, out_schema)


def ann_topk_ivf_batch(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    decimals: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """IVF ANN for MANY probes in one job: each probe scans only its
    ``n_probe`` nearest inverted lists; one corpus pass serves the whole
    batch. Output (probe_id, vec_id, rank, cosine), total order per
    probe — the batched twin of ann_topk_ivf, the way retrieval actually
    runs in production (per-query jobs waste a scan per probe).

    All per-probe work stays engine-side: the probe's centroid ranking
    is an array_sort over (−dot, idx) structs, exploded into
    (probe, list) rows and broadcast, so candidate generation is an
    equi-join on list_id against the assigned corpus — at 100 TB with
    the corpus stored partitioned by list_id, that is a partition-
    prunable scan of the union of the probes' lists.

    ``checkpoint=False`` returns the LAZY plan (same physical shape,
    nothing materialized) and leaves the pruned corpus cache pinned until
    :func:`session.release_pins` — the plan-audit/debug path; the default
    materializes the |probes|×k answer and frees the cache (leak fix).
    """
    from pyspark.sql import Window

    # one pruned (id, vec) cache feeds BOTH the Lloyd rounds and the
    # final index assignment; the assignment itself dispatches across
    # the Arrow/codegen crossover (re-assigning with the literal-fold
    # expression at 16 lists paid a ~5 s one-time janino compile — the
    # r3 bench regression)
    pruned = pin(spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    ))
    try:
        cents = _ivf_fit(pruned, id_col, n_lists, iters)
        assigned = _assign_lists(pruned, cents, "__v", "__list")

        # probes come from the RAW df, not the spread corpus: the isin
        # filter pushes to the scan, instead of paying the corpus-wide
        # repartition just to extract a handful of probe rows
        probes = df.filter(
            F.col(id_col).isin(*probe_ids) & F.col(vec_col).isNotNull()
        ).select(
            F.col(id_col).alias("probe_id"),
            _as_double(vec_col).alias("__pv"),
        )
        # rank centroids per probe engine-side with a compile-free Arrow
        # kernel: one (batch × dim) @ (dim × n_lists) matmul, stable
        # argsort of −dot (ties → lower list index, matching the struct
        # array_sort this replaced — whose n_lists × dim literal
        # expression paid a multi-second one-time janino compile).
        # Centroids are unit vectors, so argmax dot == argmax cosine.
        probe_lists = _probe_lists_pandas(probes, cents, n_probe)
        cands = assigned.join(F.broadcast(probe_lists), "__list")
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("__cos"), F.asc(id_col)
        )
        # |probes|×k rows — materialize so the cache can be freed
        # without the caller's action re-running the fit (leak fix)
        out = (
            cands.select(
                "probe_id",
                F.col(id_col),
                cosine(F.col("__v"), F.col("__pv")).alias("__cos"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "probe_id",
                id_col,
                "rank",
                F.round("__cos", decimals).alias("cosine"),
            )
        )
        if not checkpoint:
            return out
        return out.localCheckpoint()
    except BaseException:
        # checkpoint=False promises the cache stays pinned only for a
        # SUCCESSFUL lazy return — on any raise (e.g. probe not found)
        # the caller gets no handle to free it, so free it here
        # (unpersist is idempotent; the finally below may repeat it)
        pruned.unpersist()
        raise
    finally:
        if checkpoint:
            pruned.unpersist()


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: integer whose bit i is sign(v·hᵢ).
    Vectors with equal signatures are 'probable neighbors' under cosine."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the probe's LSH
    bucket, then re-rank by exact cosine. At 100 TB this replaces a full
    corpus scan per probe with a partition-prunable equi-match on the
    bucket column (precompute + partition/Z-order by bucket in practice).

    Recall is approximate by construction (bucket boundary misses) —
    rows-only harness check; the exact variant is the oracle-certified
    one.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    vecs = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    bucketed = vecs.withColumn("__b", hyperplane_bucket(F.col("__v"), planes))
    probe = (
        bucketed.filter(F.col(id_col) == probe_id)
        .select(F.col("__v").alias("__pv"), F.col("__b").alias("__pb"))
    )
    cands = bucketed.join(
        F.broadcast(probe), bucketed["__b"] == probe["__pb"], "inner"
    )
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        cands.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def ann_topk_lsh_multiprobe(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_flip: int = 1,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): scan the probe's
    bucket PLUS every bucket whose signature differs in ≤ ``n_flip``
    bits, exact cosine re-rank over the union.

    A true neighbor lands in a different bucket only when some v·hᵢ
    signs differ — almost always by ONE borderline plane — so probing
    Hamming-adjacent buckets recovers most single-table LSH misses
    without building extra hash tables (the classic recall/tables
    trade). Spark shape: the probe row is exploded into its
    C(n_planes,≤n_flip)+1 candidate signatures and broadcast; candidate
    generation stays an equi-join on the bucket key, so at 100 TB it is
    still a partition-prunable match on a stored bucket column — just
    n_probe partitions instead of one. Superset-of-single-probe by
    construction.
    """
    masks = [
        m for m in range(1 << n_planes) if bin(m).count("1") <= n_flip
    ]
    planes = _hyperplanes(dim, n_planes, seed)
    vecs = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    bucketed = vecs.withColumn("__b", hyperplane_bucket(F.col("__v"), planes))
    probe = bucketed.filter(F.col(id_col) == probe_id).select(
        F.col("__v").alias("__pv"), F.col("__b").alias("__pb0")
    )
    # one probe row → one row per candidate signature (XOR flips stay
    # engine-side: no collect of the bucket to the driver)
    probe_buckets = probe.select(
        "__pv",
        F.explode(
            F.array(*[F.col("__pb0").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("__pb"),
    )
    cands = bucketed.join(
        F.broadcast(probe_buckets), bucketed["__b"] == probe_buckets["__pb"]
    )
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        cands.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, q_col: str = "qvec",
    amax_col: str = "amax",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    lever for ANN at corpus scale (4× smaller than float32, 8× smaller
    than float64; int8 dot products SIMD-vectorize downstream).

    q_i = clamp(floor(x_i · 127/amax + 0.5), −127, 127) with
    amax = max|x_i|; the per-vector ``amax`` column is kept for
    dequantization (x̂_i = q_i · amax/127, max error amax/254 per
    coordinate). All-zero vectors quantize to zeros with amax 0.
    Everything is element-wise double arithmetic on IEEE-exact inputs
    (float32 → double widening is exact), so any engine reproduces the
    codes bit-for-bit — the oracle certifies that. Narrow projection,
    no shuffle."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(x * scale + F.lit(0.5)).cast("int")),
        ),
    )
    return df.withColumn(amax_col, amax).withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame, q_col: str = "qvec", amax_col: str = "amax",
    out_col: str = "vec_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x̂_i = q_i · amax/127
    (zeros when amax is 0). Element-wise, shuffle-free."""
    amax = F.col(amax_col)
    inv = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda q: q.cast("double") * inv),
    )


def reconstruct_embeddings_int8(
    df: DataFrame, vec_col: str, out_col: str = "vec_hat",
) -> DataFrame:
    """``dequantize_embeddings(quantize_embeddings(df))`` fused into
    ONE array pass: x̂_i = clamp(floor(x_i·127/amax + 0.5), −127, 127)
    · amax/127 with amax hoisted to a per-row column (inlining it in
    the lambda would re-reduce the array per ELEMENT — O(d²)/row,
    measured 3× slower). Bit-identical to the composed pair — the same
    per-element double ops in the same order; the int8 codes are
    computed inside the lambda but never materialized as a column —
    pinned by the fused-equals-composed unit test.

    Exists for pipelines that only need the RECONSTRUCTION (int8
    round-trip error analysis, quantized near-dup certification):
    the composed chain pushes three generated array projections
    (amax, qvec, vec_hat) through codegen and pays their first-run
    interpreted/JIT floor — measured 2.6 s cold vs 0.3 s warm for the
    sf0.1 persist stage of q_embed_dup_int8; the fused pass roughly
    halves the cold floor and drops an intermediate array per row at
    any scale. Keep :func:`quantize_embeddings` when the codes
    themselves are the output."""
    v0 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax_col = f"__amax_{out_col}"
    if amax_col in df.columns:
        # withColumn would silently OVERWRITE the caller's column and
        # the final drop would delete their data (r12 ADVICE) — fail
        # loudly like temporal.py's join-collision guard does.
        raise ValueError(
            f"input column {amax_col!r} collides with the operator's "
            f"internal staging name; rename it or pick another out_col"
        )
    t = df.withColumn(
        amax_col, F.array_max(F.transform(v0, lambda x: F.abs(x)))
    )
    amax = F.col(amax_col)
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    inv = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    vhat = F.transform(
        v0,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(x * scale + F.lit(0.5)).cast("int")),
        ).cast("double") * inv,
    )
    return t.withColumn(out_col, vhat).drop(amax_col)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_lists: int | None = None,
    iters: int = 2,
    target_cluster_rows: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): rows
    whose embeddings are near-identical in meaning collapse to one
    representative. Pipeline: deterministic k-means coarse clusters
    (``ivf_centroids`` — seeded by hash, no RNG) → within-cluster
    cosine pairs ≥ threshold (quadratic only in CLUSTER size, never
    corpus size) → connected components → keep the min-id member per
    component.

    The scale story is the clustering: at 100 TB the all-pairs matrix
    is impossible, but per-cluster work is (N/n_lists)² per list and
    the cluster id is an equi-join key, so candidate generation is one
    co-located shuffle. Cross-cluster near-dups are missed by
    construction (the SemDeDup trade-off); ``n_lists=1`` degrades to
    exact brute force, which is what the certification query runs.

    ``n_lists=None`` (default) CORPUS-SCALES the cluster count to
    ~``target_cluster_rows`` rows per cluster — a FIXED n_lists makes
    per-cluster pair work (N/k)²·k = N²/k, i.e. quadratic in the
    corpus (measured 102× time at 30× data in the scale probe before
    this default). With scaled k the pair stage is ~target·N — linear.
    Assignment cost is N·k dot products; above 8 lists it runs as one
    numpy matmul per Arrow batch (``ivf_assign_pandas``), whose
    constant keeps it off the critical path well past 10⁶ lists; the
    auto value caps at 4096 — beyond that (N ≫ 10⁶ rows), pass an
    explicit ``n_lists`` sized to your cluster budget or pre-cluster
    hierarchically (two-level IVF) before calling this.

    Returns the surviving rows of ``df`` (schema unchanged)."""
    from .graph import dedup_survivors

    if n_lists is None:
        n = df.count()
        if n == 0:
            return df
        n_lists = max(
            1, min(4096, n, max(16, -(-n // target_cluster_rows)))
        )
    from pyspark import StorageLevel

    # prune to (id, vec) before clustering: the full-width rows never
    # enter the Lloyd rounds, the assignment Arrow transfer, or the
    # within-cluster pair join — only the final anti-join sees them.
    # Null-embedding rows are excluded here (they can't be near-dups,
    # and np.asarray(None) isn't stackable in the Arrow kernels) and
    # therefore always SURVIVE via the anti-join passthrough.
    pruned = spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cents = _ivf_fit(pruned, id_col, n_lists=n_lists, iters=iters)
    assigned = _assign_lists(pruned, cents, "__v", "__list")
    # fewer blocks than cores (the n_lists=1 certification config in
    # the limit) → salt the pair join so the quadratic work spreads;
    # corpus-scaled configs have n_lists ≫ cores and keep salt=1
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = cosine_near_dup_pairs(
        assigned, threshold=threshold, id_col=id_col, vec_col="__v",
        block_col="__list",
        salt=max(1, min(32, -(-par // n_lists))),
    )
    try:
        # dedup_survivors materializes the component labels (the pair
        # lineage's terminal), so the returned anti-join no longer
        # reads the cache — free it instead of leaking one persisted
        # corpus per call
        return dedup_survivors(df, pairs, id_col)
    finally:
        pruned.unpersist()


def ivf_assign_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_super: int = 64,
    n_sub: int = 64,
    iters: int = 2,
    out_col: str = "list_id",
) -> DataFrame:
    """Hierarchical coarse quantization — the scale path past the flat
    4096-list cap (at 10⁹+ rows a flat codebook either blows the
    driver's centroid table or leaves clusters quadratic-sized).
    Two-level residual scheme (the FAISS IVF-with-shared-residual-
    codebook shape): level 1 fits ``n_super`` centroids on the
    vectors; level 2 fits ONE SHARED codebook of ``n_sub`` centroids
    on the residuals v − c_super(v) across all super-lists. Composite
    ``out_col`` = super·n_sub + sub gives up to n_super × n_sub cells
    (4096² ≈ 16.7 M) from two driver-sized fits — no per-super loop,
    no >4096-wide codebook ever materializes.

    Degenerate certification: ``n_sub=1`` skips the residual level and
    is BIT-IDENTICAL to flat ``ivf_assign`` at n_lists=n_super (pinned
    by test); n_super=1, n_sub=1 degrades to brute force, which the
    exact-oracle query certifies end-to-end.

    Output: ``df``'s columns plus ``out_col`` (long)."""
    from pyspark import StorageLevel

    # null-embedding rows skip the fit/assign entirely (Arrow kernels
    # can't stack None) and come back with a NULL list id via the left
    # join below — matching flat ivf_assign's null-in → null-out
    pruned = spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    resid = None
    try:
        super_cents = _ivf_fit(pruned, id_col, n_super, iters)
        assigned = _assign_lists(pruned, super_cents, "__v", "__super")
        if n_sub <= 1:
            out = assigned.select(
                F.col(id_col),
                F.col("__super").cast("long").alias(out_col),
            )
        else:
            spark = df.sparkSession
            from ..partitioning import local_df

            cent_rows = [(i, c) for i, c in enumerate(super_cents)]
            cent_df = local_df(
                spark, cent_rows, "__super int, __cent array<double>"
            )
            # residual = v − c_super(v): broadcast the n_super-row
            # centroid table; the corpus never shuffles
            resid0 = assigned.join(F.broadcast(cent_df), "__super").select(
                F.col(id_col),
                F.col("__super"),
                F.zip_with(
                    "__v", "__cent", lambda a, b: a - b
                ).alias("__v2"),
            )
            resid = resid0.select(
                id_col, "__super", F.col("__v2").alias("__v")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            sub_cents = _ivf_fit(resid, id_col, n_sub, iters)
            final = _assign_lists(resid, sub_cents, "__v", "__sub")
            out = final.select(
                F.col(id_col),
                (
                    F.col("__super").cast("long") * F.lit(n_sub)
                    + F.col("__sub")
                ).alias(out_col),
            )
        # materialize the narrow (id, list_id) assignment — in
        # production this IS the stored index — so the two caches can
        # be freed instead of leaking one persisted corpus (+ one
        # residual corpus) per call in long-lived sessions
        out = out.localCheckpoint()
        return df.join(out, id_col, "left")
    finally:
        pruned.unpersist()
        if resid is not None:
            resid.unpersist()


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_super: int = 64,
    n_sub: int = 64,
    iters: int = 2,
) -> DataFrame:
    """:func:`semantic_dedup` with :func:`ivf_assign_two_level`
    clustering — the >4096-cell regime. Same contract: surviving rows
    of ``df``, min-id member per near-dup component kept. Cross-cell
    near-dups are missed by construction (the SemDeDup trade, now per
    composite cell)."""
    from .graph import dedup_survivors

    assigned = ivf_assign_two_level(
        df.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, n_super, n_sub, iters, out_col="__list",
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = cosine_near_dup_pairs(
        assigned, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col="__list",
        salt=max(1, min(32, -(-par // (n_super * n_sub)))),
    )
    return dedup_survivors(df, pairs, id_col)


def group_vector_mean(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group element-wise mean vector (class prototypes / centroid
    table): scalar rows (group, idx, mean). Computed as ``dim`` scalar
    avg aggregates in ONE hash aggregate — the ivf_centroids trick —
    so the shuffle carries per-group partial sums, never a dim× row
    blowup (posexplode-before-groupBy would push dim·N rows through
    the exchange). The output explode happens after aggregation, on
    |groups| rows."""
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"{group_col} string, idx int, mean double")
    v = _as_double(vec_col)
    agg = df.groupBy(group_col).agg(
        *[F.avg(v[i]).alias(f"m_{i}") for i in range(dim)]
    )
    pairs = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("idx"),
                     F.col(f"m_{i}").alias("mean"))
            for i in range(dim)
        ])
    ).alias("p")
    return agg.select(group_col, pairs).select(
        group_col, "p.idx", "p.mean")


def centroid_outlier_scores(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_max_groups: int = 100_000,
) -> DataFrame:
    """Semantic-outlier scores for curation (SemDeDup-adjacent): each
    row's cosine to its GROUP's mean embedding — mislabeled or noisy
    documents sit far from their class prototype, so the curation
    filter is 'drop the bottom quantile of cos_centroid per group'.

    Plan: the centroid is ``dim`` scalar avg aggregates in ONE hash
    aggregate (the :func:`group_vector_mean` shape — partial sums
    through the exchange, never a dim× posexplode blowup); the
    |groups|-row centroid table joins back onto the membership, with
    the broadcast hint GATED on a measured group count (millions of
    groups × dim doubles would OOM under an unconditional hint — the
    dedup_survivors lesson; above the gate AQE still broadcasts at
    runtime if stats allow); the cosine is the deterministic
    zip_with/fold. One shuffle total, then narrow maps. Output:
    (id, group, cos_centroid) — ranking/thresholding is the caller's
    policy.
    """
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, {group_col} string, cos_centroid double"
        )
    df = df.where(F.col(vec_col).isNotNull())
    v = _as_double(vec_col)
    cent = (
        df.groupBy(group_col)
        .agg(*[F.avg(v[i]).alias(f"__m_{i}") for i in range(dim)])
        .select(
            group_col,
            F.array(*[F.col(f"__m_{i}") for i in range(dim)]).alias("__cent"),
        )
    )
    if broadcast_max_groups and cent.count() <= broadcast_max_groups:
        cent = F.broadcast(cent)
    return (
        df.join(cent, group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            cosine(v, F.col("__cent")).alias("cos_centroid"),
        )
    )


def _jl_signs(dim: int, out_dim: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 sign matrix for the JL projection, derived from
    md5 (hashlib — plain public derivation, reproducible anywhere):
    sign[j][i] = +1 if the first hex nibble of md5(f"{seed}|{j}|{i}")
    is < 8 else -1. Engine-independent by construction: the same
    Python derivation stamps both the Spark expression and the SQL
    oracle, so certification covers the projection algebra."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(
                f"{seed}|{j}|{i}".encode()).hexdigest()[0], 16) < 8
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 16,
    seed: int = 7,
    decimals: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): out_j = Σᵢ sᵢⱼ·vᵢ / √out_dim. Pairwise
    distances survive within (1 ± ε) for out_dim = O(log n / ε²) — the
    standard pre-shrink before ANN indexing or near-dup banding when
    the raw embedding is wide.

    The signs are CONSTANTS baked into the expression (no per-row
    hashing): each output coordinate is a zip_with against its literal
    sign row folded left — a narrow map, no shuffle, no Python, and
    the fold is seeded with the first term so the sum order is the
    exact left-assoc chain an unrolled-SQL oracle replays.
    Output: (id, proj array<double>, rounded to ``decimals``).

    Above ``_JL_ARROW_MIN_TERMS`` total sign-matrix terms
    (dim × out_dim) the call auto-dispatches to
    :func:`project_embeddings_pandas`: the per-row interpreted HOF
    fold is linear in the term count, while the Arrow matmul hands
    the whole batch to one numpy GEMM (values agree to the rounding
    decimals; both paths are certified equal by test).
    """
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, proj array<double>"
        )
    if dim * out_dim >= _JL_ARROW_MIN_TERMS:
        return project_embeddings_pandas(
            df, vec_col, id_col, out_dim, seed, decimals
        )
    df = df.where(F.col(vec_col).isNotNull())
    signs = _jl_signs(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    # per coordinate: terms = ±vᵢ via zip_with against the literal sign
    # row, then a left fold SEEDED WITH THE FIRST TERM — exactly the
    # left-assoc chain t₀+t₁+…, bit-for-bit (s·x with s=±1.0 is an
    # exact IEEE sign flip; a 0.0 seed would turn a -0.0 first term
    # into +0.0). The unrolled add-chain form this replaced generated
    # one giant expression per coordinate: janino refused it at 64 KB
    # on EVERY run (dim·out_dim=1024 terms), so it always paid a
    # failed-compile attempt plus interpreted eval of dim·out_dim
    # whole-array casts per row — measured ~3x this form on the same
    # data. The cast+slice is HOISTED into its own projection so the
    # interpreted HOFs (no codegen subexpression elimination) pay it
    # once per row, not once per coordinate; slice(…, 1, dim) pins the
    # read window to the inferred dim (zip_with would otherwise
    # null-pad AGAINST a longer vector).
    vd = df.select(
        F.col(id_col),
        F.slice(F.col(vec_col).cast("array<double>"), 1, dim).alias("__vd"),
    )
    # each coordinate is ONE F.expr parse instead of a py4j-built
    # Column chain: the literal sign array alone cost ~4 round-trips
    # per element (dim·out_dim = 1024 lits ≈ 1 s of plan-build time at
    # the default shape — the r14 simhash packed-reduce finding). The
    # parsed tree is term-for-term the one the Column form built: same
    # zip_with, same first-term-seeded left fold, same literal doubles
    # (repr() round-trips IEEE doubles exactly).
    outs = []
    for j in range(out_dim):
        sgn = "array({})".format(
            ",".join(f"{float(s)!r}D" for s in signs[j])
        )
        terms = f"zip_with({sgn}, __vd, (s, x) -> s * x)"
        coord = F.expr(
            f"aggregate(slice({terms}, 2, {max(dim - 1, 0)}), "
            f"element_at({terms}, 1), (acc, x) -> acc + x)"
        )
        outs.append(F.round(coord * F.lit(scale), decimals))
    return vd.select(F.col(id_col), F.array(*outs).alias("proj"))


def project_embeddings_pandas(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 16,
    seed: int = 7,
    decimals: int = 6,
) -> DataFrame:
    """:func:`project_embeddings` with the projection computed as ONE
    numpy matmul per Arrow batch ((batch × dim) @ (dim × out_dim)
    sign matrix) instead of 16 codegen'd add chains — the compile-free
    production path (the expression form pays ~seconds of one-time
    janino work for 1024-term chains; this form pays Arrow transfer).
    Same sign matrix and scale; values agree with the expression path
    to the rounding decimals (numpy's pairwise summation vs the
    left-assoc chain differ only in the last ulp — pinned by test).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dim = _infer_dim(df, vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, proj array<double>"
        )
    df = df.where(F.col(vec_col).isNotNull())
    S = np.asarray(_jl_signs(dim, out_dim, seed), dtype=np.float64).T
    S *= 1.0 / math.sqrt(out_dim)                 # dim × out_dim
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("proj", T.ArrayType(T.DoubleType())),
    ])

    def kernel(batches):
        for pdf in batches:
            m = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            p = np.round(m @ S, decimals)
            yield pd.DataFrame({id_col: pdf[id_col], "proj": list(p)})

    return df.select(id_col, vec_col).mapInPandas(kernel, out_schema)
