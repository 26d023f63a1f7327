"""Similarity search over embedding columns (X3, SURVEY.md §2.11).

Brute-force cosine top-k as the correctness baseline, plus an LSH-bucketed
approximate variant as the scale path. Both are pure DataFrame plans:

* brute force — broadcast the query vector, map-side cosine, then
  ``orderBy(desc).limit(k)`` = TakeOrderedAndProject (per-partition heap,
  driver merges k rows per partition — no global sort). At 100 TB this is
  one full scan; correct but O(N) per query.
* LSH — pre-bucket vectors by random-hyperplane signs (one-off job, reusable
  across queries); a query probes only its bucket (+ optional multi-probe
  neighbors), turning per-query cost into O(N / 2^planes) expected.
* IVF — k-means-style coarse quantizer (trained on a sample) assigning each
  vector to its nearest centroid partition; queries probe the ``nprobe``
  nearest centroid partitions only.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.functions.vector import (
    cosine_similarity,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    publish_batch,
)


def brute_force_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 baseline — exact cosine top-k against a literal query vector.

    The query vector is a folded literal array (broadcast with the plan, not
    a join); cosine is zip_with/aggregate built-ins in doubles (deterministic
    left-to-right fold -> oracle-comparable). Tie-break on key for a
    deterministic k-set.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q).alias("cosine")
    return (
        df.select(F.col(key_col), sim)
        .orderBy(F.col("cosine").desc(), F.col(key_col).asc())
        .limit(k)
    )


def brute_force_batch_top_k(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Exact cosine top-k for MANY query vectors in one plan — the batch
    form of :func:`brute_force_top_k` and the exact baseline under the
    approximate batch retrievers (lsh/ivf/pq_batch_top_k).

    The query table broadcasts (it is the small side by definition); every
    (query, corpus) pair scores map-side with the deterministic
    left-to-right fold cosine (oracle-comparable bits), and per-query
    top-k is a rank window on query_id — AQE runs it as map-side
    WindowGroupLimit, so only ~k rows per query per partition reach the
    exchange. Cost is the honest O(|corpus| x |queries|) of exact
    retrieval: use it for small query batches / recall baselines, the ANN
    indexes for the sublinear path."""
    from pyspark.sql import Window

    pairs = df.crossJoin(F.broadcast(queries))
    sim = cosine_similarity(F.col(vec_col), F.col(query_vec_col)).alias(
        "cosine"
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("cosine").desc(), F.col(key_col).asc()
    )
    return (
        pairs.select(F.col(query_key_col), F.col(key_col), sim)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_key_col, "rank", key_col, "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _sign_bucket(vc: Column, planes: list[list[float]]) -> Column:
    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vc,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(proj >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
    return acc


def lsh_index(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the LSH-bucketed index: add a sign-pattern ``bucket`` column.
    At scale, persist this partitioned/bucketed BY bucket so a query reads
    one partition (partition pruning does the candidate selection)."""
    planes = _hyperplanes(dim, n_planes, seed)
    return df.withColumn("bucket", _sign_bucket(F.col(vec_col), planes))


def lsh_top_k(
    indexed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 scale path — probe the query's bucket plus all buckets within
    ``multiprobe_hamming`` bit flips (multi-probe LSH: recovers most of the
    recall lost to plane-straddling vectors), exact cosine within candidates.
    """
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    qbucket = 0
    for i, p in enumerate(planes):
        proj = sum(float(v) * w for v, w in zip(query_vec, p))
        if proj >= 0:
            qbucket |= 1 << i
    probes = {qbucket}
    if multiprobe_hamming >= 1:
        for i in range(n_planes):
            probes.add(qbucket ^ (1 << i))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q).alias("cosine")
    return (
        indexed.filter(F.col("bucket").isin(list(probes)))
        .select(F.col(key_col), sim)
        .orderBy(F.col("cosine").desc(), F.col(key_col).asc())
        .limit(k)
    )


def _train_sample(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    max_train_rows: int,
    seed: int,
):
    """Bounded, layout-independent k-means training sample (see ivf_index
    docstring — this is that logic, shared with the PQ trainer): keyed-hash
    row selection (pure function of the key, stable under any partitioning),
    hard ``limit`` cap, and a driver-side sort so arrival order can't
    influence the centroids."""
    import numpy as np

    n = df.count()  # metadata-cheap for parquet; one job otherwise
    if n > max_train_rows:
        frac = min(1.0, 1.5 * max_train_rows / n)
        bucket = 1 << 16
        keep = F.pmod(
            F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(bucket)
        ) < F.lit(int(bucket * frac))
        train = df.filter(keep).select(vec_col).limit(max_train_rows)
    else:
        train = df.select(vec_col)
    rows = train.collect()
    if any(r[0] is None for r in rows):
        raise ValueError(
            "training sample contains NULL embeddings — filter or impute "
            "upstream (a bare tuple(None) here was an opaque TypeError)"
        )
    sample = np.array(
        sorted(tuple(r[0]) for r in rows),
        dtype=np.float64,
    )
    # invariant: the driver never holds more than the training cap
    assert len(sample) <= max_train_rows, "training collect exceeded cap"
    return sample


def _stack_vectors(values, what: str):
    """Stack an Arrow column of embeddings into an (n, dim) float64 matrix,
    failing LOUDLY on NULL rows: ``np.array`` over a batch containing a
    None otherwise dies with numpy's opaque 'inhomogeneous shape'
    ValueError deep in an executor — the same silent-crash shape the
    dedup/asof NULL passes fixed. Dimension mismatches still raise (with
    numpy's message), which is the right behavior for corrupt input."""
    import numpy as np

    out = []
    for v in values:
        if v is None:
            raise ValueError(
                f"{what}: NULL embedding in input — filter or impute "
                "upstream (vectors must be non-null, fixed-dimension)"
            )
        out.append(np.asarray(v, dtype=np.float64))
    return np.array(out)


def _sq_dists(V, C):
    """Squared-Euclidean distance matrix between row sets (the
    ``|x|^2 - 2x.c + |c|^2`` expansion) — one shape, used by the Lloyd
    step and every assignment kernel so the tie-relevant float path is
    literally the same code."""
    return (V**2).sum(1)[:, None] - 2.0 * V @ C.T + (C**2).sum(1)[None, :]


def _lloyd(sample, n_centroids: int, iterations: int, seed: int):
    """Seeded vectorized Lloyd's k-means over a driver-side numpy sample."""
    import random

    rng = random.Random(seed)
    k = min(n_centroids, len(sample))
    cent = sample[rng.sample(range(len(sample)), k)]
    for _ in range(iterations):
        d2 = _sq_dists(sample, cent)
        assign = d2.argmin(1)
        for ci in range(k):
            members = sample[assign == ci]
            if len(members):
                cent[ci] = members.mean(0)
    return cent


def ivf_index(
    df: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
    iterations: int = 3,
    n_assign: int = 1,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: Lloyd's k-means on a BOUNDED driver-side sample
    (the centroid table is tiny — k x dim floats), then assign every vector
    to its nearest centroid via a vectorized Arrow kernel (one numpy
    matmul per batch — see the note at the kernel below). Returns
    (assigned df with (key, vec, ``centroid_id``), centroids). At scale,
    write the assigned table partitioned by centroid_id.

    The training collect is capped at ``max_train_rows`` regardless of table
    size: we estimate the row count, select a ~max_train_rows/n keyed-hash
    slice (with slack), and hard-cap with ``limit`` — so the driver never
    materializes more than max_train_rows vectors even at 100 TB. k-means
    centroid quality needs a statistical sample, not the full table.

    Determinism is LAYOUT-INDEPENDENT: the sample is selected by a pure
    function of the key (``xxhash64(key) % B < B*frac`` — the same rows
    survive under any partitioning or file order, unlike seeded
    ``sample()`` whose per-partition RNG changes with the split), and the
    collected rows are sorted driver-side before seeding k-means so
    arrival order can't influence the centroids.

    Scale law (measured, BASELINE.md round-7 two-decade probe): growing
    ``n_centroids`` ∝ N keeps per-cell occupancy — and so any downstream
    per-cell O(b^2) verification (SemDeDup) — constant, but makes the
    ASSIGNMENT matmul O(N*k) the next quadratic term (the probe's 100x
    row at k=1600 is ~8x its 10x row at k=160). Past that point the
    standard remedy is a two-level coarse quantizer (IMI: two codebooks
    of sqrt(k) centroids over vector halves — assignment cost
    O(N*sqrt(k)), cell count k), which composes with this API by feeding
    the product cell id in as ``centroid_id``."""
    sample = _train_sample(df, key_col, vec_col, max_train_rows, seed)
    cent = _lloyd(sample, n_centroids, iterations, seed)
    centroids = [list(map(float, c)) for c in cent]
    assigned = ivf_assign(
        df, centroids, key_col=key_col, vec_col=vec_col, n_assign=n_assign
    )
    return assigned, centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Assign vectors to their ``n_assign`` nearest cells under a FROZEN
    centroid table — the pure-map half of ``ivf_index``, exposed so a
    consumer that trains ONCE (offline, or on a corpus sample) can keep
    assigning new arrivals against the same codebook: the streaming
    semantic dedup (m20) requirement, where per-batch retraining would
    silently re-partition the space every micro-batch and break the
    persisted cell index.

    Assignment runs as a vectorized Arrow kernel (one numpy matmul per
    batch), NOT a centroid-literal expression fold: k x dim literal
    aggregates are codegen-hostile — the expression build/compile cost
    alone dominated this query's wall time at fixture scale (the same
    lesson pq_encode's docstring records; measured ~3 s -> ~0.3 s here).
    Ties break by lowest centroid id (stable argsort), deterministic and
    independent of batch boundaries.

    ``n_assign > 1`` emits one row per (vector, cell) for the vector's
    top-n nearest cells — the soft-assignment dedup/blocking needs:
    cell-BOUNDARY pairs (a vector and its near-copy falling on opposite
    sides of a Voronoi face) then co-occur in at least one shared cell.
    Query-path consumers keep the default n_assign=1 (probing widens on
    the query side via nprobe instead — duplicating the index is the
    wrong trade there)."""
    import numpy as np

    coarse_np = np.asarray(centroids, dtype=np.float64)
    key_t = df.schema[key_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _stack_vectors(pdf[vec_col], "ivf_assign")
            d2 = _sq_dists(vecs, coarse_np)
            top = np.argsort(d2, axis=1, kind="stable")[:, :n_assign]
            out = {key_col: [], vec_col: [], "centroid_id": []}
            for r in range(len(pdf)):
                for c in top[r]:
                    out[key_col].append(pdf[key_col].iloc[r])
                    out[vec_col].append(pdf[vec_col].iloc[r])
                    out["centroid_id"].append(int(c))
            yield pd.DataFrame(out)

    return df.select(key_col, vec_col).mapInPandas(
        kernel,
        schema=f"{key_col} {key_t}, {vec_col} {vec_t}, centroid_id int",
    )


def imi_index(
    df: DataFrame,
    n_cells_per_half: int = 16,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
    iterations: int = 3,
    n_assign: int = 1,
) -> tuple[DataFrame, tuple[list[list[float]], list[list[float]]]]:
    """Two-level inverted multi-index (IMI) coarse quantizer — the
    measured remedy for ``ivf_index``'s O(N*k) assignment term when the
    cell count grows with the corpus (BASELINE.md round-7 two-decade
    probe; the law note in ivf_index's docstring).

    The vector splits into two halves; each half gets its own
    ``n_cells_per_half``-centroid seeded Lloyd codebook (trained on the
    same bounded, layout-independent driver sample as ``ivf_index``).
    The cell id is the PRODUCT code ``i * k' + j`` of the halves'
    nearest centroids, so k = k'^2 cells cost two k'-codebook scans:
    assignment is O(N * sqrt(k) * d) instead of O(N * k * d) — at
    k = 1600 that is a 40x flop cut for the same cell count. Squared
    Euclidean decomposes over the split (``|v - c(i,j)|^2 =
    |va - ca_i|^2 + |vb - cb_j|^2``), so product-cell distances are
    EXACT sums of half-distances, never approximations.

    ``n_assign`` ∈ {1, 2}. Soft top-2 (the SemDeDup boundary-recall
    setting, see ivf_index) stays EXACT over all k'^2 product cells
    without materializing them: with per-half distances sorted
    (a1 <= a2 <= ..., b1 <= b2 <= ...), every cell with i >= 2 or
    j >= 2 has distance >= min(a2 + b1, a1 + b2), so the true second-
    best product cell is whichever of those two candidates is smaller
    (ties break toward the lower cell id — deterministic, batch-
    boundary-independent, like every kernel in this module).

    Output schema matches ``ivf_index`` (``(key, vec, centroid_id)``),
    so it drops into ``blocked_cosine_join``/SemDeDup unchanged; the
    return also carries the two half-codebooks.
    """
    import numpy as np

    if n_assign not in (1, 2):
        raise ValueError("imi_index supports n_assign in {1, 2} only")
    # dim comes from the training sample the trainer collects anyway —
    # no extra .first() job, and empty/null-vector inputs fail loudly
    # here instead of as an opaque TypeError
    sample = _train_sample(df, key_col, vec_col, max_train_rows, seed)
    if sample.size == 0:
        raise ValueError("imi_index needs a non-empty vector column")
    dim = sample.shape[1]
    if dim < 2:
        raise ValueError("imi_index needs vectors of dim >= 2 to split")
    da = dim // 2

    cent_a = _lloyd(sample[:, :da], n_cells_per_half, iterations, seed)
    cent_b = _lloyd(sample[:, da:], n_cells_per_half, iterations, seed + 1)
    k_half = len(cent_a)  # = min(n_cells_per_half, sample size)
    if len(cent_b) != k_half:
        raise ValueError("half codebooks diverged in size")  # unreachable
    A = np.asarray(cent_a, dtype=np.float64)
    B = np.asarray(cent_b, dtype=np.float64)
    key_t = df.schema[key_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _stack_vectors(pdf[vec_col], "imi_index")
            va, vb = vecs[:, :da], vecs[:, da:]
            d2a = _sq_dists(va, A)
            d2b = _sq_dists(vb, B)
            # stable argsort = deterministic lowest-id tie-break per half
            oa = np.argsort(d2a, axis=1, kind="stable")
            ob = np.argsort(d2b, axis=1, kind="stable")
            i1, j1 = oa[:, 0], ob[:, 0]
            cells = [(i1 * k_half + j1)]
            if n_assign == 2 and k_half >= 2:
                i2, j2 = oa[:, 1], ob[:, 1]
                rows = np.arange(len(vecs))
                alt_a = d2a[rows, i2] + d2b[rows, j1]  # (a2, b1)
                alt_b = d2a[rows, i1] + d2b[rows, j2]  # (a1, b2)
                cell_a = i2 * k_half + j1
                cell_b = i1 * k_half + j2
                pick_a = (alt_a < alt_b) | (
                    (alt_a == alt_b) & (cell_a < cell_b)
                )
                cells.append(np.where(pick_a, cell_a, cell_b))
            out = {key_col: [], vec_col: [], "centroid_id": []}
            for r in range(len(pdf)):
                for arr in cells:
                    out[key_col].append(pdf[key_col].iloc[r])
                    out[vec_col].append(pdf[vec_col].iloc[r])
                    out["centroid_id"].append(int(arr[r]))
            yield pd.DataFrame(out)

    assigned = df.select(key_col, vec_col).mapInPandas(
        kernel,
        schema=f"{key_col} {key_t}, {vec_col} {vec_t}, centroid_id int",
    )
    return assigned, (
        [list(map(float, c)) for c in cent_a],
        [list(map(float, c)) for c in cent_b],
    )


def _probe_top_k(
    assigned: DataFrame,
    probe: list[int],
    query_vec: list[float],
    k: int,
    key_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of the coarse-quantizer query paths (ivf_top_k /
    imi_top_k): filter to the probed cells, exact fold-cosine against the
    literal query vector, deterministic (cosine desc, key asc) top-k —
    one place to fix tie-breaks or schema for every quantizer."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q).alias("cosine")
    return (
        assigned.filter(F.col("centroid_id").isin(probe))
        .select(F.col(key_col), sim)
        .orderBy(F.col("cosine").desc(), F.col(key_col).asc())
        .limit(k)
    )


def ivf_top_k(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid partitions, exact cosine within."""
    scored = sorted(
        range(len(centroids)),
        key=lambda i: sum((q - c) ** 2 for q, c in zip(query_vec, centroids[i])),
    )
    probe = scored[:nprobe]
    return _probe_top_k(assigned, probe, query_vec, k, key_col, vec_col)


def imi_top_k(
    assigned: DataFrame,
    codebooks: tuple[list[list[float]], list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query path over an ``imi_index``: probe the ``nprobe`` product
    cells nearest the query, exact cosine within — the IMI analogue of
    ``ivf_top_k``. Cell distance decomposes over the halves
    (``|q - c(i,j)|^2 = |qa - ca_i|^2 + |qb - cb_j|^2``), so ranking
    the k'^2 product cells is two k'-codebook scans plus a sum — all
    driver-side on the tiny codebooks (the multi-sequence heap of the
    IMI paper buys asymptotics only when k'^2 sums themselves are big;
    at coarse-quantizer sizes the flat argsort is exact and simpler).
    Ties rank by lowest cell id — deterministic like ``ivf_top_k``.
    Query over an ``n_assign=1`` index (the ivf_index note applies:
    probing widens on the query side via ``nprobe``; a soft-assigned
    index duplicates rows across cells and is for dedup blocking)."""
    cent_a, cent_b = codebooks
    k_half = len(cent_a)
    da = len(cent_a[0])
    qa, qb = query_vec[:da], query_vec[da:]
    d_a = [sum((q - c) ** 2 for q, c in zip(qa, ca)) for ca in cent_a]
    d_b = [sum((q - c) ** 2 for q, c in zip(qb, cb)) for cb in cent_b]
    cells = sorted(
        range(k_half * k_half),
        key=lambda cell: (d_a[cell // k_half] + d_b[cell % k_half], cell),
    )
    probe = cells[:nprobe]
    return _probe_top_k(assigned, probe, query_vec, k, key_col, vec_col)


def lsh_batch_top_k(
    indexed: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batch ANN: top-k for MANY query vectors in one plan.

    The query table computes its own sign-bucket in-plan with the same
    hyperplanes as ``lsh_index``, explodes its multi-probe neighbor buckets
    (Hamming <= ``multiprobe_hamming`` bit flips), and broadcast-joins the
    indexed table on ``bucket`` — so each query only scans its probe
    buckets, and the scan side never shuffles. The broadcast bound is
    |queries| x probes-per-query. Top-k per query via a
    row_number window partitioned by query (the only shuffle, keyed on
    query_id, proportional to candidate volume not table size).
    """
    from pyspark.sql import Window

    planes = _hyperplanes(dim, n_planes, seed)
    # probe masks for ALL Hamming radii up to the requested one — generated
    # generically so radius >= 3 yields real masks instead of a silent
    # recall clamp (probe count grows as C(n_planes, r); callers pay
    # exactly what they ask for)
    masks = [
        sum(1 << b for b in bits)
        for r in range(multiprobe_hamming + 1)
        for bits in itertools.combinations(range(n_planes), r)
    ]
    probes = queries.withColumn(
        "_qbucket", _sign_bucket(F.col(query_vec_col), planes)
    ).select(
        query_key_col,
        query_vec_col,
        F.explode(
            F.array(*[F.col("_qbucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cand = indexed.join(F.broadcast(probes), "bucket")
    sim = cosine_similarity(F.col(vec_col), F.col(query_vec_col)).alias("cosine")
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("cosine").desc(), F.col(key_col).asc()
    )
    return (
        cand.select(F.col(query_key_col), F.col(key_col), sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_batch_top_k(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batch ANN over the IVF index: each query scores the centroid-literal
    array in-plan, keeps its ``nprobe`` nearest cells (array_sort on
    (dist, cid) structs), and broadcast-joins the assigned table on
    ``centroid_id`` — partition pruning when the table is stored
    partitioned by cell. Broadcast bound is |queries| x nprobe. Top-k
    per query via a query-keyed window."""
    from pyspark.sql import Window

    def probe_cells(qc: Column) -> Column:
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            qc,
                            F.array(*[F.lit(x) for x in c]),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.transform(
            F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cid"]
        )

    probes = queries.select(
        query_key_col,
        query_vec_col,
        F.explode(probe_cells(F.col(query_vec_col))).alias("centroid_id"),
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id")
    sim = cosine_similarity(F.col(vec_col), F.col(query_vec_col)).alias("cosine")
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("cosine").desc(), F.col(key_col).asc()
    )
    return (
        cand.select(F.col(query_key_col), F.col(key_col), sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_batch_top_k(
    indexed: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batch ANN over the IVF-PQ index (X8 x X3) — completes the batch
    matrix next to ``lsh_batch_top_k``/``ivf_batch_top_k``/
    ``pq_batch_top_k``: each query scores the coarse centroids IN-PLAN,
    keeps its ``nprobe`` nearest cells, and computes a PER-CELL ADC table
    on the RESIDUAL query (q minus that cell's centroid) — all with
    higher-order functions over the codebook literals, evaluated only on
    the tiny query table (the literal arrays bind once; the per-row
    expression fold that was codegen-hostile on the MILLION-row side is
    fine on tens of query rows). The exploded (query, cell, adc) table
    broadcast-joins the code table on ``centroid_id`` — partition
    pruning when the codes are stored by cell — and each candidate costs
    m array lookups; per-query top-k via the map-side WindowGroupLimit
    window. The float vectors are never read at query time."""
    from pyspark.sql import Window

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    coarse_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in coarse]
    )
    books_lit = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cent])
                    for cent in codebooks[j]
                ]
            )
            for j in range(m)
        ]
    )
    q = F.col(query_vec_col)

    def _sq_dist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = F.transform(
        coarse_lit,
        lambda c, i: F.struct(_sq_dist(q, c).alias("dist"), i.alias("cid")),
    )
    probes_arr = F.slice(F.array_sort(scored), 1, nprobe)

    def adc_for(cid: Column) -> Column:
        resid = F.zip_with(
            q,
            F.element_at(coarse_lit, cid + 1),
            lambda a, b: a.cast("double") - b,
        )
        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.element_at(books_lit, j + 1),
                lambda cent: _sq_dist(
                    F.slice(resid, j * F.lit(d_sub) + 1, F.lit(d_sub)), cent
                ),
            ),
        )

    probes = queries.select(
        query_key_col,
        F.explode(
            F.transform(
                probes_arr,
                lambda s: F.struct(
                    s["cid"].alias("centroid_id"),
                    adc_for(s["cid"]).alias("_adc"),
                ),
            )
        ).alias("_p"),
    ).select(query_key_col, "_p.centroid_id", "_p._adc")
    cand = indexed.join(F.broadcast(probes), "centroid_id")
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("_adc"), j),
            F.element_at(F.col("pq_code"), j) + 1,
        ),
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("adc_dist").asc(), F.col(key_col).asc()
    )
    return (
        cand.select(F.col(query_key_col), F.col(key_col), dist.alias("adc_dist"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def blocked_cosine_join(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact cosine similarity self-join within blocks: all pairs
    (``key_a < key_b``) sharing ``block_col`` with cosine >= ``threshold``.

    This is the verification kernel of every scalable similarity join: a
    blocking key (here a label; at scale an LSH band bucket or IVF cell —
    see ``lsh_index``/``ivf_index``) partitions the space, and within each
    block the exact O(b^2 d) pair computation runs as one integer matmul.
    Cost is sum(b^2) over blocks, never N^2; the only shuffle is the
    groupBy on the blocking key.

    Determinism: embeddings are quantized to int64 (floor(x * scale + 0.5)
    on float64) so dot products and norms are EXACT integers — summation
    order cannot change them, so a numpy matmul here and a sequential SQL
    fold in an oracle engine agree bit-for-bit. The final
    cosine = double(dot) / sqrt(double(na) * double(nb)) is two correctly-
    rounded IEEE ops from exact integers — also engine-independent.
    Overflow bound: scale^2 * dim * max|x|^2 must stay < 2^63 (1e6 scale,
    unit-ish vectors, dim <= 4096 is safe).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    key_t = df.schema[key_col].dataType.simpleString()
    out_schema = f"id_a {key_t}, id_b {key_t}, cosine double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_key").reset_index(drop=True)
        ids = pdf["_key"].to_numpy()
        M = np.floor(
            _stack_vectors(pdf["_vec"], "blocked_cosine_join") * scale + 0.5
        ).astype(np.int64)
        # ENFORCE the docstring's overflow bound: numpy int64 wraps
        # SILENTLY, so past it every cosine would be wrong with no error.
        # dim * max|q|^2 bounds any Gram element; check in float space
        # (can't itself overflow).
        mx = float(np.abs(M).max()) if M.size else 0.0
        if mx * mx * M.shape[1] >= float(2**63):
            raise ValueError(
                "blocked_cosine_join: quantized magnitudes overflow the "
                f"exact int64 Gram bound (max |q| = {mx:.3g}, dim = "
                f"{M.shape[1]}); lower `scale` or normalize the vectors"
            )
        G = M @ M.T  # exact int64 Gram matrix
        nrm = np.diag(G).astype(np.float64)
        ok = nrm > 0
        denom = np.sqrt(nrm[:, None] * nrm[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G.astype(np.float64) / denom
        i, j = np.triu_indices(len(ids), k=1)
        keep = ok[i] & ok[j] & (C[i, j] >= threshold)
        return pd.DataFrame(
            {"id_a": ids[i[keep]], "id_b": ids[j[keep]], "cosine": C[i[keep], j[keep]]}
        )

    return (
        df.select(
            F.col(block_col).alias("_block"),
            F.col(key_col).alias("_key"),
            F.col(vec_col).alias("_vec"),
        )
        .groupBy("_block")
        .applyInPandas(per_block, schema=out_schema)
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group vector centroid (elementwise mean embedding per label) in
    long format ``(label, pos, centroid)`` — the class-prototype /
    cluster-summary op an embedding pipeline needs (seed centroids for
    IVF, per-source drift monitoring, nearest-class assignment).

    Determinism: components are quantized to int64
    (``floor(x * scale + 0.5)``, the same contract as
    :func:`blocked_cosine_join`) so the per-position sums are EXACT
    integers — summation order can't change them — and the final mean is
    two correctly-rounded IEEE divisions from exact operands, identical
    in any engine.

    Scale shape: ``posexplode`` is map-only; the single shuffle carries
    partial (label, pos) sums — one row per (label, pos, partition),
    never the vectors. Output cardinality is labels x dim.
    """
    q = F.floor(
        F.col("x").cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("long")
    return (
        df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "x"))
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        # count the QUANTIZED component, not the row: a NULL component
        # drops out of sum(q), so a row count would divide a smaller
        # numerator population by a larger n — the silent wrong-mean
        # shape every exact-aggregate in this repo guards against
        .agg(F.sum("q").alias("_sq"), F.count("q").alias("_n"))
        .select(
            "label",
            "pos",
            (
                F.col("_sq").cast("double")
                / F.col("_n").cast("double")
                / F.lit(float(scale))
            ).alias("centroid"),
        )
    )


def assign_to_centroids(
    df: DataFrame,
    centroids_long: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: label every vector with the centroid
    (from :func:`label_centroids` long format) minimizing squared
    euclidean distance — the evaluation op behind cluster purity,
    nearest-class sanity checks, and IVF cell assignment.

    Determinism: the per-row distance is a sequential left fold over the
    zipped (vector, centroid) arrays (``zip_with`` + ``aggregate`` —
    deterministic element order, identical to an oracle's ``list_reduce``
    because ``0.0 + x == x`` exactly); argmin ties break by label via a
    struct min. No order-dependent double summation anywhere.

    Scale shape: ALL centroids collapse to a single one-row array of
    (label, vector) structs, broadcast-cross-joined onto the vector
    table; the argmin is an in-plan ``array_min`` over per-centroid
    distance structs — assignment is strictly map-only, the vector table
    never shuffles and there is no per-vector aggregation at all."""
    carr = (
        centroids_long.groupBy(F.col("label").alias("_clabel"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))).alias("_cs")
        )
        .select(
            "_clabel",
            F.transform("_cs", lambda s: s["centroid"]).alias("_cvec"),
        )
        .agg(F.collect_list(F.struct("_clabel", "_cvec")).alias("_cents"))
    )
    v = F.col(vec_col).cast("array<double>")

    def _dist(c):
        return F.aggregate(
            F.zip_with(v, c["_cvec"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(_dist(c).alias("dist"), c["_clabel"].alias("label")),
        )
    )
    return (
        df.crossJoin(F.broadcast(carr))
        .withColumn("assigned_label", best["label"])
        .drop("_cents")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale path of the ANN family: each
# vector compresses to m small codes (m bytes at 256 centroids/subspace), so
# a 100 TB float corpus becomes a few-TB code table that fits the scan/cache
# budget; queries score codes via a tiny per-query lookup table (ADC) with
# no float vectors read at all. Codebooks train like IVF: bounded
# layout-independent sample, seeded Lloyd per subspace.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 4,
    n_centroids: int = 16,
    seed: int = 7,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
    iterations: int = 3,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` contiguous subspaces
    and run seeded k-means independently in each (subspace j gets seed+j so
    the codebooks differ). Returns ``codebooks[j][c] = centroid vector``
    (m x n_centroids x dim/m floats — kilobytes; ships as plan literals).

    The training collect reuses the IVF cap: bounded at ``max_train_rows``
    driver-side rows regardless of table size, keyed-hash selected so the
    sample is identical under any data layout."""
    sample = _train_sample(df, key_col, vec_col, max_train_rows, seed)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    return [
        [
            list(map(float, c))
            for c in _lloyd(
                sample[:, j * d_sub : (j + 1) * d_sub],
                n_centroids,
                iterations,
                seed + j,
            )
        ]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-centroid codes — map-only, zero
    shuffles at any scale. The argmin over (m x n_centroids) codebook
    entries runs as a vectorized Arrow ``mapInPandas`` kernel (one numpy
    matmul per subspace per batch) — a plan-literal fold over 128 centroid
    arrays is codegen-hostile (25 s just to build/compile the expression
    at toy scale), while the batched kernel is the same shape the simhash
    fingerprinter uses. The codebooks ship inside the serialized closure
    (kilobytes). The encoded table is the persistable PQ index: m small
    ints per row. Deterministic: argmin of exact numpy arithmetic, ties
    broken by lowest code id, independent of batch boundaries."""
    import numpy as np

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    key_type = df.schema[key_col].dataType.simpleString()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _stack_vectors(pdf[vec_col], "pq_encode")
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = vecs[:, j * d_sub : (j + 1) * d_sub]
                b = books[j]
                d2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ b.T
                    + (b**2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "pq_code": [[int(c) for c in row] for row in codes],
                }
            )

    return df.select(key_col, vec_col).mapInPandas(
        kernel, schema=f"{key_col} {key_type}, pq_code array<int>"
    )


def pq_top_k(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    key_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the driver computes the
    tiny per-query distance table d[j][c] = ||q_j - codebook[j][c]||^2
    (m x n_centroids doubles), and each row's approximate distance is m
    array-literal lookups summed — no vector math per row, no shuffle;
    ``orderBy(asc).limit(k)`` compiles to TakeOrderedAndProject."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    adc = None
    for j, book in enumerate(codebooks):
        qj = [float(x) for x in query_vec[j * d_sub : (j + 1) * d_sub]]
        table = [
            sum((q - c) ** 2 for q, c in zip(qj, cent)) for cent in book
        ]
        term = F.element_at(
            F.array(*[F.lit(x) for x in table]),
            F.element_at(F.col("pq_code"), j + 1) + F.lit(1),
        )
        adc = term if adc is None else adc + term
    return (
        encoded.select(F.col(key_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(key_col).asc())
        .limit(k)
    )


def pq_batch_top_k(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    key_col: str = "vec_id",
    query_key_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Batch ANN over PQ codes (X8 x X3): every query's ADC lookup table
    (m x n_centroids distances to the codebook literals) is computed
    IN-PLAN on the query side, the tiny (query, adc) table broadcast-joins
    the code table, and each row costs m array lookups — the scan reads
    only the m-byte codes, never the float vectors. Top-k per query via a
    rank window, which Spark rewrites to a map-side WindowGroupLimit (per
    partition top-k BEFORE the query-keyed shuffle).

    Exhaustive ADC scores EVERY (code, query) pair by definition, so the
    join is a semantic cross product: it runs as a
    BroadcastNestedLoopJoin streaming the code table once. For genuinely
    huge batches route through ``ivfpq_index`` + per-cell probing
    instead — sublinear candidate selection, not a bigger cross
    product."""
    from pyspark.sql import Window

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    # adc[j][c] = ||q_j - codebook[j][c]||^2, computed from literals
    adc = F.array(
        *[
            F.transform(
                F.array(
                    *[
                        F.array(*[F.lit(x) for x in cent])
                        for cent in codebooks[j]
                    ]
                ),
                lambda cent: F.aggregate(
                    F.zip_with(
                        F.slice(F.col(query_vec_col), j * d_sub + 1, d_sub),
                        cent,
                        lambda a, b: (a.cast("double") - b)
                        * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
            for j in range(m)
        ]
    )
    q = F.broadcast(queries.select(F.col(query_key_col), adc.alias("_adc")))
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("_adc"), j),
            F.element_at(F.col("pq_code"), j) + F.lit(1),
        ),
    )
    w = Window.partitionBy(query_key_col).orderBy(
        F.col("adc_dist").asc(), F.col(key_col).asc()
    )
    return (
        encoded.crossJoin(q)
        .select(F.col(query_key_col), F.col(key_col), dist.alias("adc_dist"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfpq_index(
    df: DataFrame,
    n_centroids: int = 16,
    m: int = 4,
    pq_centroids: int = 32,
    seed: int = 42,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
    iterations: int = 3,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """FAISS-style IVF-PQ: a coarse k-means quantizer routes each vector to
    a cell, and the RESIDUAL (vector minus its cell centroid) is
    PQ-encoded — residual encoding spends the codebook's resolution on
    the within-cell distribution instead of the global one, the standard
    recall win over raw-vector PQ. One bounded training collect serves
    both stages (coarse centroids, then per-subspace residual codebooks);
    the full-table pass is a single Arrow ``mapInPandas`` kernel doing
    coarse-assign + residual-encode per batch (map-only, zero shuffles).
    Returns (indexed df with ``centroid_id`` + ``pq_code``, coarse
    centroids, residual codebooks). At scale, persist partitioned by
    ``centroid_id`` — a query then reads nprobe cells' codes only."""
    import numpy as np

    sample = _train_sample(df, key_col, vec_col, max_train_rows, seed)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    coarse = _lloyd(sample, n_centroids, iterations, seed)
    d2 = (
        (sample**2).sum(1)[:, None]
        - 2.0 * sample @ coarse.T
        + (coarse**2).sum(1)[None, :]
    )
    resid = sample - coarse[d2.argmin(1)]
    codebooks = [
        [
            list(map(float, c))
            for c in _lloyd(
                resid[:, j * d_sub : (j + 1) * d_sub],
                pq_centroids,
                iterations,
                seed + 1 + j,
            )
        ]
        for j in range(m)
    ]
    coarse_list = [list(map(float, c)) for c in coarse]
    indexed = ivfpq_assign(df, coarse_list, codebooks, key_col, vec_col)
    return indexed, coarse_list, codebooks


def ivfpq_assign(
    df: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against EXISTING coarse centroids + residual codebooks:
    coarse-assign then residual-PQ-encode, one Arrow ``mapInPandas`` kernel,
    map-only — zero shuffles at any scale. This is both the full-build
    encode pass of :func:`ivfpq_index` and the maintenance path for newly
    ingested vectors (:func:`ivfpq_append`): assignment is a pure per-row
    function of the frozen codebooks (kilobytes, shipped in the closure),
    so append-then-query is EXACTLY rebuild-then-query for the same
    codebooks — the x3_ivfpq_incremental contract asserts that equality."""
    import numpy as np

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    coarse_np = np.asarray(coarse, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    key_type = df.schema[key_col].dataType.simpleString()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _stack_vectors(pdf[vec_col], "ivfpq_assign")
            dd = (
                (vecs**2).sum(1)[:, None]
                - 2.0 * vecs @ coarse_np.T
                + (coarse_np**2).sum(1)[None, :]
            )
            cells = dd.argmin(1)
            res = vecs - coarse_np[cells]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = res[:, j * d_sub : (j + 1) * d_sub]
                b = books[j]
                e2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ b.T
                    + (b**2).sum(1)[None, :]
                )
                codes[:, j] = e2.argmin(1)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "centroid_id": [int(c) for c in cells],
                    "pq_code": [[int(c) for c in row] for row in codes],
                }
            )

    return df.select(key_col, vec_col).mapInPandas(
        kernel,
        schema=f"{key_col} {key_type}, centroid_id int, pq_code array<int>",
    )


def ivfpq_append(
    indexed: DataFrame,
    new_vectors: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF-PQ maintenance — the corpus-refresh path the static
    index lacked (mirrors x1_incremental_dedup's ingest shape for text):
    newly ingested vectors are coarse-assigned + residual-encoded with the
    EXISTING frozen codebooks (map-only, O(batch) work, no retraining, no
    touch of the existing code table) and unioned onto the index. At
    cluster scale the encoded batch is appended to the ``centroid_id``-
    partitioned code table, so queries keep pruning to nprobe cells.
    Deterministic: append-then-query returns exactly what a full re-encode
    with the same codebooks returns (tested as a registered contract).
    Codebook DRIFT (enough appended data that frozen centroids stop
    fitting) is a policy decision — retrain via :func:`ivfpq_index` and
    re-encode when recall SLOs degrade; the contract here is the cheap
    steady-state path between retrains."""
    return indexed.unionByName(
        ivfpq_assign(new_vectors, coarse, codebooks, key_col, vec_col)
    )


def ivfpq_top_k(
    indexed: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ query: probe the ``nprobe`` nearest cells; within each, score
    codes by ADC against the RESIDUAL query (q minus that cell's
    centroid) — so each probed cell gets its own tiny lookup table,
    selected per-row by a CASE over the probed cell ids. The scan reads
    nprobe cells' codes (partition pruning when stored by cell), costs m
    lookups/row, and ends in TakeOrderedAndProject."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    scored = sorted(
        range(len(coarse)),
        key=lambda i: sum(
            (float(q) - c) ** 2 for q, c in zip(query_vec, coarse[i])
        ),
    )
    probe = scored[:nprobe]
    # per-cell ADC tables on the residual query
    tables = {}
    for cell in probe:
        rq = [float(q) - c for q, c in zip(query_vec, coarse[cell])]
        tables[cell] = [
            [
                sum(
                    (q - c) ** 2
                    for q, c in zip(rq[j * d_sub : (j + 1) * d_sub], cent)
                )
                for cent in codebooks[j]
            ]
            for j in range(m)
        ]
    adc = None
    for j in range(m):
        tab = None
        for cell in probe:
            lit = F.array(*[F.lit(x) for x in tables[cell][j]])
            tab = (
                F.when(F.col("centroid_id") == cell, lit)
                if tab is None
                else tab.when(F.col("centroid_id") == cell, lit)
            )
        term = F.element_at(tab, F.element_at(F.col("pq_code"), j + 1) + F.lit(1))
        adc = term if adc is None else adc + term
    return (
        indexed.filter(F.col("centroid_id").isin(probe))
        .select(F.col(key_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(key_col).asc())
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    query_col: str = "query_id",
    key_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 — Maximal Marginal Relevance diversity re-rank: from each
    query's candidate set (already scored with relevance ``rel_col``),
    greedily pick ``k`` items maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)``
    (max over the empty set = 0, so the first pick is the relevance
    argmax; ties break on ascending key). The re-rank stage every
    retrieval pipeline runs between ANN top-N and the consumer —
    diverse few-shot selection, dedup-aware context packing.

    Exactness: candidate pairwise cosines compute IN-PLAN with the
    deterministic left-to-right fold (same contract as
    ``brute_force_top_k``); the Python kernel only compares and combines
    already-computed doubles with one multiply/subtract each — with
    ``lam`` an exactly representable double (0.5 here), every
    intermediate is IEEE-reproducible, so a SQL engine replaying the
    same greedy recursion produces bit-identical scores.

    Plan shape: the N x N pairwise-sim self-join happens per query
    (bounded: N is the re-rank window, never the corpus), then ONE
    Arrow ``applyInPandas`` group per query runs the O(k*N) greedy loop
    — queries parallelize across the cluster, per-query state never
    leaves its task, the corpus is touched only by the upstream
    retrieval that produced the candidates."""
    import pandas as pd

    # per-query candidate array (ONE shuffle on the query key, bounded
    # N x dim payload), then the N x N pairwise-cosine table builds as a
    # nested array transform INSIDE the row — no self-join, so a single-
    # query plan cannot degenerate into a CartesianProduct, and the
    # cosines still use the deterministic fold built-ins
    cs = candidates.groupBy(F.col(query_col).alias("_q")).agg(
        F.collect_list(
            F.struct(
                F.col(key_col).cast("long").alias("k"),
                F.col(rel_col).cast("double").alias("r"),
                F.col(vec_col).alias("v"),
            )
        ).alias("_cs")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("_cs"),
            lambda a: F.transform(
                F.col("_cs"),
                lambda b: F.struct(
                    a["k"].alias("_a"),
                    a["r"].alias("_rel"),
                    b["k"].alias("_b"),
                    cosine_similarity(a["v"], b["v"]).alias("_sim"),
                ),
            ),
        )
    )
    # (a, a) self-rows double as the singleton carrier; the kernel skips
    # them when building the sim table
    full = cs.select("_q", F.explode(pair_arr).alias("_p")).select(
        "_q",
        F.col("_p._a").alias("_a"),
        F.col("_p._rel").alias("_rel"),
        F.col("_p._b").alias("_b"),
        F.col("_p._sim").alias("_sim"),
    )

    out_schema = (
        f"{query_col} long, order_idx int, {key_col} long, mmr_score double"
    )

    def greedy(pdf: pd.DataFrame):
        qid = pdf["_q"].iloc[0]
        rel = {}
        sims = {}
        # column-array access — itertuples mangles leading-underscore names
        for a_, r_, b_, s_ in zip(
            pdf["_a"], pdf["_rel"], pdf["_b"], pdf["_sim"]
        ):
            rel[a_] = r_
            if a_ != b_ and not pd.isna(b_) and not pd.isna(s_):
                sims[(a_, int(b_))] = s_
        remaining = sorted(rel)
        selected: list[int] = []
        rows = []
        for t in range(min(k, len(remaining) + len(selected))):
            best_id, best_score = None, None
            for d in remaining:
                # TRUE max over selected (can be negative on anti-correlated
                # vectors — no clamping at 0, matching SQL MAX semantics);
                # empty selected set -> 0.0 by definition
                vals = [
                    sims[(d, s)] for s in selected if (d, s) in sims
                ]
                ms = max(vals) if vals else 0.0
                score = lam * rel[d] - (1.0 - lam) * ms
                if best_id is None or score > best_score or (
                    score == best_score and d < best_id
                ):
                    best_id, best_score = d, score
            selected.append(best_id)
            remaining.remove(best_id)
            rows.append((qid, t + 1, best_id, best_score))
        return pd.DataFrame(
            rows, columns=[query_col, "order_idx", key_col, "mmr_score"]
        )

    return full.groupBy("_q").applyInPandas(greedy, schema=out_schema)


def streaming_pq_ingest_batch(
    batch_df: DataFrame,
    codebooks: list[list[list[float]]],
    code_store: str,
    batch_id: int,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """m22 per-batch body: ANN index MAINTENANCE under ingest — each
    micro-batch PQ-encodes its vectors against FROZEN codebooks
    (``pq_train`` once, offline or on a corpus sample; the m20 frozen-
    codebook rule — per-batch retraining would make the code store
    internally inconsistent and every prior code undecodable against
    the retrieval-side books) and publishes the m-byte codes to the
    persisted index (streaming/batch_store.py:publish_batch).

    Scale shape: encode is map-only (one numpy matmul per subspace per
    Arrow batch, zero shuffles), the store is append-only and NEVER
    read during ingest — per-epoch cost is O(batch) regardless of
    corpus lifetime (tools/probe_ann_ingest_epochs.py measures it
    flat), and retrieval reads codes only (m bytes/vector). Incremental
    append == full re-encode row-for-row because the encoder is
    deterministic and batch-boundary-independent (pq_encode docstring);
    the m22 registration asserts that equality LOUDLY inside the gate
    run before retrieval."""
    enc = pq_encode(
        batch_df.select(key_col, vec_col), codebooks, key_col, vec_col
    )
    publish_batch(enc, code_store, batch_id)


def kmeans_lloyd(
    vectors: DataFrame,
    k: int,
    iters: int,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means as a DISTRIBUTED, ORACLE-EXACT training loop —
    the iterative-ML capability next to the one-shot codebook samplers
    (``ivf_index``/``pq_train`` train on a bounded driver-side sample;
    this runs real assignment/update iterations over the full table,
    the way corpus-scale clustering actually trains).

    Exactness is BY CONSTRUCTION, not tolerance: vectors quantize once
    to integers (``floor(x*scale + 0.5)``, the x3_label_centroids
    idiom), distances are exact BIGINT sums of squared integer
    differences (|diff| <= 2*scale, squared * dim ~ 2.6e14 — well
    inside int64), the assignment tie-break is the (distance, cid)
    struct-min, and each update RE-QUANTIZES the mean back to integers
    with the sign-safe round-half-up ``floor((2*s + n) / (2*n))`` —
    the division runs in IEEE doubles but both operands are exact
    integers <= ~1e10 and the quotient grid spacing is 1/(2n) >> double
    eps at this magnitude, so the floor is bit-identical on any
    engine. Every iteration is therefore a pure integer-in /
    integer-out function: a fixed iteration count unrolls into plain
    SQL and the whole training trajectory is value-hash-checkable (the
    x3_kmeans_lloyd oracle replays all iterations as staged CTEs).

    Init is the first ``k`` keys' vectors (deterministic, mirrorable);
    a cluster that loses all members keeps its previous centroid
    (COALESCE on both engines). Returns ``(centroids, assignment)``
    after ``iters`` update steps: centroids (cid, c: array<long>),
    assignment (key, cid) — the assignment that PRODUCED the final
    centroids.

    Scale shape: per iteration, one broadcast of k centroids against
    the corpus (map-side distance + struct-min aggregate — the corpus
    never shuffles for assignment), one (k x dim)-key partial agg for
    the update, and a k-row pivot. ``localCheckpoint`` truncates the
    per-iteration lineage (the near_dup_clusters pattern)."""
    q = vectors.select(
        F.col(key_col).cast("long").alias("key"),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long"),
        ).alias("q"),
    ).localCheckpoint()
    cents = (
        q.filter(F.col("key") < k)
        .select(F.col("key").alias("cid"), F.col("q").alias("c"))
        .localCheckpoint()
    )
    assigned = None
    for _ in range(iters):
        dist = F.aggregate(
            F.zip_with("q", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        assigned = (
            q.crossJoin(F.broadcast(cents))
            .select("key", "q", F.struct(dist.alias("d"), "cid").alias("_dc"))
            .groupBy("key")
            .agg(
                F.min("_dc").getField("cid").alias("cid"),
                F.first("q").alias("q"),
            )
            .localCheckpoint()
        )
        upd = (
            assigned.select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cid",
                "pos",
                F.floor(
                    (2 * F.col("s") + F.col("n")) / (2 * F.col("n"))
                )
                .cast("long")
                .alias("cv"),
            )
        )
        new_c = upd.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("c")
        )
        # a cluster that lost every member keeps its previous centroid
        cents = (
            cents.select("cid", F.col("c").alias("_old"))
            .join(new_c, "cid", "left")
            .select("cid", F.coalesce("c", "_old").alias("c"))
            .localCheckpoint()
        )
    return cents, assigned.select("key", "cid")
