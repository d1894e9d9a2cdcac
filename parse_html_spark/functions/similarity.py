"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact cosine top-k (baseline; one pass, no
  shuffle until the final top-k sort which AQE keeps tiny).
- lsh_cosine_topk: random-hyperplane LSH bucketing (scale path) -- at
  1000 executors the bucket join prunes candidates ~2^bits-fold before
  any dot product is computed; hyperplanes are seeded, so buckets are
  deterministic and stable across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import _worker_setup


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k against a constant query vector.
    JVM-side (zip_with/aggregate) -- no Python in the hot path.

    Deliberately NOT fanned out (round-8): at bench scale the
    interpreted-HOF compute is ~0.1 s on one core, and a round-robin
    exchange plus the extra stage costs more than it saves (measured
    0.28 s -> 0.43 s); the float summation order of the Column chain is
    also the oracle-pinned one, so no numpy matmul substitute."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_col(F.col(vec_col), q)
    return (
        df.select(F.col(id_col), F.round(sim, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_per_query(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Top-k per query row: broadcast the (small) query side, window-rank
    the similarities. The corpus side never shuffles its vectors."""
    from pyspark.sql import Window

    joined = df.crossJoin(F.broadcast(queries))
    sim = cosine_col(F.col(vec_col), F.col(q_vec_col))
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        joined.select(
            F.col(q_id_col), F.col(id_col), F.round(sim, 4).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype("float64")


def _batch_matrix(values, dim: int):
    """Stack one Arrow batch of embeddings into a (batch, dim) float64
    matrix. NULL rows become zero vectors (pinned: bucket/cell 0, the
    behavior of the Column chains these matmuls replaced). A row of the
    WRONG length raises a ValueError naming the offending vector --
    otherwise np.stack fails the whole task with an opaque 'all input
    arrays must have the same shape' deep inside the pandas UDF."""
    import numpy as np

    zero = np.zeros(dim)
    rows = []
    for i, v in enumerate(values):
        if v is None:
            rows.append(zero)
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape != (dim,):
            raise ValueError(
                f"embedding length mismatch: expected dim={dim}, got "
                f"{a.shape} at batch row {i}"
            )
        rows.append(a)
    return np.stack(rows)


def lsh_buckets_col(vec_col, planes_stack, bits: int) -> "F.Column":
    """ALL hyperplane sign-bucket ids in ONE Arrow-batched matmul.

    ``planes_stack`` is the (tables*bits, dim) float64 stack of every
    table's hyperplanes; the pandas_udf computes the whole signature set
    per batch as V @ P.T (one BLAS call), packs sign bits per table, and
    returns array<bigint> of per-table bucket ids. This replaces the old
    per-plane `aggregate(zip_with(...))` Column chain: higher-order
    functions are INTERPRETED (no codegen/CSE), so tables=8 x bits=12
    cost 96 interpreted O(dim) dot products per row -- the dominant cost
    at a billion embeddings. One matmul per Arrow batch is ~100x less
    Python/expr overhead and the join side is unchanged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes_stack, dtype=np.float64)
    n_tables = P.shape[0] // bits
    dim = P.shape[1]
    weights = 1 << np.arange(bits, dtype=np.int64)

    def f(s):
        _worker_setup()
        if len(s) == 0:
            return pd.Series([], dtype=object)
        # NULL embedding -> zero vector -> all signs false -> bucket 0,
        # matching the replaced Column chain (null dot > 0 is false)
        V = _batch_matrix(s.values, dim)
        signs = (V @ P.T) > 0  # (batch, tables*bits)
        buckets = signs.reshape(len(s), n_tables, bits).astype(np.int64) @ weights
        return pd.Series(list(buckets))

    return pandas_udf(f, "array<bigint>")(vec_col)


def lsh_bucket_col(vec_col, planes) -> "F.Column":
    """Single-table sign-bit bucket id (one-element lsh_buckets_col)."""
    import numpy as np

    planes = np.asarray(planes, dtype=np.float64)
    return F.element_at(lsh_buckets_col(vec_col, planes, len(planes)), 1)


def _random_centroids(dim: int, n_cells: int, seed: int):
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.randn(n_cells, dim)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def ivf_train_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample: int = 65536,
    iters: int = 20,
) -> "np.ndarray":
    """ONE seeded, deterministic spherical k-means pass over a bounded
    sample: the trained coarse quantizer for ivf_assignments /
    ivf_cosine_topk. Untrained random centroids give unbalanced inverted
    lists and worse recall-per-probe (measured: recall@1-probe 0.32 ->
    0.39 on the sf0.1 embeddings, BENCH/SIMILARITY.md).

    The sample is the ``sample`` rows with the smallest
    (xxhash64(id), id) -- deterministic and independent of partitioning
    / cluster size (Spark executes orderBy+limit as TakeOrdered: a
    per-partition top-k merge, never a full sort materialization), so
    the same corpus always trains the same centroids. Lloyd iterations
    run driver-side in numpy on <= sample x dim float64 (32 MB at the
    default) -- k-means on a bounded sample is the standard IVF recipe
    (FAISS trains on ~256 vectors/cell)."""
    import numpy as np

    rows = (
        df.select(
            F.col(vec_col).alias("_v"),
            F.xxhash64(F.col(id_col)).alias("_h"),
            F.col(id_col).alias("_i"),
        )
        .orderBy("_h", "_i")
        .limit(sample)
        .collect()
    )
    if len(rows) < n_cells:
        raise ValueError(
            f"need >= n_cells={n_cells} sample vectors, got {len(rows)}"
        )
    V = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = V[rng.choice(len(V), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)
        for c in range(n_cells):
            members = V[assign == c]
            if len(members):  # empty cell keeps its old centroid
                C[c] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_train_centroids_distributed(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample: int | None = 65536,
    iters: int = 20,
) -> "np.ndarray":
    """EXECUTOR-SIDE Lloyd iterations: the same seeded spherical
    k-means recipe as ivf_train_centroids, but each iteration's
    assign-and-sum runs as a mapInPandas over the (distributed, cached)
    sample, so ``sample`` scales past driver memory -- or pass
    sample=None to train on the ENTIRE corpus. Only per-cell float64
    partial sums cross to the driver each iteration (one row per cell
    per Arrow batch: n_cells x dim doubles each, KBs total), never the
    vectors; partials are reduced in sorted (cell, batch-key) order so
    the reduction is deterministic for a fixed partition layout.

    Parity with the driver recipe: identical sample membership (same
    (xxhash64(id), id) top-k rule) and identical seeded init (indices
    drawn from the same RandomState stream over the sorted sample), so
    centroids match ivf_train_centroids to float-sum reordering --
    np.allclose at atol=1e-8, pinned in tests. Keep the driver recipe
    as the default (it IS the determinism baseline); switch to this
    when raising ``sample`` past ~10^5 vectors (the driver collect at
    65,536 x 64 is ~32 MB; 10x that should not ride the driver)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    sampled = df.select(
        F.col(vec_col).alias("_v"),
        F.xxhash64(F.col(id_col)).alias("_h"),
        F.col(id_col).alias("_i"),
    )
    if sample is not None:
        # the GlobalLimit lands everything in ONE partition -- spread it
        # back out (hash on _i: membership-deterministic) and sort
        # within partitions so batch composition, and therefore the
        # float-sum order, is identical run to run
        sampled = (
            sampled.orderBy("_h", "_i")
            .limit(sample)
            .repartition(max(df.sparkSession.sparkContext.defaultParallelism, 1), "_i")
            .sortWithinPartitions("_h", "_i")
        )
    sampled = sampled.persist()
    try:
        m = sampled.count()
        if m < n_cells:
            raise ValueError(
                f"need >= n_cells={n_cells} sample vectors, got {m}"
            )
        # seeded init: the SAME RandomState draw as the driver recipe,
        # over the same (h, i)-sorted ordering -- fetch just the chosen
        # rows via row_number instead of collecting the whole sample
        rng = np.random.RandomState(seed)
        # draw order decides which centroid slot each vector fills
        orig = [int(v) for v in rng.choice(m, size=n_cells, replace=False)]
        # fetch the drawn global-rank rows WITHOUT a global Window (an
        # orderBy Window with no partitionBy funnels every vector
        # through ONE task -- exactly the single-node bottleneck this
        # function exists to avoid, fatal on the sample=None whole-
        # corpus path): range-partition on the sort key (a distributed
        # sort), then global rank = partition offset + within-partition
        # row_number. The rank is invariant to where the range
        # boundaries fall, so the sampling inside RangePartitioner
        # cannot perturb determinism.
        P = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        ranked = (
            sampled.repartitionByRange(P, "_h", "_i")
            .withColumn("_pid", F.spark_partition_id())
            .persist()
        )
        try:
            counts = {
                r["_pid"]: r["cnt"]
                for r in ranked.groupBy("_pid")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            offs, acc = {}, 0
            for pid in sorted(counts):
                offs[pid] = acc
                acc += counts[pid]
            off_expr = F.element_at(
                F.create_map(
                    *[F.lit(x) for pid in sorted(offs) for x in (pid, offs[pid])]
                ),
                F.col("_pid"),
            )
            w = Window.partitionBy("_pid").orderBy("_h", "_i")
            init_rows = (
                ranked.withColumn("_rn", F.row_number().over(w) - 1)
                .withColumn("_g", off_expr + F.col("_rn"))
                .filter(F.col("_g").isin(orig))
                .select("_g", "_v")
                .collect()
            )
        finally:
            ranked.unpersist()
        by_rn = {r["_g"]: r["_v"] for r in init_rows}
        C = np.asarray([by_rn[i] for i in orig], dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

        for _ in range(iters):
            Cb = C.copy()

            def partials(batches):
                _worker_setup()
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = _batch_matrix(pdf["_v"].values, Cb.shape[1])
                    V = V / np.maximum(
                        np.linalg.norm(V, axis=1, keepdims=True), 1e-12
                    )
                    assign = np.argmax(V @ Cb.T, axis=1)
                    bkey = str(pdf["_i"].iloc[0])
                    cells, cnts, sums = [], [], []
                    for c in np.unique(assign):
                        members = V[assign == c]
                        cells.append(int(c))
                        cnts.append(len(members))
                        sums.append(members.sum(axis=0).tolist())
                    yield pd.DataFrame(
                        {
                            "cell": pd.array(cells, dtype="int32"),
                            "cnt": pd.array(cnts, dtype="int64"),
                            "vsum": sums,
                            "bkey": bkey,
                        }
                    )

            rows = sampled.mapInPandas(
                partials,
                schema="cell int, cnt long, vsum array<double>, bkey string",
            ).collect()
            rows.sort(key=lambda r: (r["cell"], r["bkey"]))
            sums = np.zeros_like(C)
            cnts = np.zeros(n_cells, dtype=np.int64)
            for r in rows:
                sums[r["cell"]] += np.asarray(r["vsum"], dtype=np.float64)
                cnts[r["cell"]] += r["cnt"]
            nz = cnts > 0
            C[nz] = sums[nz] / cnts[nz, None]  # empty cell keeps centroid
            C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        return C
    finally:
        sampled.unpersist()


def ivf_assignments(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF coarse quantizer: cell = argmax centroid dot product, computed
    for the whole Arrow batch as one V @ C.T matmul + argmax (ties ->
    first max, matching the strict `>` fold it replaces). Centroids are
    ``centroids`` when given (train with ivf_train_centroids), else
    seeded random (deterministic, no training pass). At scale the corpus
    is bucketed once at ingest and queries probe only their cell
    (+ neighbors), cutting scored candidates ~n_cells-fold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if centroids is None:
        centroids = _random_centroids(dim, n_cells, seed)
    C = np.ascontiguousarray(centroids, dtype=np.float64)

    def f(s):
        _worker_setup()
        if len(s) == 0:
            return pd.Series([], dtype="int32")
        # NULL embedding -> zero vector -> argmax of zeros -> cell 0,
        # matching the replaced strict-> fold (null dots never improve)
        V = _batch_matrix(s.values, C.shape[1])
        return pd.Series(np.argmax(V @ C.T, axis=1).astype(np.int32))

    return df.withColumn("_ivf_cell", pandas_udf(f, "int")(F.col(vec_col)))


def ivf_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids=None,
    train: bool = False,
) -> DataFrame:
    """Approximate top-k scoring only the n_probe nearest IVF cells.

    centroids: precomputed quantizer (ivf_train_centroids). train=True
    trains one on ``df`` itself (seeded, deterministic) -- better
    recall-per-probe than the seeded-random default; at scale train
    once and reuse the centroids across queries instead."""
    import numpy as np

    if centroids is None and train:
        centroids = ivf_train_centroids(
            df, len(query_vec), n_cells, vec_col, id_col, seed
        )
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _random_centroids(len(query_vec), n_cells, seed)
    )
    qv = np.asarray(query_vec, dtype="float64")
    probe = np.argsort(-(cents @ qv))[:n_probe].tolist()
    assigned = ivf_assignments(
        df, len(query_vec), n_cells, vec_col, seed, centroids=cents
    )
    cand = assigned.filter(F.col("_ivf_cell").isin([int(c) for c in probe]))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def lsh_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 4,
    n_probe_buckets: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only vectors in the ``n_probe_buckets`` LSH
    buckets nearest the query's bucket (by Hamming distance of the sign
    signatures -- multi-probe LSH) are scored. n_probe_buckets=1 is
    classic single-bucket LSH (~2^bits candidate reduction); probing
    ALL 2^bits buckets makes the operator EXACT by construction (the
    bucketing/probing machinery still runs but prunes nothing), which is
    the oracle-checkable configuration mirroring ivf_cosine_topk's
    all-probe mode."""
    import numpy as np

    planes = _hyperplanes(len(query_vec), bits, seed)
    qb = 0
    qv = np.asarray(query_vec, dtype="float64")
    for i, row in enumerate(planes):
        if float(row @ qv) > 0:
            qb |= 1 << i
    all_buckets = np.arange(1 << bits, dtype=np.int64)
    ham = np.array(
        [bin(int(b) ^ qb).count("1") for b in all_buckets], dtype=np.int64
    )
    # nearest buckets first; ties broken by bucket id for determinism
    order = np.lexsort((all_buckets, ham))
    probe = [int(b) for b in all_buckets[order][: max(1, n_probe_buckets)]]
    bucketed = df.withColumn("_bucket", lsh_bucket_col(F.col(vec_col), planes))
    cand = bucketed.filter(F.col("_bucket").isin(probe))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def _embedding_banded(df, dim, tables, bits, vec_col, id_col, seed):
    """(id, tbl, bucket) rows: one per vector per hyperplane table."""
    import numpy as np

    stack = np.vstack(
        [_hyperplanes(dim, bits, seed + 1000 * t) for t in range(tables)]
    )
    buckets = lsh_buckets_col(F.col(vec_col), stack, bits)
    return df.select(
        F.col(id_col), F.posexplode(buckets).alias("tbl", "bucket")
    )


def embedding_hot_buckets(
    df: DataFrame,
    dim: int,
    tables: int = 8,
    bits: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket: int = 8192,
) -> DataFrame:
    """(tbl, bucket, bucket_n) of the sign buckets lsh_candidate_pairs'
    default cap would drop for this corpus (audit twin; see
    dedup.hot_bucket_report)."""
    from .dedup import hot_bucket_report

    return hot_bucket_report(
        _embedding_banded(df, dim, tables, bits, vec_col, id_col, seed),
        ["tbl", "bucket"],
        max_bucket,
    )


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    tables: int = 8,
    bits: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) colliding in >= 1 of
    ``tables`` independent random-hyperplane sign buckets. The multi-
    table OR drives recall toward 1 for near-identical vectors (a pair
    at angle theta agrees on one table w.p. (1 - theta/pi)^bits and is
    missed by all tables w.p. (1 - (1-theta/pi)^bits)^tables). Shuffles
    only (table, bucket, id) tuples -- never vectors, never all-pairs.

    SCALE GUARD (ON BY DEFAULT): buckets above ``max_bucket`` members
    are dropped before the self-join (a k-member bucket is k^2/2 join
    rows; highly-clustered embeddings can funnel a large corpus
    fraction into one sign bucket). The principled fix for persistent
    hot buckets is more bits per table; the cap bounds the accidental
    quadratic meanwhile. Explicit max_bucket=None disables."""
    from .dedup import _bucket_pairs

    return _bucket_pairs(
        _embedding_banded(df, dim, tables, bits, vec_col, id_col, seed),
        ["tbl", "bucket"],
        id_col,
        max_bucket,
        "lsh_candidate_pairs",
    )


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    tables: int = 8,
    bits: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table hyperplane-LSH
    candidates VERIFIED by exact cosine -- the embedding twin of
    dedup.minhash_near_duplicates (bucket first, verify within buckets,
    never all-pairs). Exact cosine is computed only for candidate pairs
    after two id equi-joins pull their vectors; everything is JVM-side
    Column exprs. Output: (id_a, id_b, cosine >= min_cosine)."""
    pairs = lsh_candidate_pairs(
        df, dim, tables=tables, bits=bits, vec_col=vec_col,
        id_col=id_col, seed=seed, max_bucket=max_bucket,
    )
    t = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    a = t.select(F.col("_vid").alias("id_a"), F.col("_v").alias("_va"))
    b = t.select(F.col("_vid").alias("id_b"), F.col("_v").alias("_vb"))
    cos = F.round(cosine_col(F.col("_va"), F.col("_vb")), 4)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )
