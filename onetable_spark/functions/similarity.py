"""Similarity search over embedding columns (array<float>).

Two paths (SURVEY §2.5 / §7-M6):

- **brute-force cosine top-k** — exact baseline: one projection computing
  the dot product with ``F.zip_with``/``F.aggregate`` (JVM expressions, no
  UDF), then ``TakeOrderedAndProject`` for the top-k (per-partition heaps +
  driver merge — no full sort shuffle).
- **LSH-bucketed (random hyperplanes)** — the 100 TB path: b sign bits
  from fixed pseudo-random hyperplanes form a bucket key; search touches
  only rows whose bucket matches the query (partition-prunable if the
  table is written bucketed/partitioned by ``bucket``). Recall is tunable
  with multiple probe tables (repeat with different seeds).

Embedding-cosine **near-dup pairs** reuse the same hyperplane buckets as
the blocking key for a pairwise join, verified with exact cosine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from onetable_spark.session import local_rows_df


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# --------------------------------------------------------------- LSH path


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy needed on
    executors; generated driver-side, shipped as literals)."""
    state = seed & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            # Box-Muller-free symmetric float in [-1, 1)
            row.append(state / 2**30 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from fixed hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec_col, p) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def ann_lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket(s).

    At scale the bucket column is precomputed at write time and the table
    partitioned by it → the filter prunes partitions and the scan touches
    ~probes/2^bits of the data.

    ``probes`` > 1 enables multi-probe LSH (Lv et al., VLDB'07): a true
    neighbor whose vector sits close to a separating hyperplane lands in a
    bucket differing in that low-|margin| bit, so additional probe buckets
    are generated by flipping the smallest-margin bits first. Recall rises
    with ``probes`` while the scan stays a partition-prunable IN-filter."""
    planes = _hyperplanes(len(query), bits, seed)
    margins = [sum(a * b for a, b in zip(query, plane)) for plane in planes]
    qbucket = sum(2**i for i, m in enumerate(margins) if m >= 0)
    # enumerate probe buckets in increasing "total flipped margin" order
    from itertools import combinations

    flip_order = sorted(range(bits), key=lambda i: abs(margins[i]))
    candidates: list[tuple[float, int]] = [(0.0, qbucket)]
    for r in range(1, bits + 1):
        if len(candidates) >= probes:
            break
        for subset in combinations(flip_order, r):
            cost = sum(abs(margins[i]) for i in subset)
            b = qbucket
            for i in subset:
                b ^= 2**i
            candidates.append((cost, b))
    buckets = [b for _, b in sorted(candidates)[:probes]]
    q = F.array(*[F.lit(float(x)) for x in query])
    bucketed = df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("bucket").isin(buckets))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold), LSH-blocked.

    Bucket collision is the blocking key; exact cosine verifies. High
    thresholds ⇒ near-identical sign patterns ⇒ high recall per table."""
    planes = _hyperplanes(dim, bits, seed)
    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pair_cos = F.round(cosine(F.col("a.v"), F.col("b.v")), 4)
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            pair_cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _bounded_unit_training_matrix(
    df: DataFrame, vec_col: str, sample_fraction: float | None, max_train_rows: int
):
    """Deterministic bounded training sample shared by the IVF coarse
    quantizer and the PQ codebooks: the ``take`` lowest xxhash64(vector)
    rows — partition-layout-INDEPENDENT (a Bernoulli sample() evaluates
    its RNG per partition, so the selected SET would change with split
    packing and break the determinism contract the driver-gate booleans
    rely on) — unit-normalized and lexsorted so downstream k-means is a
    pure function of the sample SET, identical on any cluster shape."""
    import numpy as np

    n = df.count()
    if sample_fraction is not None:
        take = min(n, max(1, int(n * sample_fraction)))
    else:
        take = min(n, max_train_rows)
    if take >= n:
        sample = df.select(vec_col)
    else:
        sample = (
            df.select(vec_col)
            .withColumn("_k", F.xxhash64(F.col(vec_col)))
            .orderBy("_k", vec_col)
            .limit(take)
            .drop("_k")
        )
    # TRAINING samples a capped subset; assignment/encoding of the full
    # corpus stays distributed
    # driver-ok: bounded by max_train_rows
    mat = np.array([r[0] for r in sample.collect()], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat[np.lexsort(mat.T[::-1])]


def ivf_build_centroids(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    iters: int = 10,
    seed: int = 42,
    max_train_rows: int | None = None,
):
    """IVF coarse quantizer: k-means centroids trained on a BOUNDED sample
    of the embedding column — Lloyd's iterations in numpy.

    The training collect is capped regardless of corpus size: the default
    cap is ``256 * n_clusters`` (the FAISS training rule — more vectors
    stop improving the coarse quantizer; floor 4096 so tiny cluster counts
    still see a stable sample), so a 100 TB corpus trains on a driver-sized
    sample while assignment of the full corpus stays distributed. Pass
    ``max_train_rows`` or an explicit ``sample_fraction`` to override."""
    import numpy as np

    if max_train_rows is None:
        max_train_rows = max(256 * n_clusters, 4096)
    mat = _bounded_unit_training_matrix(df, vec_col, sample_fraction, max_train_rows)
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_clusters, len(mat)), replace=False)]
    for _ in range(iters):
        assign = (mat @ centroids.T).argmax(axis=1)  # cosine on unit vectors
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / np.linalg.norm(m)
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
) -> DataFrame:
    """Distributed cluster assignment: one numpy GEMM per Arrow batch
    against the broadcast centroid matrix → (id, cluster, v).

    ``n_assign`` > 1 emits each row under its top-n nearest clusters
    (multi-assignment — the write-side dual of read-side multi-probe):
    replication ×n buys recall for boundary-straddling pairs in
    within-cluster searches like :func:`semdedup_pairs`."""
    import numpy as np
    import pandas as pd

    b_cent = df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def worker(batches):
        cent = b_cent.value
        n_top = min(n_assign, len(cent))
        for pdf in batches:
            q = np.array(list(pdf["v"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ cent.T
            if n_top == 1:
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "cluster": sims.argmax(axis=1).astype(np.int32),
                        "v": pdf["v"],
                    }
                )
            else:
                top = np.argpartition(-sims, n_top - 1, axis=1)[:, :n_top]
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf["id"].to_numpy(), n_top),
                        "cluster": top.ravel().astype(np.int32),
                        "v": [v for v in pdf["v"] for _ in range(n_top)],
                    }
                )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return base.mapInPandas(worker, "id long, cluster int, v array<float>")


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` clusters nearest
    the query (~n_probe/n_clusters of the corpus scanned).

    At scale the assignment is precomputed at write time and the table is
    partitioned by ``cluster`` — the IN-list filter then prunes partitions
    and the scan touches only the probed slices; recall is tuned with
    n_probe. The exact twin is ``cosine_topk``."""
    import numpy as np

    if centroids is None:
        centroids = ivf_build_centroids(df, n_clusters, vec_col)
    q = np.asarray(query, dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = np.argsort(-(centroids @ q))[:n_probe].tolist()
    # assignment + probe filter FUSED in one Arrow pass (r15): rows
    # outside the probed clusters drop inside the worker, so only
    # ~n_probe/n_clusters of the vectors are serialized back to the JVM
    # (the shape the write-time-partitioned deployment gets from
    # partition pruning). The output cosine stays the JVM expression so
    # its 4-decimal rounding is bit-identical to the exact twin's.
    import pandas as pd

    b = df.sparkSession.sparkContext.broadcast(
        (np.asarray(centroids, dtype=np.float64), np.asarray(probe))
    )

    def assign_probe(batches):
        cents, prb = b.value
        for pdf in batches:
            if not len(pdf):
                continue  # np.array([]) would be 1-D and break axis=1
            x = np.array(list(pdf["v"]), dtype=np.float64)
            # zero-norm guard (ADVICE r15): a zero vector must assign to
            # SOME cluster rather than go NaN and silently vanish
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            x /= norms
            keep = np.isin((x @ cents.T).argmax(axis=1), prb)
            yield pd.DataFrame({"id": pdf["id"][keep], "v": pdf["v"][keep]})

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    probed = base.mapInPandas(assign_probe, "id long, v array<float>")
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        probed.select(
            F.col("id").alias(id_col),
            F.round(cosine(F.col("v"), qcol), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def pq_train_codebooks(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 7,
    sample_fraction: float | None = None,
    max_train_rows: int | None = None,
):
    """Product-quantization codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): split the D unit-normalized
    dims into ``m`` contiguous subspaces and run an independent k-means
    (``n_codes`` centroids, Lloyd's in numpy) in each, on the same bounded
    deterministic sample the IVF quantizer trains on.

    Returns an ``(m, n_codes, D/m)`` float array. At 100 TB this is the
    memory-scale path: a 64-dim float32 vector (256 B) compresses to m=8
    one-byte codes — 32x — and the ADC scan below touches ONLY the codes.
    """
    import numpy as np

    if max_train_rows is None:
        max_train_rows = max(256 * n_codes, 4096)
    mat = _bounded_unit_training_matrix(df, vec_col, sample_fraction, max_train_rows)
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, n_codes, sub))
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        k = min(n_codes, len(x))
        cents = x[rng.choice(len(x), size=k, replace=False)]
        for _ in range(iters):
            # L2 assignment: argmin ||x - c||^2 = argmax (2 x.c - ||c||^2)
            assign = (2 * x @ cents.T - (cents**2).sum(axis=1)).argmax(axis=1)
            for c in range(k):
                members = x[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, :k] = cents
        if k < n_codes:  # degenerate tiny sample: repeat last centroid
            books[j, k:] = cents[-1]
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed PQ encoding: per Arrow batch, one numpy distance GEMM
    per subspace against the broadcast codebooks → (id, codes array<int>).
    The codes table is what a production deployment PERSISTS (32x smaller
    than the vectors); everything else reads it."""
    import numpy as np
    import pandas as pd

    b_books = df.sparkSession.sparkContext.broadcast(
        np.asarray(codebooks, dtype=np.float64)
    )

    def worker(batches):
        books = b_books.value
        m, _, sub = books.shape
        for pdf in batches:
            q = np.array(list(pdf["v"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            codes = np.empty((len(q), m), dtype=np.int32)
            for j in range(m):
                x = q[:, j * sub : (j + 1) * sub]
                cents = books[j]
                codes[:, j] = (2 * x @ cents.T - (cents**2).sum(axis=1)).argmax(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return base.mapInPandas(worker, "id long, codes array<int>")


def pq_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks=None,
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation (ADC) +
    exact rerank — the standard two-stage retrieval:

    1. driver builds the tiny (m x n_codes) inner-product lookup table
       <q_j, c_{j,code}> and broadcasts it;
    2. the distributed scan touches ONLY the codes table: approximate
       score per row = m table lookups summed (vectorized numpy take);
    3. the top ``rerank`` candidates by approximate score join back to
       their full vectors (broadcast semi-join, ``rerank`` rows) for an
       exact cosine rerank, then top-k.

    At 100 TB stage 2 reads 8 bytes/vector instead of 256 and stage 3
    reads ``rerank`` vectors total — recall is tuned with ``rerank`` the
    way IVF tunes n_probe. Exact twin: ``cosine_topk``."""
    import numpy as np

    if codebooks is None:
        codebooks = pq_train_codebooks(df, m=m, n_codes=n_codes, vec_col=vec_col)
    books = np.asarray(codebooks, dtype=np.float64)
    m_, _, sub = books.shape
    q = np.asarray(query, dtype=np.float64)
    q /= np.linalg.norm(q)
    table = np.stack(
        [books[j] @ q[j * sub : (j + 1) * sub] for j in range(m_)]
    )  # (m, n_codes) inner products
    spark = df.sparkSession
    b_enc = spark.sparkContext.broadcast((books, table))

    def encode_score(batches):
        """Encode + ADC-score FUSED in one Arrow pass (r15): the codes
        frame never crosses the Python boundary twice — at scale the
        persisted-codes path (``ivfpq_topk_from_codes``) is the two-stage
        form; the on-the-fly form has no reason to materialize codes."""
        import pandas as pd

        bks, t = b_enc.value
        m, _, sub = bks.shape
        for pdf in batches:
            q_ = np.array(list(pdf["v"]), dtype=np.float64)
            q_ /= np.linalg.norm(q_, axis=1, keepdims=True)
            approx = np.zeros(len(q_))
            for j in range(m):
                x = q_[:, j * sub : (j + 1) * sub]
                cents = bks[j]
                codes_j = (2 * x @ cents.T - (cents**2).sum(axis=1)).argmax(axis=1)
                approx += t[j, codes_j]
            yield pd.DataFrame({"id": pdf["id"], "approx": approx})

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    candidates = (
        base.mapInPandas(encode_score, "id long, approx double")
        .orderBy(F.desc("approx"), F.asc("id"))
        .limit(rerank)
        .select("id")
    )
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.join(F.broadcast(candidates), df[id_col] == candidates["id"], "left_semi")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qcol), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_train(
    df: DataFrame,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 7,
):
    """IVF-PQ training (Jégou et al. 2011 §IVFADC — the canonical
    billion-scale layout): a coarse k-means quantizer plus PQ codebooks
    trained on RESIDUALS (x − nearest centroid). Residual encoding is the
    part plain PQ lacks: after subtracting the coarse centroid the
    remaining energy is small and locally isotropic, so the same code
    budget quantizes it far more precisely. Returns (centroids,
    codebooks); both train on the shared bounded deterministic sample."""
    import numpy as np

    centroids = ivf_build_centroids(df, n_clusters, vec_col, seed=seed, iters=iters)
    mat = _bounded_unit_training_matrix(
        df, vec_col, None, max(256 * n_codes, 4096)
    )
    assign = (mat @ centroids.T).argmax(axis=1)
    residuals = mat - centroids[assign]
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, n_codes, sub))
    for j in range(m):
        x = residuals[:, j * sub : (j + 1) * sub]
        k = min(n_codes, len(x))
        cents = x[rng.choice(len(x), size=k, replace=False)]
        for _ in range(iters):
            a = (2 * x @ cents.T - (cents**2).sum(axis=1)).argmax(axis=1)
            for c in range(k):
                members = x[a == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, :k] = cents
        if k < n_codes:
            books[j, k:] = cents[-1]
    return centroids, books


def ivfpq_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index=None,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """IVF-PQ approximate top-k (IVFADC): probe the ``n_probe`` nearest
    coarse clusters, score their members by asymmetric distance on the
    RESIDUAL codes, rerank the top candidates exactly.

    Everything heavy is one Arrow-batched pass: per batch, rows outside
    the probed clusters drop immediately; survivors encode their residual
    per subspace and sum the per-cluster lookup table <q − c, book_j,code>
    (the table is (n_probe, m, n_codes) — tiny, broadcast). At scale the
    corpus is stored pre-assigned and pre-encoded partitioned by cluster,
    so the probe filter is partition pruning and the scan reads m bytes a
    row; here assignment+encoding fuse into the same pass the way the
    other probabilistic queries build their session indexes. Exact twin:
    ``cosine_topk``."""
    import numpy as np

    if index is None:
        index = ivfpq_train(df, n_clusters=n_clusters, m=m, n_codes=n_codes, vec_col=vec_col)
    centroids, books = index
    centroids = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(books, dtype=np.float64)
    m_, n_codes_, sub = books.shape
    q = np.asarray(query, dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = np.argsort(-(centroids @ q))[:n_probe]
    # per probed cluster: constant term <q, c> plus the residual ADC table
    # on (q − c) — score(x) ≈ <q, c> + Σ_j table[cluster][j][code_j]
    const = centroids[probe] @ q
    resid_q = q - centroids[probe]  # (n_probe, D)
    tables = np.stack(
        [
            np.stack([books[j] @ rq[j * sub : (j + 1) * sub] for j in range(m_)])
            for rq in resid_q
        ]
    )  # (n_probe, m, n_codes)
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((centroids, books, probe, const, tables))

    def score(batches):
        import pandas as pd

        cents, bks, prb, cst, tbl = b.value
        prb_pos = {c: i for i, c in enumerate(prb)}
        mm, _, ss = bks.shape
        for pdf in batches:
            x = np.array(list(pdf["v"]), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            assign = (x @ cents.T).argmax(axis=1)
            keep = np.isin(assign, prb)
            if not keep.any():
                yield pd.DataFrame({"id": pdf["id"][:0], "approx": np.zeros(0)})
                continue
            xs, ids = x[keep], pdf["id"].to_numpy()[keep]
            pos = np.array([prb_pos[c] for c in assign[keep]])
            resid = xs - cents[assign[keep]]
            approx = cst[pos].copy()
            for j in range(mm):
                r = resid[:, j * ss : (j + 1) * ss]
                bj = bks[j]
                codes = (2 * r @ bj.T - (bj**2).sum(axis=1)).argmax(axis=1)
                approx += tbl[pos, j, codes]
            yield pd.DataFrame({"id": ids, "approx": approx})

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    candidates = (
        base.mapInPandas(score, "id long, approx double")
        .orderBy(F.desc("approx"), F.asc("id"))
        .limit(rerank)
        .select("id")
    )
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.join(F.broadcast(candidates), df[id_col] == candidates["id"], "left_semi")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qcol), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_encode_codes(
    df: DataFrame,
    index,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The persisted IVFADC artifact: ``(cluster int, id long, codes
    binary)`` — coarse assignment + m-byte residual PQ codes per vector.
    Written ``partitionBy("cluster")``, this is the table a production
    deployment stores instead of re-encoding per query (similarity.py
    ivfpq_topk's docstring promise, made literal by
    ``ivfpq_topk_from_codes``): ~m bytes a row, 32x+ smaller than the
    embeddings, and the probe step becomes partition pruning."""
    import numpy as np
    import pandas as pd

    centroids, books = index
    b = df.sparkSession.sparkContext.broadcast(
        (np.asarray(centroids, dtype=np.float64), np.asarray(books, dtype=np.float64))
    )

    def worker(batches):
        cents, bks = b.value
        m, n_codes, sub = bks.shape
        if n_codes > 256:
            raise ValueError("binary codes hold one byte per subspace (n_codes <= 256)")
        for pdf in batches:
            x = np.array(list(pdf["v"]), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            assign = (x @ cents.T).argmax(axis=1)
            resid = x - cents[assign]
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j in range(m):
                r = resid[:, j * sub : (j + 1) * sub]
                bj = bks[j]
                codes[:, j] = (2 * r @ bj.T - (bj**2).sum(axis=1)).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "cluster": assign.astype(np.int32),
                    "id": pdf["id"],
                    "codes": [c.tobytes() for c in codes],
                }
            )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return base.mapInPandas(worker, "cluster int, id long, codes binary")


def ivfpq_topk_from_codes(
    codes_df: DataFrame,
    emb_df: DataFrame,
    query: list[float],
    index,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC search over a PERSISTED codes table (``ivfpq_encode_codes``
    output read back, e.g. ``spark.read.parquet(codes_path)`` on a
    hive-partitioned layout). The probe is a plain
    ``cluster IN (probed...)`` predicate — on a cluster-partitioned table
    Catalyst turns it into PARTITION PRUNING (PartitionFilters on the
    scan), so the scan never opens the other ``n_clusters - n_probe``
    partitions; the ADC pass reads m bytes a row and never touches an
    embedding. Only the exact rerank of ``rerank`` candidates joins back
    to the vectors."""
    import numpy as np

    centroids, books = index
    centroids = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(books, dtype=np.float64)
    m_, n_codes_, sub = books.shape
    q = np.asarray(query, dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = np.argsort(-(centroids @ q))[:n_probe]
    const = centroids[probe] @ q
    resid_q = q - centroids[probe]
    tables = np.stack(
        [
            np.stack([books[j] @ rq[j * sub : (j + 1) * sub] for j in range(m_)])
            for rq in resid_q
        ]
    )
    b = codes_df.sparkSession.sparkContext.broadcast(
        ({int(c): i for i, c in enumerate(probe)}, const, tables)
    )

    def score(batches):
        import pandas as pd

        prb_pos, cst, tbl = b.value
        _, mm, _ = tbl.shape
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"id": pdf["id"], "approx": np.zeros(0)})
                continue
            pos = pdf["cluster"].map(prb_pos).to_numpy()
            codes = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.uint8
            ).reshape(len(pdf), mm)
            approx = cst[pos].copy()
            for j in range(mm):
                approx += tbl[pos, j, codes[:, j]]
            yield pd.DataFrame({"id": pdf["id"], "approx": approx})

    # the IN-list probe — partition pruning on a cluster-partitioned table
    probed = codes_df.where(F.col("cluster").isin([int(c) for c in probe]))
    candidates = (
        probed.mapInPandas(score, "id long, approx double")
        .orderBy(F.desc("approx"), F.asc("id"))
        .limit(rerank)
        .select("id")
    )
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        emb_df.join(F.broadcast(candidates), emb_df[id_col] == candidates["id"], "left_semi")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qcol), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def brute_force_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold as a checkerboard block join —
    NOTHING is collected to the driver.

    Rows hash into ``n_blocks`` blocks; every unordered block pair
    (bi ≤ bj) becomes one task's work unit. Each row is replicated to the
    ``n_blocks`` pairs its block participates in (an O(√P)-replication
    all-pairs scheme), a tiny (block_a, block_b) table is broadcast for
    the fan-out join, and one numpy GEMM per group scores the cross
    product. Per-task memory is O((N/n_blocks)·dim + (N/n_blocks)²) and
    scales down as n_blocks grows — at 100 TB raise n_blocks so a block
    fits an executor; the driver only ever sees the above-threshold pairs.
    Dot products accumulate in float64; results round to 4 decimals like
    the SQL twin.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))).cast("int").alias("block"),
    )
    combos = local_rows_df(
        spark,
        [(i * n_blocks + j, i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "combo int, block_a int, block_b int",
    )
    side_a = base.join(F.broadcast(combos), base.block == combos.block_a).select(
        "combo", F.lit(0).alias("side"), "id", "v"
    )
    side_b = base.join(
        F.broadcast(combos),
        (base.block == combos.block_b) & (combos.block_a != combos.block_b),
    ).select("combo", F.lit(1).alias("side"), "id", "v")
    tagged = side_a.unionByName(side_b)

    out_schema = "id_a long, id_b long, cos_sim double"

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty:  # block_a had no rows — nothing to pair against
            return empty
        a_ids = left["id"].to_numpy(dtype=np.int64)
        a = np.array(list(left["v"]), dtype=np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        if right.empty:  # diagonal block: self-pairs, upper triangle
            b_ids, b = a_ids, a
        else:
            b_ids = right["id"].to_numpy(dtype=np.int64)
            b = np.array(list(right["v"]), dtype=np.float64)
            b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = np.round(a @ b.T, 4)
        li, ri = np.nonzero(sims >= threshold)
        ia, ib = a_ids[li], b_ids[ri]
        # diagonal: upper triangle only (kills self-hits + symmetric dups);
        # cross blocks: every hit is a distinct unordered pair — keep all
        keep = ia < ib if right.empty else np.ones(len(ia), dtype=bool)
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib)[keep],
                "id_b": np.maximum(ia, ib)[keep],
                "cos_sim": sims[li, ri][keep],
            }
        )

    return tagged.groupBy("combo").applyInPandas(gemm, out_schema)


def knn_topk_neighbors(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs k-nearest-neighbors by cosine — the join a kNN
    classifier / retrieval-eval pipeline needs — via the same checkerboard
    block scheme as :func:`brute_force_near_dup_pairs` (O(√P) replication,
    per-task GEMM, nothing on the driver).

    Each block-pair task emits, for every row on EITHER side, its local
    top-k from the other side (diagonal blocks mask the self-match);
    because the local selection uses the same total order as the final
    ranking (rounded cosine desc, neighbor id asc), the global top-k per
    row is a subset of the ≤ n_blocks·k surviving candidates, selected
    with one cheap window over id. Per-task memory is O((N/n_blocks)·dim
    + (N/n_blocks)²) — raise n_blocks at scale, never the driver.

    Returns exactly k rows per id: (id, own label, neighbor id, neighbor
    label, cos_sim rounded to 4), carrying both labels through the GEMM so
    the classifier vote needs no join back to the corpus.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("int").alias("lbl"),
        F.col(vec_col).alias("v"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))).cast("int").alias("block"),
    )
    combos = local_rows_df(
        spark,
        [(i * n_blocks + j, i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "combo int, block_a int, block_b int",
    )
    side_a = base.join(F.broadcast(combos), base.block == combos.block_a).select(
        "combo", F.lit(0).alias("side"), "id", "lbl", "v"
    )
    side_b = base.join(
        F.broadcast(combos),
        (base.block == combos.block_b) & (combos.block_a != combos.block_b),
    ).select("combo", F.lit(1).alias("side"), "id", "lbl", "v")
    tagged = side_a.unionByName(side_b)

    out_schema = "id long, id_label int, nbr_id long, nbr_label int, cos_sim double"
    empty = pd.DataFrame(
        {"id": [], "id_label": [], "nbr_id": [], "nbr_label": [], "cos_sim": []}
    )

    def _local_topk(ids, lbls, sims, nbr_ids, nbr_lbls, out):
        # per row: the k best columns under (cos desc, nbr_id asc) — the
        # same total order the global window uses, so local pruning is
        # lossless. Only the SET matters (the window re-sorts), so one
        # vectorized argpartition over an integer composite key — (rounded
        # cos, neighbor-id rank) packed so no two columns tie — replaces a
        # per-row Python sort.
        m = sims.shape[1]
        kk = min(k, m)
        pos_of = np.empty(m, dtype=np.int64)
        pos_of[np.argsort(nbr_ids, kind="stable")] = np.arange(m)
        key = (-np.rint(sims * 10000).astype(np.int64)) * m + pos_of[None, :]
        if kk < m:
            idx = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        else:
            idx = np.broadcast_to(np.arange(m), (sims.shape[0], m))
        rows = np.repeat(np.arange(sims.shape[0]), kk)
        cols = idx.ravel()
        cs = sims[rows, cols]
        keep = cs > -1.5  # drop masked self-matches
        out["id"].append(np.repeat(ids, kk)[keep])
        out["id_label"].append(np.repeat(lbls, kk)[keep])
        out["nbr_id"].append(nbr_ids[cols[keep]])
        out["nbr_label"].append(nbr_lbls[cols[keep]])
        out["cos_sim"].append(cs[keep])

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty:
            return empty
        a_ids = left["id"].to_numpy(dtype=np.int64)
        a_lbl = left["lbl"].to_numpy(dtype=np.int32)
        a = np.array(list(left["v"]), dtype=np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        out = {"id": [], "id_label": [], "nbr_id": [], "nbr_label": [], "cos_sim": []}
        if right.empty:  # diagonal block: neighbors within the block
            sims = np.round(a @ a.T, 4)
            np.fill_diagonal(sims, -2.0)
            _local_topk(a_ids, a_lbl, sims, a_ids, a_lbl, out)
        else:  # cross block: both directions get candidates
            b_ids = right["id"].to_numpy(dtype=np.int64)
            b_lbl = right["lbl"].to_numpy(dtype=np.int32)
            b = np.array(list(right["v"]), dtype=np.float64)
            b /= np.linalg.norm(b, axis=1, keepdims=True)
            sims = np.round(a @ b.T, 4)
            _local_topk(a_ids, a_lbl, sims, b_ids, b_lbl, out)
            _local_topk(b_ids, b_lbl, sims.T, a_ids, a_lbl, out)
        return pd.DataFrame({c: np.concatenate(v) if v else np.array([]) for c, v in out.items()})

    from pyspark.sql.window import Window

    cand = tagged.groupBy("combo").applyInPandas(gemm, out_schema)
    w = Window.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def label_centroids(df: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label centroid vectors as a SMALL (n_labels × dim) table.

    Plan: posexplode the vector dimensions and groupBy (label, pos) —
    partial (map-side) aggregation collapses each partition to n_labels·dim
    running sums before the exchange, so the shuffle carries
    O(partitions · labels · dim) rows no matter how many vectors feed it —
    the distributed-mean pattern that survives 100 TB. The result is
    reassembled into one array row per label (sort by pos, project value).
    """
    expl = df.select(
        F.col(label_col).cast("int").alias("lbl"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    rows = expl.groupBy("lbl", "pos").agg(F.avg("val").alias("cval"))
    return (
        rows.groupBy("lbl")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select("lbl", F.transform("pc", lambda s: s["cval"]).alias("centroid"))
    )


def centroid_similarity(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-cohesion report: each vector's cosine to its own label's
    centroid, aggregated per label — the compactness diagnostic a
    semantic-dedup / embedding-quality pipeline runs before trusting the
    clusters. Two scans: one tiny distributed-mean (see
    :func:`label_centroids`), then a broadcast join of the (labels × dim)
    centroid table back onto the corpus with the cosine as a pure Column
    expression — no shuffle of the vectors themselves."""
    cent = label_centroids(df, vec_col, label_col)
    scored = (
        df.select(
            F.col(label_col).cast("int").alias("lbl"),
            F.col(vec_col).alias("v"),
        )
        .join(F.broadcast(cent), "lbl")
        .select("lbl", cosine(F.col("v"), F.col("centroid")).alias("cs"))
    )
    return scored.groupBy(F.col("lbl").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cs"), 4).alias("avg_cos"),
        F.round(F.min("cs"), 4).alias("min_cos"),
    )


def semdedup_pairs(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 4,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): k-means
    cluster the embeddings (bounded driver-side training sample — see
    :func:`ivf_build_centroids`), then search for cosine ≥ threshold pairs
    ONLY within each cluster. The corpus-scale all-pairs problem becomes
    n_clusters independent problems of ~N/n_clusters rows — the search
    cost drops by ~n_clusters/n_assign²× versus
    :func:`brute_force_near_dup_pairs` at a recall cost only for pairs
    straddling every shared cluster (probabilistic by design, like
    MinHash/SimHash; recall is pinned in tests with the fixed seed).
    ``n_assign`` places each vector in its top-n clusters so boundary
    pairs still co-locate somewhere (multi-assignment); the final distinct
    collapses pairs found in more than one shared cluster.

    Skew-safe: within each cluster the pair generation still runs the
    checkerboard block scheme keyed on (cluster, block-combo), so one hot
    cluster never becomes one hot task — per-task memory stays
    O((m/n_blocks)·dim + (m/n_blocks)²) for a cluster of m rows."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    centroids = ivf_build_centroids(df, n_clusters, vec_col)
    assigned = ivf_assign(df, centroids, vec_col, id_col, n_assign=n_assign).withColumn(
        "block", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    combos = local_rows_df(
        spark,
        [(i * n_blocks + j, i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "combo int, block_a int, block_b int",
    )
    side_a = assigned.join(F.broadcast(combos), assigned.block == combos.block_a).select(
        "cluster", "combo", F.lit(0).alias("side"), "id", "v"
    )
    side_b = assigned.join(
        F.broadcast(combos),
        (assigned.block == combos.block_b) & (combos.block_a != combos.block_b),
    ).select("cluster", "combo", F.lit(1).alias("side"), "id", "v")
    tagged = side_a.unionByName(side_b)

    out_schema = "cluster int, id_a long, id_b long, cos_sim double"
    empty = pd.DataFrame({"cluster": [], "id_a": [], "id_b": [], "cos_sim": []})

    def gemm(key, pdf):
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty:
            return empty
        a_ids = left["id"].to_numpy(dtype=np.int64)
        a = np.array(list(left["v"]), dtype=np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        if right.empty:
            b_ids, b = a_ids, a
        else:
            b_ids = right["id"].to_numpy(dtype=np.int64)
            b = np.array(list(right["v"]), dtype=np.float64)
            b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = np.round(a @ b.T, 4)
        li, ri = np.nonzero(sims >= threshold)
        ia, ib = a_ids[li], b_ids[ri]
        keep = ia < ib if right.empty else np.ones(len(ia), dtype=bool)
        return pd.DataFrame(
            {
                "cluster": np.full(int(keep.sum()), key[0], dtype=np.int32),
                "id_a": np.minimum(ia, ib)[keep],
                "id_b": np.maximum(ia, ib)[keep],
                "cos_sim": sims[li, ri][keep],
            }
        )

    pairs = tagged.groupBy("cluster", "combo").applyInPandas(gemm, out_schema)
    # multi-assignment can rediscover a pair in every shared cluster — and a
    # replicated id can even meet itself across its own copies; collapse both
    return (
        pairs.filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "cos_sim")
        .distinct()
    )


def pair_recall_stats(
    exact: DataFrame, approx: DataFrame, keys: tuple[str, str] = ("id_a", "id_b")
) -> DataFrame:
    """No-silent-caps counter for any approximate pair search against its
    exact ground truth: one row ``(n_exact, n_found, n_missed)``.
    ``n_missed`` is the pair-level work the approximation's bounds
    (SemDeDup's n_assign cluster straddling, LSH banding, bounded-bucket
    splitting) silently dropped — the number a 100 TB operator reads next
    to the speedup before trusting a dedup pass. Both inputs are pair
    DataFrames; the count is a semi-join, so nothing wider than the key
    columns shuffles."""
    ks = list(keys)
    e = exact.select(*ks)
    found = e.join(approx.select(*ks).dropDuplicates(ks), ks, "left_semi")
    return (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).cast("long").alias("n_found")))
        .select(
            "n_exact",
            "n_found",
            (F.col("n_exact") - F.col("n_found")).cast("long").alias("n_missed"),
        )
    )
