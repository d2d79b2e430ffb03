"""Similarity search over an embedding column (scale extension).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, JVM-side dot products via ``aggregate(zip_with)``
  (sequential left fold in double — deterministic, reproducible bit-for-bit
  by any engine that evaluates the same chain), rank per query. The
  *baseline/oracle* path; linear scan per query.
- :func:`ann_ivf` — the scale path: an IVF-style coarse quantizer. Cluster
  centroids are a deterministic subset of the corpus; every vector is
  assigned to its nearest centroid (broadcast join + argmax — one pass, no
  all-pairs), and a query probes only its ``nprobe`` closest clusters. At
  100 TB the corpus partition key IS the cluster id, so a probe touches
  only matching partitions (partition pruning on the join key) instead of
  the full corpus.

Dot products come in two BIT-IDENTICAL forms: the ``DOT`` expression fold
(higher-order functions — CodegenFallback, i.e. interpreted, in Spark 4;
fine for linear/low-pair-count sites) and :func:`fold_dot_udf`, an
Arrow-vectorized pandas UDF replaying the same float chain across the
batch for the ~10^8-pair candidate joins. ``dot(..., vectorized=True)``
selects the latter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.bronze import local_frame
from ..worker import install_zip_stamps
from .materialize import lazy_persist

# (centroid_id, embedding): the frame both k-means trainers return
_CENTROIDS = "centroid_id long, embedding array<double>"

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)

def fold_dot_udf():
    """Arrow-vectorized twin of the ``DOT`` fold — BIT-IDENTICAL values.

    Higher-order functions are CodegenFallback in Spark 4: every
    ``aggregate(zip_with(...))`` evaluates interpreted, one element read
    at a time (~160 CPU-min for the ~10^8 candidate cosines of
    dedup_embedding_canonical at sf1).  This pandas_udf replays the
    EXACT same float chain — float32→float64 widening (exact), one
    correctly-rounded float64 multiply per element, then the sequential
    left-assoc sum ``((0+p0)+p1)+...`` — but vectorized ACROSS pairs:
    ``acc += P[:, i]`` applies the i-th fold step to the whole Arrow
    batch at once, so the per-element op order matches the JVM fold
    exactly while numpy does ~10^8 adds/sec.  Equality with the expr
    fold is pinned by test_similarity's exhaustive pair test; gates may
    therefore swap one for the other without touching their oracles.
    A second win is structural: a Python UDF can never be pushed into a
    join CONDITION, so the cosine-threshold filter evaluates after the
    well-partitioned d2 equi-join instead of riding the 16-key cluster
    join where one hot cluster serializes a whole task (the jstack'd
    433 s straggler).

    NULL semantics mirror the expr fold exactly: a NULL array on either
    side -> NULL (zip_with over NULL is NULL); unequal lengths -> NULL
    (zip_with null-pads the shorter side, poisoning the sum); two empty
    arrays -> 0.0 (the fold base). The fast path requires a uniform
    non-null batch and falls back to a per-row replay otherwise.

    Constructed per call, NOT cached at module level: pyspark memoizes a
    UserDefinedFunction's ``_judf`` against the first SparkSession, so a
    module-global UDF would hold a dead JVM reference after a session
    restart (stop + rebuild in one Python process).  ``pandas_udf``
    wrapping is cheap; the Arrow plan node is identical either way.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _fold_dot(a, b):
        install_zip_stamps()
        n = len(a)
        if not n:
            return pd.Series([], dtype="float64")
        av, bv = a.to_numpy(), b.to_numpy()
        uniform = True
        d0 = -1
        for x, y in zip(av, bv):
            if x is None or y is None or len(x) != len(y) \
                    or (d0 >= 0 and len(x) != d0):
                uniform = False
                break
            d0 = len(x)
        if uniform and d0 > 0:
            prod = np.stack(av).astype(np.float64) \
                * np.stack(bv).astype(np.float64)
            acc = prod[:, 0].copy()
            for i in range(1, prod.shape[1]):
                acc += prod[:, i]
            return pd.Series(acc)
        # slow exact path: per-row replay of the SQL fold's NULL algebra
        # (NaN converts to NULL on the Arrow return path)
        out = np.empty(n, dtype=np.float64)
        for k in range(n):
            x, y = av[k], bv[k]
            if x is None or y is None or len(x) != len(y):
                out[k] = np.nan
            elif len(x) == 0:
                out[k] = 0.0
            else:
                p = np.asarray(x, np.float64) * np.asarray(y, np.float64)
                s = 0.0
                for v in p:
                    s += v
                out[k] = s
        return pd.Series(out)

    _fold_dot.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(DoubleType())(_fold_dot)


def dot(a: str, b: str, vectorized: bool = False) -> Column:
    if vectorized:
        return fold_dot_udf()(F.col(a), F.col(b))
    return F.expr(DOT.format(a=a, b=b))


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.sqrt(dot(vec_col, vec_col)))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query row.

    ``queries`` carries (query_id, query_vec); the corpus side keeps its
    (vec_id, embedding). Self-matches (query_id == vec_id) are excluded.
    Ties break on neighbor id for determinism.
    """
    from pyspark.sql import Window

    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")),
        "qe", "qnorm",
    )
    e = with_norm(embeddings.select(F.col(id_col), F.col(vec_col)), vec_col, "enorm")
    pairs = e.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    cos = (dot("qe", vec_col) / (F.col("qnorm") * F.col("enorm"))).alias("cosine")
    ranked = pairs.select("query_id", F.col(id_col).alias("neighbor_id"), cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _centroid_matrix(centroids: DataFrame, vec_col: str, id_col: str):
    """Collect the (tiny, k-row) centroid frame to the driver, sorted by
    ascending centroid id — the tie-break order of every assignment
    oracle (``ORDER BY csim DESC, cid ASC``).  Centroid state is always
    driver-sized (k x dim doubles; the kmeans_micro contract), so this is
    the sanctioned collect class, same as the training loop's own."""
    rows = centroids.select(F.col(id_col), F.col(vec_col)).collect()
    rows.sort(key=lambda r: int(r[id_col]))
    cids = [int(r[id_col]) for r in rows]
    mat = [[float(x) for x in r[vec_col]] for r in rows]
    return cids, mat


def _assign_sims(cids: list, mat: list):
    """Closure computing the n x k cosine matrix for an Arrow batch of
    embeddings, replaying the ``DOT`` fold's float chain EXACTLY (the
    fold_dot_udf device, extended across the centroid axis): float32 ->
    float64 widening, one correctly-rounded multiply per element, the
    sequential left-assoc sum starting from the first product, then
    ``dot / (enorm * cnorm)`` in that operation order.  Centroid norms
    use the same per-centroid sequential chain, computed once here.

    Peak memory is O(n*k) per Arrow batch: the fold accumulates one
    dimension at a time (``acc += E[:, i:i+1] * Cm[None, :, i]`` — the
    identical multiplies and left-assoc adds, just never materializing
    the n x k x d product tensor, which at k=256/d=768 would be multi-GB
    per 10k-row batch and per executor core).

    Degenerate inputs FAIL LOUDLY, by decision: a NULL or wrong-length
    embedding raises ValueError naming the offense (the pre-r6
    broadcast-join plan silently produced NULL cosines there), and a
    zero-norm vector raises too (the old plan raised DIVIDE_BY_ZERO
    under Spark 4 ANSI mode — raising keeps Spark and the DuckDB
    oracles, whose unrolled CTEs assume well-formed vectors, in
    agreement by making the disagreement impossible to reach silently).
    """
    import numpy as np

    if not cids:
        raise ValueError(
            "assign_clusters: empty centroid frame (k == 0) — a codebook "
            "with at least one centroid is required for assignment")
    Cm = np.asarray(mat, dtype=np.float64)  # k x d
    k, d = Cm.shape
    CC = Cm * Cm
    cacc = CC[:, 0].copy()
    for i in range(1, d):
        cacc += CC[:, i]
    cnorm = np.sqrt(cacc)  # k
    if not np.all(cnorm > 0.0):
        raise ValueError("assign_clusters: zero-norm centroid in codebook")
    cid_arr = np.asarray(cids, dtype=np.int64)

    def sims(col) -> "np.ndarray":
        av = col.to_numpy()
        for x in av:
            if x is None or len(x) != d:
                raise ValueError(
                    "assign_clusters: NULL or wrong-length embedding "
                    f"(expected dim {d}, got "
                    f"{'NULL' if x is None else len(x)})")
        E = np.stack(av).astype(np.float64)  # n x d
        acc = E[:, 0:1] * Cm[None, :, 0]  # n x k — dim-0 products
        ee = E[:, 0] * E[:, 0]
        for i in range(1, d):
            acc += E[:, i:i + 1] * Cm[None, :, i]
            ee += E[:, i] * E[:, i]
        enorm = np.sqrt(ee)
        if not np.all(enorm > 0.0):
            raise ValueError("assign_clusters: zero-norm embedding")
        return acc / (enorm[:, None] * cnorm[None, :])

    return cid_arr, sims


def assign_clusters(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_sim: bool = False,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid by cosine, centroid-id
    tie-break.  ``keep_sim`` additionally returns the winning cosine as
    ``csim`` — the assignment-quality signal cluster-distance QC consumes.

    MAP-ONLY since r6: the centroid codebook is driver-sized (k x dim),
    so it rides in the closure of ONE Arrow-vectorized projection — no
    corpus x k row blowup, no shuffle, no per-vector window.  That is
    both the fixed-latency fix (the old broadcast-NLJ + window argmax
    cost ~2 s per k-means iteration at ANY scale) and the correct 100 TB
    plan: assignment is embarrassingly parallel, and this expresses it
    as a scan-speed map stage.  Values are bit-identical to the old
    plan and to the oracles' unrolled assignment CTEs (the fold chain
    is replayed exactly — see _assign_sims; ties break on ascending
    centroid id via stable argsort over the cid-sorted codebook)."""
    cid_arr, sims = _assign_sims(*_centroid_matrix(centroids, vec_col, id_col))
    return _assign_apply(embeddings, cid_arr, sims, vec_col, id_col, keep_sim)


def _assign_apply(
    embeddings: DataFrame,
    cid_arr,
    sims,
    vec_col: str,
    id_col: str,
    keep_sim: bool,
) -> DataFrame:
    """The projection half of :func:`assign_clusters`, callable with an
    ALREADY-DRIVER-SIDE codebook (cid array + sims closure from
    ``_assign_sims``).  kmeans_micro's training loop holds the centroid
    matrix as plain Python lists between iterations; routing it through
    assign_clusters meant a createDataFrame -> collect round trip (one
    scheduled job) per iteration whose only effect was handing the same
    floats back (r11 opt)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    def _best(col: pd.Series) -> pd.DataFrame:
        install_zip_stamps()
        import numpy as np

        if not len(col):
            return pd.DataFrame({"cluster_id": pd.Series([], dtype="int64"),
                                 "csim": pd.Series([], dtype="float64")})
        s = sims(col)
        order = np.argsort(-s, axis=1, kind="stable")[:, 0]
        return pd.DataFrame({
            "cluster_id": cid_arr[order],
            "csim": s[np.arange(len(order)), order],
        })

    _best.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(StructType([
        StructField("cluster_id", LongType()),
        StructField("csim", DoubleType()),
    ]))(_best)
    out_cols = [F.col(id_col), F.col(vec_col),
                F.col("_a.cluster_id").alias("cluster_id")]
    if keep_sim:
        out_cols.append(F.col("_a.csim").alias("csim"))
    return (
        embeddings.withColumn("_a", udf(F.col(vec_col)))
        .select(*out_cols)
    )


def assign_clusters_multi(
    embeddings: DataFrame,
    centroids: DataFrame,
    sizes: tuple[int, ...],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment for every PREFIX codebook size in
    ``sizes``, in ONE Arrow pass — (id, vec, cluster_id_{n} ...).

    ``centroids`` is the LARGEST codebook; each size-n codebook must be
    its first n centroids in ascending centroid-id order (the
    codebook-size-curve construction: ``orderBy(id).limit(n)`` frames
    are prefixes of each other by definition).  Bit-identical to
    per-size :func:`assign_clusters` calls: every (vector, centroid)
    cosine in ``_assign_sims`` is computed per centroid COLUMN
    independently (the fold accumulates element-wise), so restricting
    the shared similarity matrix to its first n columns reproduces the
    size-n matrix exactly, and the same stable argsort takes the same
    winner with the same lowest-centroid-id tie-break.  This replaces
    |sizes| corpus-wide Arrow passes (and their per-size cache fills)
    with one (guide §1.2: remove whole passes).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    cids, mat = _centroid_matrix(centroids, vec_col, id_col)
    sizes = tuple(sorted(sizes))
    if sizes and sizes[-1] != len(cids):
        raise ValueError(
            f"assign_clusters_multi: largest size {sizes[-1]} must equal "
            f"the codebook size {len(cids)} (sizes are prefixes)")
    cid_arr, sims = _assign_sims(cids, mat)

    def _best(col: pd.Series) -> pd.DataFrame:
        install_zip_stamps()
        import numpy as np

        if not len(col):
            return pd.DataFrame(
                {f"c{n}": pd.Series([], dtype="int64") for n in sizes})
        s = sims(col)
        out = {}
        for n in sizes:
            order = np.argsort(-s[:, :n], axis=1, kind="stable")[:, 0]
            out[f"c{n}"] = cid_arr[:n][order]
        return pd.DataFrame(out)

    _best.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(StructType(
        [StructField(f"c{n}", LongType()) for n in sizes]))(_best)
    return (
        embeddings.withColumn("_a", udf(F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col),
                *[F.col(f"_a.c{n}").alias(f"cluster_id_{n}")
                  for n in sizes])
    )


def assign_clusters_top2(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard assignment PLUS the runner-up: per vector the nearest and
    second-nearest centroids with their cosines — the inputs of
    silhouette-style cluster-quality scoring (a = distance to own
    centroid, b = distance to the nearest OTHER centroid).  Same
    map-only Arrow shape and bit-exact fold chain as
    :func:`assign_clusters` (one projection, codebook in the closure,
    stable argsort with ascending-centroid-id tie-break); requires
    k >= 2 and fails loudly otherwise."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cid_arr, sims = _assign_sims(*_centroid_matrix(centroids, vec_col, id_col))
    if len(cid_arr) < 2:
        raise ValueError(
            "assign_clusters_top2: needs at least 2 centroids "
            f"(got {len(cid_arr)}) — a runner-up must exist")

    def _top2(col: pd.Series) -> pd.DataFrame:
        install_zip_stamps()
        import numpy as np

        if not len(col):
            empty_l = pd.Series([], dtype="int64")
            empty_d = pd.Series([], dtype="float64")
            return pd.DataFrame({"cluster_id": empty_l, "csim": empty_d,
                                 "second_id": empty_l, "csim2": empty_d})
        s = sims(col)
        order = np.argsort(-s, axis=1, kind="stable")
        i1, i2 = order[:, 0], order[:, 1]
        rows = np.arange(len(i1))
        return pd.DataFrame({
            "cluster_id": cid_arr[i1], "csim": s[rows, i1],
            "second_id": cid_arr[i2], "csim2": s[rows, i2],
        })

    _top2.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(StructType([
        StructField("cluster_id", LongType()),
        StructField("csim", DoubleType()),
        StructField("second_id", LongType()),
        StructField("csim2", DoubleType()),
    ]))(_top2)
    return (
        embeddings.withColumn("_a", udf(F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col),
                F.col("_a.cluster_id").alias("cluster_id"),
                F.col("_a.csim").alias("csim"),
                F.col("_a.second_id").alias("second_id"),
                F.col("_a.csim2").alias("csim2"))
    )


def assign_clusters_probe(
    embeddings: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Soft IVF assignment: each vector lands in its ``nprobe`` nearest
    clusters (cosine, centroid-id tie-break) instead of only the argmax.

    This is the RECALL KNOB of cluster-blocked dedup/search: two near-dup
    vectors straddling a cluster boundary miss each other under hard
    assignment but meet in a shared probe cluster here — measured on the
    driver corpus, pair recall rises from 30.5% (hard, trained) to the
    semdedup_recall_probed figure at nprobe=2 for a bounded ~nprobe^2x
    candidate fan-out.  Returns (vec_id, vec_col, cluster_id, probe_rank)
    with nprobe rows per vector.  Map-only like :func:`assign_clusters`
    (one Arrow projection returning the rank-ordered probe ids, then a
    row-local posexplode) — no join, no shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    cid_arr, sims = _assign_sims(*_centroid_matrix(centroids, vec_col, id_col))

    def _probes(col: pd.Series) -> pd.Series:
        install_zip_stamps()
        import numpy as np

        if not len(col):
            return pd.Series([], dtype=object)
        s = sims(col)
        order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cid_arr[row].tolist() for row in order])

    _probes.__annotations__ = {"col": pd.Series, "return": pd.Series}
    udf = pandas_udf(ArrayType(LongType()))(_probes)
    return (
        embeddings.withColumn("_p", udf(F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col),
                F.posexplode("_p").alias("_pos", "cluster_id"))
        .select(id_col, vec_col, "cluster_id",
                (F.col("_pos") + 1).cast("integer").alias("probe_rank"))
    )


def ann_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the query's nprobe closest clusters.

    Default centroids are the first ``n_centroids`` corpus vectors by id —
    deterministic without an iterative k-means.  Pass ``centroids``
    (id_col, vec_col) to route through a TRAINED codebook instead (e.g.
    ``kmeans_micro`` — the offline index build a 100 TB deployment runs
    once and broadcasts); assignment, probing, and ranking are identical.
    Pass ``assigned`` (id_col, vec_col, cluster_id — the output of
    ``assign_clusters(embeddings, centroids)``, typically persisted) when
    the caller already computed the coarse assignment for its own
    bookkeeping: the corpus-wide Arrow assignment pass is the dominant
    cost of the whole search, and callers that price the index (cell
    stats + search over the same codebook) were paying it twice.
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = embeddings.orderBy(id_col).limit(n_centroids)
    if assigned is None:
        assigned = assign_clusters(embeddings, centroids, vec_col, id_col)

    c = with_norm(
        centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("ce")),
        "ce", "cnorm",
    )
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")),
        "qe", "qnorm",
    )
    qsim = (dot("qe", "ce") / (F.col("qnorm") * F.col("cnorm"))).alias("csim")
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    probes = (
        q.join(F.broadcast(c)).select("query_id", "qe", "qnorm", F.col("centroid_id"),
                                      qsim)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qe", "qnorm", F.col("centroid_id").alias("cluster_id"))
    )

    e = with_norm(assigned, vec_col, "enorm")
    cand = e.join(F.broadcast(probes), "cluster_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    cos = (dot("qe", vec_col) / (F.col("qnorm") * F.col("enorm"))).alias("cosine")
    ranked = cand.select("query_id", F.col(id_col).alias("neighbor_id"), cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _pq_sq_chain(a_idx, b_idx, j: int, dsub: int) -> str:
    """Left-assoc sum of squared per-dimension differences for subspace j.

    ``a_idx``/``b_idx`` map a 1-based dimension index to an element
    expression, so the identical term order can be emitted for Spark
    (element_at) and DuckDB (bracket indexing) — bit-exact across engines.
    """
    terms = []
    for d in range(1, dsub + 1):
        i = j * dsub + d
        av, bv = a_idx(i), b_idx(i)
        terms.append(f"(CAST({av} AS DOUBLE) - CAST({bv} AS DOUBLE))"
                     f" * (CAST({av} AS DOUBLE) - CAST({bv} AS DOUBLE))")
    return " + ".join(terms)


def _cross_cosine_batches(q_rows, qlab_type, batches):
    """mapInArrow kernel for :func:`cross_cosine_scores` — the
    bit-identical twin of
    ``tr.crossJoin(broadcast(q)).select(dot(eq, etr, vectorized=True)
    / (nq * ntr))`` with both norms computed by the interpreted DOT
    fold.

    Exactness: float32 elements widen to float64 (exact); the dot
    accumulates left-assoc over dimensions exactly like the fold
    (``acc += A[:, i] * q[i]`` applies fold step i to the whole batch);
    each norm is sqrt of the same fold over (v, v); and the cosine
    divides by the PRODUCT (nq * ntr) computed first — the same
    operation order as the column expression.  Each query's norm is a
    pure function of its vector, so computing it once per task instead
    of once per pair changes nothing.

    The r11 shape shipped BOTH vectors per pair through the Arrow
    boundary (|tr| x |q| x 2 x dim floats — hundreds of MB at sf0.1);
    here the training batch crosses once and the query matrix rides the
    task closure.
    """
    install_zip_stamps()
    import numpy as np
    import pyarrow as pa

    qids = np.array([r[0] for r in q_rows], np.int64)
    qlabels = [r[1] for r in q_rows]
    qm = np.array([r[2] for r in q_rows], np.float64)  # (nq, dim)
    nq = qm.shape[0]

    def fold_rows(a, b):
        """Left-assoc per-row dot of two equally-shaped 2-D arrays."""
        acc = a[:, 0] * b[:, 0]
        for i in range(1, a.shape[1]):
            acc = acc + a[:, i] * b[:, i]
        return acc

    qnorm = np.sqrt(fold_rows(qm, qm)) if nq else np.empty(0)
    qlab_arr = pa.array(qlabels, qlab_type)

    out_names = ["qid", "qlabel", "nid", "nlabel", "cosine"]
    for batch in batches:
        nid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        nlabel = batch.column(1)
        lst = batch.column(2)
        n = len(lst)
        if n == 0 or nq == 0:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.int64()), pa.array([], qlab_type),
                 pa.array([], pa.int64()), pa.array([], nlabel.type),
                 pa.array([], pa.float64())],
                ["qid", "qlabel", "nid", "nlabel", "cosine"])
            continue
        loff = lst.offsets.to_numpy().astype(np.int64)
        flat = np.asarray(lst.values, np.float64)
        emb = flat[loff[0]:loff[-1]].reshape(n, -1)
        tnorm = np.sqrt(fold_rows(emb, emb))
        # dots[r, qi], fold step i applied to the whole (n, nq) plane
        dots = emb[:, 0:1] * qm[None, :, 0]
        for i in range(1, emb.shape[1]):
            dots = dots + emb[:, i : i + 1] * qm[None, :, i]
        cos = dots / (qnorm[None, :] * tnorm[:, None])
        # query-major pair list
        qcol = np.repeat(qids, n)
        ncol = np.tile(nid, nq)
        ccol = cos.T.reshape(-1)
        qlab_col = _pa_take_repeat(qlab_arr, n)
        nlab_col = _pa_tile(nlabel, nq)
        yield pa.RecordBatch.from_arrays(
            [pa.array(qcol, pa.int64()), qlab_col,
             pa.array(ncol, pa.int64()), nlab_col,
             pa.array(ccol, pa.float64())], out_names)


def _pa_take_repeat(arr, n):
    """Repeat each element of ``arr`` n times (pa.Array), via take."""
    import numpy as np
    import pyarrow as pa

    idx = np.repeat(np.arange(len(arr), dtype=np.int64), n)
    return arr.take(pa.array(idx))


def _pa_tile(arr, reps):
    """Tile ``arr`` (pa.Array) reps times, via take."""
    import numpy as np
    import pyarrow as pa

    idx = np.tile(np.arange(len(arr), dtype=np.int64), reps)
    return arr.take(pa.array(idx))


def cross_cosine_scores(tr: DataFrame, queries: DataFrame) -> DataFrame:
    """(qid, qlabel, nid, nlabel, cosine) for every (training row,
    query) pair — the kNN-eval scoring pass.

    ``tr`` must carry (nid, nlabel, etr); ``queries`` (qid, qlabel, eq)
    and must be driver-bounded (it was the broadcast side of the r11
    crossJoin already — collecting moves the same rows into the kernel
    closure).  Values are bit-identical to the crossJoin + vectorized
    DOT fold + interpreted norm shape this replaces; see
    :func:`_cross_cosine_batches` for the exactness argument.
    """
    import functools

    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    src = tr.select("nid", "nlabel", "etr")
    qlab_dt = queries.schema["qlabel"].dataType
    nlab_dt = src.schema["nlabel"].dataType
    q_rows = [(int(r["qid"]), r["qlabel"], [float(x) for x in r["eq"]])
              for r in queries.select("qid", "qlabel", "eq").collect()]
    schema = StructType([
        StructField("qid", LongType()),
        StructField("qlabel", qlab_dt),
        StructField("nid", LongType()),
        StructField("nlabel", nlab_dt),
        StructField("cosine", DoubleType()),
    ])
    return src.mapInArrow(
        functools.partial(_cross_cosine_batches, q_rows,
                          to_arrow_type(qlab_dt)),
        schema,
    )


def _pq_adc_batches(cb_rows, q_rows, m, dsub, batches):
    """mapInArrow kernel for :func:`ann_pq`: PQ-encode each corpus batch
    against the closed-over codebook, then score every (query, corpus
    row) pair by ADC — bit-identical to the Catalyst chain it replaces.

    Exactness: element values widen float32→float64 (exact); each
    (a-b)*(a-b) term is one correctly-rounded multiply of one
    correctly-rounded difference; per-subspace sums accumulate
    left-assoc over the dsub terms and the per-pair ADC accumulates
    left-assoc over the m subspaces — the same operation sequence as
    ``_pq_sq_chain``.  argmin ties go to the lowest code id (np.argmin
    picks the first minimum; the codebook is sorted by id).  The
    query-to-codeword distance table is precomputed once per task —
    valid because the chain is a pure function of (query, codeword,
    subspace).  Self-pairs (neighbor == query id) are excluded, as the
    join condition did.
    """
    install_zip_stamps()
    import numpy as np
    import pyarrow as pa

    cb = np.array([v for _, v in cb_rows], np.float64)  # (n_codes, dim)
    qids = np.array([qid for qid, _ in q_rows], np.int64)
    qm = np.array([v for _, v in q_rows], np.float64)   # (nq, dim)
    n_codes = cb.shape[0]
    nq = qm.shape[0]

    def sq_chain(a, b, j):
        """Left-assoc sum of squared diffs over subspace j; a is 2-D
        (rows x dim), b is 1-D (dim) or 2-D — broadcasting keeps the
        per-element operation order identical either way."""
        base = j * dsub
        d = a[..., base] - b[..., base]
        acc = d * d
        for i in range(1, dsub):
            d = a[..., base + i] - b[..., base + i]
            acc = acc + d * d
        return acc

    # dt[qi, j, c]: ADC distance of query qi to codeword c in subspace j
    dt = np.empty((nq, m, n_codes), np.float64)
    for j in range(m):
        for c in range(n_codes):
            dt[:, j, c] = sq_chain(qm, cb[c], j)

    out_names = ["query_id", "neighbor_id", "adc"]
    for batch in batches:
        ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        lst = batch.column(1)
        n = len(lst)
        if n == 0 or nq == 0:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.int64()), pa.array([], pa.int64()),
                 pa.array([], pa.float64())], out_names)
            continue
        loff = lst.offsets.to_numpy().astype(np.int64)
        flat = np.asarray(lst.values, np.float64)
        # uniform-dim corpus: a ragged batch would fail the reshape
        # loudly rather than mis-score silently
        emb = flat[loff[0]:loff[-1]].reshape(n, -1)
        # per-subspace codes: argmin over the n_codes distance columns
        codes = np.empty((n, m), np.int64)
        for j in range(m):
            dmat = np.empty((n, n_codes), np.float64)
            for c in range(n_codes):
                dmat[:, c] = sq_chain(emb, cb[c], j)
            codes[:, j] = np.argmin(dmat, axis=1)
        # adc[r, qi] = ((dt[qi,0,c0] + dt[qi,1,c1]) + ...) left-assoc
        adc = dt[:, 0, :].T[codes[:, 0]]        # (n, nq)
        for j in range(1, m):
            adc = adc + dt[:, j, :].T[codes[:, j]]
        qcol = np.repeat(qids, n)
        ncol = np.tile(ids, nq)
        acol = adc.T.reshape(-1)                 # query-major pair list
        keep = ncol != qcol
        yield pa.RecordBatch.from_arrays(
            [pa.array(qcol[keep], pa.int64()),
             pa.array(ncol[keep], pa.int64()),
             pa.array(acol[keep], pa.float64())], out_names)


def ann_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance (ADC): the corpus is
    quantized to ``m`` code ids; a query scores a candidate as the sum of
    exact squared distances between its own subvectors and the candidate's
    CODEWORDS — never touching the original corpus vector.

    Codebook = the first ``n_codes`` corpus vectors by id (deterministic,
    like :func:`ann_ivf`'s centroids; production trains offline). The scan
    side carries only (id, m code ids); reconstruction happens against the
    broadcast 1-row codebook, so at 100 TB the ADC pass reads a ~32x
    narrower table than the exact scan — that compression is PQ's scale
    win. Deterministic end to end: argmin ties break to the lowest code
    id, ranking ties to the lowest neighbor id, and every distance is the
    same left-assoc fold on both engines.
    """
    from pyspark.sql import Window

    # ONE driver collect supplies the codebook AND the dimensionality
    # (r12: the separate limit(1) dim probe job is gone; the codebook is
    # <= n_codes rows and was a broadcast literal before anyway)
    cb_rows = sorted(
        (int(r[id_col]), [float(x) for x in r[vec_col]])
        for r in embeddings.orderBy(id_col).limit(n_codes).collect()
    )
    dim = len(cb_rows[0][1]) if cb_rows else m
    dsub = dim // m
    # queries were already a driver-bounded broadcast side; collecting
    # them moves the same rows into the kernel closure instead
    q_rows = [(int(r["query_id"]), [float(x) for x in r["qe"]])
              for r in queries.select(
                  F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qe")).collect()]

    # r12 shape (guide §4/§7.3): encode + ADC run as ONE vectorized
    # Arrow kernel over the corpus scan.  The r11 form built the m
    # per-subspace codeword-distance chains as giant Catalyst trees
    # (transform() over the broadcast codebook — CodegenFallback, plus
    # ~1 s of pure driver analysis per call) and re-attached codewords
    # through a broadcast join per candidate pair.  The kernel replays
    # the exact same float chains — float32→float64 widening, one
    # correctly-rounded square/diff per element, left-assoc sums in the
    # same order — so argmin codes, ADC values, and every rank are
    # bit-identical (the DuckDB oracle pins it); tests/test_llm48 pins
    # the depth-10 slice against similarity_ann_pq.
    import functools

    scored = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_ev")
    ).mapInArrow(
        functools.partial(_pq_adc_batches, cb_rows, q_rows, m, dsub),
        "query_id long, neighbor_id long, adc double",
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def kmeans_cosine(
    embeddings: DataFrame,
    k: int = 16,
    max_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means for IVF centroids: deterministic init (first k
    vectors by id), then alternate broadcast-assign / mean-recompute.

    The iterative loop is driver-side orchestration over DataFrame
    aggregates — each iteration is one broadcast join + one hash aggregate
    over the corpus; centroid state (k x dim doubles) rides in the closure,
    never the corpus. Returns (centroid_id, embedding) with unit-norm
    double vectors.
    """
    dim_df = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim = dim_df[0]["d"] if dim_df else 0

    cents = [
        (int(r[id_col]), [float(x) for x in r[vec_col]])
        for r in embeddings.orderBy(id_col).limit(k).collect()
    ]

    def _normalize(v: list[float]) -> list[float]:
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v] if n else v

    cents = [(i, _normalize(v)) for idx, (i, v) in enumerate(cents)]

    spark = embeddings.sparkSession
    for _ in range(max_iters):
        cdf = local_frame(spark, cents, "centroid_id long, ce array<double>")
        assigned = assign_clusters(
            embeddings, cdf.select(F.col("centroid_id").alias(id_col),
                                   F.col("ce").alias(vec_col)),
            vec_col, id_col,
        )
        # new centroid = normalized mean: per-dimension sums in one aggregate
        sums = assigned.groupBy("cluster_id").agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.col(vec_col)[i].cast("double")).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        new_cents = []
        for r in sums.collect():
            v = [r[f"s{i}"] / r["n"] for i in range(dim)]
            new_cents.append((int(r["cluster_id"]), _normalize(v)))
        if not new_cents:
            break
        cents = sorted(new_cents)

    return local_frame(spark, cents, _CENTROIDS)


def kmeans_micro(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> DataFrame:
    """Engine-reproducible Lloyd's k-means for IVF/SemDeDup blocking.

    Unlike :func:`kmeans_cosine` (whose per-dimension double mean is
    partial-aggregation-order dependent, so two runs — or two engines —
    can diverge by an ulp and flip boundary assignments), every centroid
    here derives from ORDER-FREE integer sums: components are micro-
    quantized to ``round(x*scale)`` longs, the per-cluster per-dimension
    sums are exact BIGINTs, and the centroid component is the single
    deterministic double ``S / (n * scale)``.  An external SQL engine
    that unrolls the identical iterations (see registry_llm3's trained
    SemDeDup oracle) reproduces the centroids — and therefore the
    assignments — bit-for-bit.

    Exactness bound: |x| * scale * rows_per_cluster must stay below 2^53
    (at scale=1e6 and unit-normed vectors that is ~9e9 rows per cluster).

    Each iteration = one broadcast assign (argmax cosine, centroid-id
    tie-break) + one hash aggregate of long sums; centroid state (k x dim)
    rides in the closure, the corpus never moves.  Returns
    (centroid_id, embedding) with the centroids after ``iters`` updates;
    block with ``assign_clusters(embeddings, kmeans_micro(...))``.
    """
    # the corpus is scanned iters+2 times (dim probe, seed, one assign +
    # sum per iteration) — persist for the training loop, release in the
    # finally below (a mid-loop failure must not pin the cache), and only
    # if the CALLER had not already persisted (unpersist is not
    # reference-counted: dropping their cache on return would be rude)
    lvl = embeddings.storageLevel
    we_persisted = not (lvl.useMemory or lvl.useDisk)
    if we_persisted:
        embeddings = lazy_persist(embeddings)
    try:
        return _kmeans_micro_train(embeddings, k, iters, vec_col, id_col,
                                   scale)
    finally:
        if we_persisted:
            embeddings.unpersist()


def _kmeans_micro_train(
    embeddings: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    scale: float,
) -> DataFrame:
    spark = embeddings.sparkSession

    # one parsed expression per dimension (r11 opt): the Column-chain
    # form (getItem * scale -> round -> cast -> sum -> alias) cost ~6
    # gateway round trips per dimension, ~1.4 s of pure driver time per
    # iteration at dim=64 — the training loop's dominant cost after the
    # jobs themselves.  expr() parses to the IDENTICAL Catalyst tree
    # (bracket indexing is 0-based GetArrayItem; the D suffix keeps the
    # scale a DOUBLE literal, matching the old Python-float literal).
    def sum_exprs(dim: int) -> list[Column]:
        return [
            F.expr(f"sum(cast(round(`{vec_col}`[{i}] * {scale!r}D) as long))"
                   f" AS s{i}")
            for i in range(dim)
        ]

    def _round_half_away(v: float) -> int:
        # Spark's F.round and DuckDB's round() are HALF-AWAY-FROM-ZERO on
        # doubles; Python's round() is half-even — match the engines.
        import math

        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    # ONE collect seeds the centroids AND supplies the dimensionality
    # (was a separate limit(1) probe job — the training loop is fixed-
    # latency job-scheduling bound, so every saved job is wall-clock)
    seed_rows = embeddings.orderBy(id_col).limit(k).collect()
    dim = len(seed_rows[0][vec_col]) if seed_rows else 0
    cents = [
        (int(r[id_col]),
         [_round_half_away(float(x) * scale) / scale for x in r[vec_col]])
        for r in seed_rows
    ]
    for _ in range(iters):
        # cents is already driver-side and ascending by centroid id (the
        # seed collect is id-ordered; each update re-sorts) — hand the
        # matrix straight to the assignment projection instead of the
        # old createDataFrame -> _centroid_matrix collect round trip,
        # which cost one scheduled job per iteration to move the same
        # floats driver -> JVM -> driver (r11 opt; values identical)
        cid_arr, sims = _assign_sims([c[0] for c in cents],
                                     [c[1] for c in cents])
        assigned = _assign_apply(embeddings, cid_arr, sims,
                                 vec_col, id_col, False)
        sums = assigned.groupBy("cluster_id").agg(
            F.count("*").alias("n"), *sum_exprs(dim),
        )
        cents = sorted(
            (int(r["cluster_id"]),
             [r[f"s{i}"] / (r["n"] * scale) for i in range(dim)])
            for r in sums.collect()
        )
    # centroids are materialized driver-side; the caller's finally
    # releases the training cache
    return local_frame(spark, cents, _CENTROIDS)



# ---------------------------------------------------------------------------
# Random-hyperplane (sign-random-projection) LSH — banded, exact-verified
# ---------------------------------------------------------------------------

def rademacher_planes(n_tables: int, planes_per_table: int, dim: int,
                      tag: str = "rhp") -> list[list[list[float]]]:
    """Deterministic ±1 hyperplanes, one set per LSH table.

    Component sign (table t, plane k, dim d) = parity of the first hex
    digit of md5(f"{tag}:{t}:{k}:{d}") — engine-independent and frozen, so
    an external SQL oracle can embed the identical constants. Rademacher
    entries are a standard substitute for Gaussian hyperplanes in angular
    LSH (sign random projection): E[collision] = 1 - angle/pi either way.
    """
    import hashlib

    return [
        [
            [
                1.0 if int(hashlib.md5(
                    f"{tag}:{t}:{k}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
                else -1.0
                for d in range(dim)
            ]
            for k in range(planes_per_table)
        ]
        for t in range(n_tables)
    ]


def _plane_dot(vec_col: str, plane: list[float]) -> Column:
    arr = "array(" + ", ".join(f"{x:.1f}D" for x in plane) + ")"
    return F.expr(DOT.format(a=vec_col, b=arr))


def lsh_bucket_col(vec_col: str, table_planes: list[list[float]]) -> Column:
    """Bucket id for one LSH table: the k-bit sign pattern of the vector's
    hyperplane dot products, packed little-endian."""
    bucket = F.lit(0)
    for k, plane in enumerate(table_planes):
        bucket = bucket + F.when(
            _plane_dot(vec_col, plane) >= 0, F.lit(1 << k)
        ).otherwise(F.lit(0))
    return bucket.cast("long")


def lsh_bucket_pairs(
    embeddings: DataFrame,
    planes: list[list[list[float]]],
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN near-neighbor pairs via banded sign-random-projection LSH with
    exact cosine verification — the hashing scale path next to the
    clustering one (:func:`ann_ivf`).

    Per table, a vector's bucket is its ``k``-bit sign pattern; candidates
    are same-(table, bucket) pairs — shuffle keys are (table, bucket),
    never all-pairs — then every candidate is verified with the exact
    fold-order cosine. Recall for a pair at angle theta is
    1-(1-(1-theta/pi)^k)^L: with L=4 tables of k=4 planes, ~0.50 at
    cosine 0.4 and ~0.87 at cosine 0.8 — more tables raise recall, more
    planes per table raise precision: the MinHash band trade-off. At
    100 TB the (table, bucket) key is the corpus partition key and the
    verify join ships only candidate ids.
    """
    banded = embeddings.select(
        F.col(id_col).alias("vid"),
        F.explode(F.array(*[
            F.struct(F.lit(ti).alias("tbl"),
                     lsh_bucket_col(vec_col, tp).alias("bucket"))
            for ti, tp in enumerate(planes)
        ])).alias("tb"),
    ).select("vid", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))

    cand = (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.tbl") == F.col("b.tbl"))
              & (F.col("a.bucket") == F.col("b.bucket"))
              & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("d1"), F.col("b.vid").alias("d2"))
        .distinct()
    )

    va = with_norm(embeddings.select(F.col(id_col).alias("d1"),
                                     F.col(vec_col).alias("ea")), "ea", "na")
    vb = with_norm(embeddings.select(F.col(id_col).alias("d2"),
                                     F.col(vec_col).alias("eb")), "eb", "nb")
    cos = (dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine")
    return (
        cand.join(va, "d1").join(vb, "d2")
        .select("d1", "d2", cos)
        .filter(F.col("cosine") >= threshold)
    )


def greedy_mmr(rel: dict, sim: dict, k: int,
               lam_num: int = 7, lam_den: int = 10) -> list[tuple]:
    """Pure greedy MMR over integer relevance/pair-similarity maps —
    THE sequential core of :func:`mmr_select`, factored out so the
    grouped Arrow kernel and the hypothesis property tests
    (tests/test_sequential_kernels.py: per-step argmax certificate,
    λ=1 degeneration to pure top-k) share one implementation.

    ``rel``: candidate id -> rel_micro; ``sim``: (a, b) -> sim_micro
    for every ordered pair a != b of candidates.  Returns
    [(step, selected_id, rel_micro, maxsim_micro, score), ...] with
    step = 1..min(k, |rel|); score = lam_num·rel − (lam_den−lam_num)·
    max(sim to selected) (0 at step 1), ties → lower id.

    ``sim`` MUST cover every ordered pair of distinct candidates; a
    missing pair raises a descriptive KeyError (naming the pair) so a
    caller's incomplete pair set surfaces as a contract error rather
    than an opaque executor PythonException inside the Arrow kernel."""
    div_num = lam_den - lam_num
    remaining = sorted(rel)
    selected: list = []
    out: list[tuple] = []

    def _pair_sim(c, s):
        try:
            return sim[(c, s)]
        except KeyError:
            raise KeyError(
                f"greedy_mmr: sim map is missing pair ({c!r}, {s!r}); the "
                f"contract requires sim_micro for every ordered pair of "
                f"distinct candidates within a query"
            ) from None

    for step in range(1, min(k, len(remaining)) + 1):
        best = None
        for c in remaining:
            ms = max((_pair_sim(c, s) for s in selected), default=0)
            score = lam_num * rel[c] - div_num * ms
            key = (score, -c)
            if best is None or key > best[0]:
                best = (key, c, ms, score)
        _, c, ms, score = best
        remaining.remove(c)
        selected.append(c)
        out.append((step, c, rel[c], ms, score))
    return out


def mmr_select(
    cand: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance diversified selection over per-query
    candidate shortlists (Carbonell & Goldstein 1998) — the diverse
    few-shot / retrieval-reranking step an LLM data pipeline runs on
    top of its ANN shortlists.

    Inputs: ``cand`` carries one row per (query_id, cid) with the
    candidate's integer relevance ``rel_micro`` (micro-quantized query
    cosine); ``sims`` carries (query_id, a, b, sim_micro) for every
    ordered candidate pair a != b within a query (micro-quantized
    candidate-candidate cosine).  All scoring is pure-integer:
    ``score = lam_num * rel_micro - (lam_den - lam_num) * maxsim_micro``
    with the max over the already-selected set (0 for the first pick,
    which therefore is argmax relevance), ties broken by ascending
    candidate id — fully deterministic and bit-exact cross-engine.

    Spark-first shape: the shortlists are tiny BY CONSTRUCTION (the
    cosine_topk contract: k' candidates per query, so k'*(k'-1) pair
    rows per group), while the number of standing queries is unbounded
    — so the greedy scan (genuinely sequential state: pick i depends on
    picks 1..i-1) runs as ONE grouped Arrow kernel via
    ``applyInPandas``, parallelism = query count, and everything
    upstream (shortlist + pair cosines) stays in built-in operators.
    Tier (b) of the custom-operator ladder (SURVEY §7), same class as
    operators/debounce.py.

    Returns (query_id, step, selected_id, rel_micro, maxsim_micro,
    mmr_score) with step = 1..min(k, |candidates|).
    """
    joined = cand.select("query_id", "cid", "rel_micro").join(
        sims.select("query_id", F.col("a").alias("cid"), "b", "sim_micro"),
        ["query_id", "cid"], "left")
    out_schema = ("query_id long, step long, selected_id long, "
                  "rel_micro long, maxsim_micro long, mmr_score long")

    def greedy(pdf):
        install_zip_stamps()
        import pandas as pd

        rel = {}
        sim = {}
        for row in pdf.itertuples(index=False):
            rel[int(row.cid)] = int(row.rel_micro)
            if row.b == row.b and row.b is not None:  # non-NaN pair row
                sim[(int(row.cid), int(row.b))] = int(row.sim_micro)
        qid = int(pdf["query_id"].iloc[0])
        out = [(qid, *picked) for picked in
               greedy_mmr(rel, sim, k, lam_num, lam_den)]
        return pd.DataFrame(out, columns=[
            "query_id", "step", "selected_id", "rel_micro",
            "maxsim_micro", "mmr_score"])

    return joined.groupBy("query_id").applyInPandas(greedy, schema=out_schema)
