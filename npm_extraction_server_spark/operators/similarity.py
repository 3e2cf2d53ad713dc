"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products with ``F.zip_with`` + ``F.aggregate`` (JVM-side), top-k
  via window row_number. O(Q*N) — fine for a broadcast-able query set.
- ``lsh_topk``: the scale path — random-hyperplane LSH bucketing
  (deterministic xxhash64-derived hyperplanes), candidates restricted
  to same-bucket (multi-probe over H tables), then exact re-rank.
  At 100 TB the bucket join replaces the full cross product; buckets
  are the shuffle key.
- ``ivf_topk``: IVF-style alternative — k-means-lite centroids sampled
  deterministically, vectors assigned to nearest centroid partition,
  queries probe ``nprobe`` nearest centroids.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    """Dot product of two array columns via the higher-order
    aggregate/zip_with fold. Round-6 note: an unrolled 64-term
    element_at chain was A/B-measured ~3x SLOWER (cosine_topk 0.65 s
    -> 2.0 s; dedup_minhash est 2.9 s -> 8.9 s at sf1.0) — Spark 4.1
    walks the array once inside the HOF while per-term element_at
    re-does null/bounds handling per element — so the fold stays the
    implementation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _norm(a):
    """L2 norm; same HOF-over-unrolled finding as ``_dot``."""
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def with_norms(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn("norm", _norm(F.col(vec_col)))


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    ``queries`` is small -> broadcast; the big side streams.

    Round 6: the corpus side is ``spread_partitions``-ed first — the
    driver-provided single-row-group parquet yields a 1-partition scan,
    which serialized the whole O(N*Q) scoring stage onto one core
    (guide §2.5 input skew; measured 1.3 s -> 0.35 s at sf1.0)."""
    from .dedup import spread_partitions

    base = with_norms(
        spread_partitions(embeddings, id_col), vec_col).select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("item_vec"), "norm")
    q = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        F.col("norm").alias("qnorm"))
    joined = base.crossJoin(F.broadcast(q)).filter(F.col("item_id") != F.col("query_id"))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (F.col("norm") * F.col("qnorm"))
    scored = joined.select("query_id", "item_id", F.round(sim, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def cosine_range(embeddings: DataFrame, queries: DataFrame,
                 threshold: float = 0.8, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Exact cosine RANGE search — every corpus vector within
    ``threshold`` of each query — the second query shape of an ANN
    API next to top-k (radius queries: "all near-duplicates of X",
    "all candidates above the match bar"). Same broadcast-query /
    stream-corpus plan as cosine_topk, no window: output size is
    data-dependent, so no per-query ordering pass is needed at all.
    Cosines are rounded to the 6-dp grid BEFORE the threshold
    compare, so the boundary is bit-identical cross-engine.
    Corpus side spread like cosine_topk (1-row-group scan -> 1
    partition otherwise)."""
    from .dedup import spread_partitions

    base = with_norms(
        spread_partitions(embeddings, id_col), vec_col).select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("item_vec"), "norm")
    q = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        F.col("norm").alias("qnorm"))
    joined = base.crossJoin(F.broadcast(q)).filter(
        F.col("item_id") != F.col("query_id"))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        F.col("norm") * F.col("qnorm"))
    return (joined.select("query_id", "item_id",
                          F.round(sim, 6).alias("cosine"))
            .filter(F.col("cosine") >= F.lit(threshold)))


def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from sha256 — same on every
    executor, no RNG state, no broadcast needed beyond the literal."""
    import hashlib
    import struct

    out = []
    for d in range(0, dim, 8):
        h = hashlib.sha256(f"lsh:{table}:{bit}:{d}".encode()).digest()
        for j in range(min(8, dim - d)):
            (v,) = struct.unpack_from(">i", h, j * 4)
            out.append((v / 2**31))
    return out


def lsh_bucket_col(vec_col, dim: int, table: int, bits: int = 12):
    """Bucket id = sign-bits against ``bits`` deterministic hyperplanes
    (expression form — kept for single-table uses; the multi-table path
    below uses the vectorized numpy variant instead)."""
    acc = F.lit(0).cast("long")
    for b in range(bits):
        plane = _hyperplane(dim, table, b)
        dot = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(p) for p in plane]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, v: a + v,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return acc


def _lsh_buckets_udf(dim: int, tables: int, bits: int):
    """All table buckets in one Arrow batch: (N x dim) @ (dim x T*B)
    numpy matmul -> sign bits -> per-table bucket ids. One UDF call
    replaces tables*bits nested aggregate expressions (which blow up
    whole-stage codegen and ran ~10x slower)."""
    import numpy as np
    from pyspark.sql import types as T

    planes = np.array(
        [_hyperplane(dim, t, b) for t in range(tables) for b in range(bits)],
        dtype=np.float64,
    ).T  # dim x (tables*bits)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        signs = (mat @ planes) > 0  # N x (tables*bits)
        per_table = signs.reshape(len(mat), tables, bits)
        ids = (per_table * weights).sum(axis=2)  # N x tables
        return pd.Series(list(ids))

    return buckets


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
             tables: int = 4, bits: int = 8,
             vec_col: str = "embedding", id_col: str = "vec_id",
             broadcast_queries: bool = True) -> DataFrame:
    """Approximate top-k: same-bucket candidates over ``tables``
    hash tables, exact cosine re-rank. The candidate join is an
    equi-join on (table, bucket) — shuffle-friendly and AQE-splittable.

    The cosine is computed IN the bucket-join projection, so the
    per-(query, item) dedup shuffle carries three scalars, never the
    two vectors (at a 200k x 200k self-join with bits=8 the vector-
    bearing formulation measured ~400 GB of spill; this shape is
    ~20x lighter). ``broadcast_queries=False`` switches the bucket
    join to a shuffle join for the self-join / large-query-set regime
    where the bucketized query side is itself corpus-sized; size
    ``bits`` so 2^bits ~ n/expected-bucket-size — candidate volume is
    sum over buckets of n_i * n_q."""
    from .dedup import spread_partitions

    buckets_udf = _lsh_buckets_udf(dim, tables, bits)

    def bucketize(df, label):
        # norms computed ONCE per row here, not per candidate pair;
        # spread an under-parallel scan so the bucket UDF isn't serial
        df = spread_partitions(df, id_col)
        return df.select(
            F.col(id_col).alias(f"{label}_id"), F.col(vec_col).alias(f"{label}_vec"),
            _norm(F.col(vec_col)).alias(f"{label}_norm"),
            F.posexplode(buckets_udf(F.col(vec_col))).alias("table_id", "bucket"),
        )

    base = bucketize(embeddings, "item")
    q = bucketize(queries, "query")
    if broadcast_queries:
        q = F.broadcast(q)
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        F.col("item_norm") * F.col("query_norm"))
    scored = (
        base.join(q, ["table_id", "bucket"])
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", F.round(sim, 6).alias("cosine"))
        .dropDuplicates(["query_id", "item_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def _nearest_centroids_udf(cent_rows: list, nprobe: int):
    """Map-side nearest-centroid assignment: the centroid table (tiny —
    it is broadcast-sized by definition) is captured in the UDF closure,
    and each Arrow batch computes ONE (N x dim) @ (dim x C) numpy matmul
    -> cosine -> top-``nprobe`` centroid ids (desc similarity, asc
    cent_id tiebreak — same order the old window rank used). ZERO
    exchange: this replaces the crossJoin(N x C) + row_number window
    (an N*C-row shuffle) that was the plan's 100x-scale killer."""
    import numpy as np
    from pyspark.sql import types as T

    cent_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    cmat = np.array([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    k = min(nprobe, len(cent_rows))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        sims = (mat @ cmat.T) / vn[:, None] / cnorm[None, :]  # N x C
        # per-row sort by (-sim, cent_id): lexsort keys are applied
        # last-key-primary along the last axis
        order = np.lexsort(
            (np.broadcast_to(cent_ids, sims.shape), -sims), axis=-1)
        top = cent_ids[order[:, :k]]
        return pd.Series(list(top))

    return nearest


def _lloyd_refine(embeddings: DataFrame, cents: DataFrame, iters: int,
                  vec_col: str, id_col: str) -> DataFrame:
    """Deterministic Lloyd iterations, all map-side: per Arrow batch,
    assign each vector to its nearest centroid with one numpy matmul
    (broadcast centroids in the UDF closure) AND accumulate per-centroid
    partial sums — each partition emits at most C partial rows
    (cent_id, psum, n). The only shuffle per iteration is the
    (partitions x C)-row partial reduce; the N x dim vectors never move
    (the old form crossJoined N x C rows through a row_number window —
    an N*C exchange per iteration). Empty clusters keep their previous
    centroid. All steps deterministic -> same centroids every run."""
    import numpy as np
    from pyspark.sql import types as T

    partial_schema = T.StructType([
        T.StructField("cent_id", T.LongType(), False),
        T.StructField("psum", T.ArrayType(T.DoubleType()), False),
        T.StructField("n", T.LongType(), False),
    ])
    src = embeddings.select(F.col(vec_col).alias("v"))

    for _ in range(iters):
        cent_rows = [(r["cent_id"], r["cent_vec"]) for r in cents.collect()]
        cent_ids = np.array([int(c) for c, _ in cent_rows], dtype=np.int64)
        cmat = np.array([np.asarray(v, dtype=np.float64)
                         for _, v in cent_rows])
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = 1.0

        def assign_partial(batches, _cids=cent_ids, _cmat=cmat, _cn=cnorm):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.asarray([np.asarray(v, dtype=np.float64)
                                  for v in pdf["v"]])
                vn = np.linalg.norm(mat, axis=1)
                vn[vn == 0] = 1.0
                sims = (mat @ _cmat.T) / vn[:, None] / _cn[None, :]
                order = np.lexsort(
                    (np.broadcast_to(_cids, sims.shape), -sims), axis=-1)
                assign = order[:, 0]  # positional index of the winner
                out = []
                for ci in np.unique(assign):
                    sel = mat[assign == ci]
                    out.append((int(_cids[ci]), sel.sum(axis=0),
                                int(len(sel))))
                yield pd.DataFrame(out, columns=["cent_id", "psum", "n"])

        partials = src.mapInPandas(assign_partial, schema=partial_schema)
        sums = (
            partials.select("cent_id", F.posexplode("psum").alias("pos", "x"))
            .groupBy("cent_id", "pos").agg(F.sum("x").alias("s"))
        )
        counts = partials.groupBy("cent_id").agg(F.sum("n").alias("cn"))
        means = {
            r["cent_id"]: r["new_vec"]
            for r in sums.join(counts, "cent_id")
            .groupBy("cent_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("pos", (F.col("s") / F.col("cn")).alias("m")))),
                lambda s: s["m"]).alias("new_vec"))
            .collect()
        }
        new_rows = [
            (int(c), [float(x) for x in means[int(c)]] if int(c) in means
             else [float(x) for x in v])
            for c, v in cent_rows
        ]
        cents = embeddings.sparkSession.createDataFrame(
            new_rows, "cent_id long, cent_vec array<double>")
    return cents


def _train_pq_codebooks(resid, m_sub: int, ksub: int, iters: int = 5):
    """Deterministic per-subspace Lloyd on the residual sample (numpy,
    driver-side — the sample is a fixed few hundred rows). Init = the
    first ``ksub`` rows of the hash-ordered sample; empty clusters keep
    their previous codeword. Returns (m_sub, ksub, dsub) float64."""
    import numpy as np

    S, dim = resid.shape
    dsub = dim // m_sub
    books = np.empty((m_sub, ksub, dsub), dtype=np.float64)
    for m in range(m_sub):
        block = resid[:, m * dsub:(m + 1) * dsub]
        cb = block[:ksub].copy()
        for _ in range(iters):
            # squared-L2 to each codeword; argmin -> first (lowest) index
            d2 = ((block[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                sel = block[assign == j]
                if len(sel):
                    cb[j] = sel.mean(axis=0)
        books[m] = cb
    return books


def ivfpq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               n_centroids: int = 16, nprobe: int = 4,
               m_sub: int = 8, ksub: int = 16, rerank: int = 64,
               sample_n: int = 512, kmeans_iters: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF+PQ ANN (Jégou et al.'s product-quantization design, built
    from the public papers): the IVF coarse quantizer routes each
    vector to a centroid cell, and the RESIDUAL (vector - centroid) is
    compressed to ``m_sub`` sub-codes (one byte each at ksub<=256) via
    per-subspace codebooks. Search scores candidates ASYMMETRICALLY
    (ADC): per (query, probed cell) a tiny (m_sub x ksub) lookup table
    of query-subvector . codeword dot products is precomputed
    driver-side, so scoring a candidate is m_sub table lookups — no
    float vector is touched until the exact re-rank of the top
    ``rerank`` survivors per query.

    Scale shape: the encoded table is (id, cent_id, m_sub bytes) —
    64x smaller than float32 vectors at dim=64/m_sub=8 — and the full
    vectors are read for only Q x rerank rows (a broadcast semi-join
    against the embedding table). Everything data-sized is map-side:
    encoding is one numpy matmul + per-subspace argmins per Arrow
    batch (codebooks closure-broadcast); the candidate join hashes on
    cent_id against broadcast probes. Driver-side cost is the fixed
    ``sample_n``-row training sample and the centroid/codebook
    literals — independent of N.

    Deterministic end-to-end: hash-ordered seed sample + fixed Lloyd
    iterations (coarse and PQ), first-index argmin ties, integer
    codes. The exact re-rank makes the top-k exact whenever the true
    neighbors survive ADC preselection (the `_verified` contract)."""
    import numpy as np
    from pyspark.sql import types as T

    dim_row = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim = int(dim_row[0]["d"])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if ksub > 256:
        raise ValueError("ksub > 256 breaks the one-byte-per-subspace code")
    dsub = dim // m_sub

    # --- coarse quantizer: identical recipe to ivf_topk ---------------
    cents = (
        embeddings.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    if kmeans_iters > 0:
        cents = _lloyd_refine(embeddings, cents, kmeans_iters, vec_col, id_col)
    cent_rows = [(r["cent_id"], r["cent_vec"]) for r in cents.collect()]
    cent_ids = np.array([int(c) for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([np.asarray(v, dtype=np.float64) for _, v in cent_rows])
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    cent_pos = {int(c): i for i, (c, _) in enumerate(cent_rows)}

    # --- PQ codebooks from a fixed-size hash-ordered residual sample --
    sample = (
        embeddings.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_n).select(vec_col).collect()
    )
    smat = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in sample])
    sn = np.linalg.norm(smat, axis=1)
    sn[sn == 0] = 1.0
    ssims = (smat @ cmat.T) / sn[:, None] / cnorm[None, :]
    sassign = np.lexsort(
        (np.broadcast_to(cent_ids, ssims.shape), -ssims), axis=-1)[:, 0]
    books = _train_pq_codebooks(smat - cmat[sassign], m_sub, ksub)

    # --- encode: map-side (cent assignment + per-subspace argmin) -----
    enc_schema = T.StructType([
        T.StructField("item_id", embeddings.schema[id_col].dataType, False),
        T.StructField("cent_id", T.LongType(), False),
        T.StructField("codes", T.ArrayType(T.IntegerType()), False),
    ])

    def encode(batches, _cids=cent_ids, _cmat=cmat, _cn=cnorm, _books=books):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64)
                              for v in pdf[vec_col]])
            vn = np.linalg.norm(mat, axis=1)
            vn[vn == 0] = 1.0
            sims = (mat @ _cmat.T) / vn[:, None] / _cn[None, :]
            order = np.lexsort(
                (np.broadcast_to(_cids, sims.shape), -sims), axis=-1)
            pos = order[:, 0]
            resid = mat - _cmat[pos]
            codes = np.empty((len(mat), m_sub), dtype=np.int32)
            for m in range(m_sub):
                block = resid[:, m * dsub:(m + 1) * dsub]
                d2 = ((block[:, None, :] - _books[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame({
                "item_id": pdf[id_col],
                "cent_id": _cids[pos],
                "codes": list(codes),
            })

    encoded = embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema=enc_schema)

    # --- query side: probes + per-(query, cell) ADC lookup tables -----
    def _key(v):
        return v.item() if hasattr(v, "item") else v

    q_rows = queries.select(id_col, vec_col).collect()  # queries are tiny
    luts: dict = {}
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        qn = np.linalg.norm(qv) or 1.0
        qsims = (cmat @ qv) / qn / cnorm
        order = np.lexsort((cent_ids, -qsims))
        for ci in order[:min(nprobe, len(cent_ids))]:
            cid = int(cent_ids[ci])
            bias = float(qv @ cmat[ci])
            lut = np.array([qv[m * dsub:(m + 1) * dsub] @ books[m].T
                            for m in range(m_sub)])  # m_sub x ksub
            luts[(_key(r[id_col]), cid)] = (bias, lut)
    probes = [(qid, cid) for (qid, cid) in luts]
    probes_df = embeddings.sparkSession.createDataFrame(
        probes, schema=T.StructType([
            T.StructField("query_id", embeddings.schema[id_col].dataType, False),
            T.StructField("cent_id", T.LongType(), False)]))

    @F.pandas_udf(T.DoubleType())
    def adc(query_ids: pd.Series, cent_ids_s: pd.Series,
            codes: pd.Series) -> pd.Series:
        import numpy as np

        out = np.empty(len(query_ids), dtype=np.float64)
        ms = np.arange(m_sub)
        for i, (qid, cid, cd) in enumerate(
                zip(query_ids, cent_ids_s, codes)):
            bias, lut = luts[(_key(qid), int(cid))]
            out[i] = bias + lut[ms, np.asarray(cd, dtype=np.int64)].sum()
        return pd.Series(out)

    cand = (
        encoded.join(F.broadcast(probes_df), "cent_id")
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("adc_ip", adc("query_id", "cent_id", "codes"))
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.desc("adc_ip"), F.asc("item_id"))
    survivors = (cand.withColumn("prerank", F.row_number().over(w_pre))
                 .filter(F.col("prerank") <= rerank)
                 .select("query_id", "item_id"))

    # --- exact re-rank on the Q x rerank survivors --------------------
    base = embeddings.select(F.col(id_col).alias("item_id"),
                             F.col(vec_col).alias("item_vec"))
    qdf = queries.select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("query_vec"))
    exact = (base.join(F.broadcast(survivors), "item_id")
             .join(F.broadcast(qdf), "query_id"))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        _norm(F.col("item_vec")) * _norm(F.col("query_vec")))
    scored = exact.select("query_id", "item_id", F.round(sim, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             kmeans_iters: int = 2) -> DataFrame:
    """IVF-style ANN: deterministic seed sample -> ``kmeans_iters``
    Lloyd refinements (map-side matmul assignment + per-partition
    partial sums; see _lloyd_refine), items assigned to their nearest
    centroid MAP-SIDE (closure-broadcast centroid matrix, one numpy
    matmul per Arrow batch — no crossJoin, no per-vector window),
    query probes the ``nprobe`` nearest centroid lists."""
    # ORDER-STABLE deterministic sample: hash-order + id tiebreak, then
    # limit. orderBy+limit compiles to TakeOrderedAndProject (distributed
    # per-partition top-k + driver merge of n_centroids rows — no
    # single-partition funnel, no partition-order dependence the way a
    # bare limit() has).
    cents = (
        embeddings.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    if kmeans_iters > 0:
        cents = _lloyd_refine(embeddings, cents, kmeans_iters, vec_col, id_col)
    # centroids are driver-known (tiny by construction) -> captured in
    # the assignment UDF closure: both assignment and probing are pure
    # map-side matmuls, no crossJoin, no per-vector window, no exchange
    # over the crossed set (the round-2 100x-scale killer).
    cent_rows = [(r["cent_id"], r["cent_vec"]) for r in cents.collect()]
    assign_udf = _nearest_centroids_udf(cent_rows, 1)
    probe_udf = _nearest_centroids_udf(cent_rows, nprobe)

    assigned = embeddings.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("item_vec"),
        assign_udf(F.col(vec_col)).getItem(0).alias("cent_id"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        F.explode(probe_udf(F.col(vec_col))).alias("cent_id"),
    )
    cand = assigned.join(F.broadcast(probes), "cent_id") \
        .filter(F.col("item_id") != F.col("query_id"))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        _norm(F.col("item_vec")) * _norm(F.col("query_vec")))
    scored = cand.select("query_id", "item_id", F.round(sim, 6).alias("cosine")) \
        .dropDuplicates(["query_id", "item_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def ivfpq_recall_report(embeddings: DataFrame, n_queries: int = 50,
                        k: int = 10, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        **ivfpq_kwargs) -> DataFrame:
    """Measured recall@k of the IVF+PQ index against exact brute-force
    cosine, on the CORPUS'S OWN vectors (the first ``n_queries`` ids
    as queries) — the per-dataset quantization-error instrument the
    ``_verified`` plants can't give (plants sit in the ~0.993-cosine
    regime where recall is ~1 by construction; real corpus neighbors
    spread across the angle distribution, which is where PQ's
    sub-byte codes actually lose candidates).

    One row per query: (query_id, hits, k, recall) with hits = |IVFPQ
    top-k ∩ exact top-k|. Both sides exclude self-matches and share
    the same (cosine desc, id asc) tie order, so the intersection is
    deterministic. Scale shape: brute force is the documented
    broadcast-queries baseline (one corpus scan), IVFPQ the production
    path — the report costs one extra scan over running both, and is
    meant to be sampled (n_queries fixed), not run per-query at 10^12
    rows. The pytest floor pins recall on the driver corpus; the
    rows-only suite entry (sim_ivfpq_recall) records it per round."""
    queries = embeddings.filter(F.col(id_col) < n_queries)
    brute = cosine_topk(embeddings, queries, k, vec_col, id_col)
    approx = ivfpq_topk(embeddings, queries, k=k, vec_col=vec_col,
                        id_col=id_col, **ivfpq_kwargs)
    hits = (brute.select("query_id", "item_id")
            .join(approx.select("query_id", "item_id"),
                  ["query_id", "item_id"], "left_semi")
            .groupBy("query_id").agg(F.count("*").alias("hits")))
    qids = brute.select("query_id").distinct()
    return (qids.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("hits", F.lit(0)).alias("hits"),
                    F.lit(k).alias("k"),
                    F.round(F.coalesce("hits", F.lit(0)) / F.lit(k), 4)
                    .alias("recall")))


def mmr_select(embeddings: DataFrame, queries: DataFrame, k: int = 4,
               pool: int = 12, lam: float = 0.7,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) — the diversity-aware retrieval step a training-data
    curation pipeline runs after top-k: from each query's ``pool``
    most-relevant candidates, greedily pick ``k`` items maximizing

        score(i) = lam * rel(i) - (1 - lam) * max_{s in S} sim(i, s)

    (S = already-selected; round 1 has S = {} so score = lam * rel).

    Scale shape: the corpus-sized work is exactly cosine_topk's
    broadcast-query stream (one pass); everything after runs on the
    Q x pool candidate table and its Q x pool^2 pairwise-sim table —
    driver-tiny, and the k greedy rounds extend ONE lazy plan (no
    per-round action). Determinism: relevance and pairwise sims on
    the 6-dp cosine grid, and the score arithmetic runs in EXACT
    decimal (rel/sim cast decimal(9,6), lam an exact 6-dp decimal
    literal) then HALF_UP-rounds to the 6-dp grid — double round()
    here is a half-ulp trap (Spark rounds the shortest decimal
    string, DuckDB the binary value, so lam*rel landing on a
    .xxxxxx5 boundary diverges); exact decimal + decimal round is
    bit-identical in both engines. Argmax ties break on item_id —
    the DuckDB oracle unrolls the same rounds bit-exactly."""
    # localCheckpoint the Q x pool candidate table: every greedy round
    # references it (directly and via psim), and Spark reuses NOTHING
    # across references in one plan — without this the corpus-sized
    # cosine_topk subtree replays per round (measured: 158 parquet
    # scans in the k=4 executed plan; 1 after). Lazy: materializes on
    # the first action, tiny (pool rows per query) thereafter.
    cands = cosine_topk(embeddings, queries, k=pool,
                        vec_col=vec_col, id_col=id_col) \
        .select("query_id", "item_id", F.col("cosine").alias("rel")) \
        .localCheckpoint(eager=False)
    vecs = with_norms(embeddings, vec_col).select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("v"), "norm")
    cv = cands.join(vecs, "item_id").select("query_id", "item_id", "rel",
                                            "v", "norm")
    a = cv.select("query_id", F.col("item_id").alias("ia"),
                  F.col("v").alias("va"), F.col("norm").alias("na"))
    b = cv.select("query_id", F.col("item_id").alias("ib"),
                  F.col("v").alias("vb"), F.col("norm").alias("nb"))
    # same treatment for the Q x pool^2 pairwise-sim table: it joins
    # the corpus-sized vector attach once, then rounds 2..k reuse the
    # materialized rows instead of replaying the attach per round
    psim = (a.join(b, "query_id")
            .filter(F.col("ia") != F.col("ib"))
            .select("query_id", "ia", "ib",
                    F.round(_dot(F.col("va"), F.col("vb"))
                            / (F.col("na") * F.col("nb")), 6).alias("sim"))
            .localCheckpoint(eager=False))
    lam_q = round(float(lam), 6)
    lam_c = F.lit(format(lam_q, ".6f")).cast("decimal(8,6)")
    one_m = F.lit(format(round(1.0 - lam_q, 6), ".6f")).cast("decimal(8,6)")

    def score_of(maxsim_col):
        # decimal(8,6) x decimal(9,6) -> exact scale-12 decimal; the
        # 6-dp HALF_UP round is then exact decimal rounding, identical
        # in Spark and DuckDB (double round() diverges on .5 ulps)
        raw = (lam_c * F.col("rel").cast("decimal(9,6)")
               - one_m * maxsim_col.cast("decimal(9,6)"))
        return F.round(raw, 6).cast("double")

    def pick(scored: DataFrame, rnd: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("item_id"))
        return (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("query_id", "item_id", "rel", "score",
                        F.lit(rnd).alias("round")))

    sel = pick(cands.select("query_id", "item_id", "rel",
                            score_of(F.lit(0)).alias("score")),
               1)
    for rnd in range(2, k + 1):
        remaining = cands.join(sel.select("query_id", "item_id"),
                               ["query_id", "item_id"], "left_anti")
        maxsim = (psim.join(sel.select("query_id",
                                       F.col("item_id").alias("ib")),
                            ["query_id", "ib"])
                  .groupBy("query_id", F.col("ia").alias("item_id"))
                  .agg(F.max("sim").alias("maxsim")))
        scored = (remaining.join(maxsim, ["query_id", "item_id"], "left")
                  .select("query_id", "item_id", "rel",
                          score_of(F.coalesce("maxsim", F.lit(0.0)))
                          .alias("score")))
        sel = sel.unionByName(pick(scored, rnd))
    return sel.select("query_id", F.col("round"), "item_id", "rel", "score")


def kcenter_select(embeddings: DataFrame, k: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Gonzalez greedy k-center coreset selection over an embedding
    column — the classic 2-approximation to the k-center objective and
    a standard diversity-first data-pruning pass for training corpora
    (pick the k mutually-farthest exemplars; every other point is
    within the final covering radius of one of them).

    Deterministic protocol (so the DuckDB twin is bit-exact, suite
    ``sample_kcenter``): the first center is the smallest id; distance
    is (1 - cosine) rounded to the 6-dp grid (the sim family's
    published grid, identical in both engines on these inputs); each round selects the point with the
    MAXIMUM current distance-to-selected-set, ties broken by smallest
    id. ``sel_dist`` is that max-min distance at selection time — the
    covering radius of the PREVIOUS center set, so the sequence is the
    standard k-center radius curve (non-increasing).

    Scale shape: the selection loop is inherently k-sequential
    (Gonzalez), but each round is corpus-PARALLEL: one broadcast of the
    newly-picked center vector, one narrow least()-projection updating
    the running min-distance, and one TakeOrdered(1) action — never a
    pairwise join, never a collect of the corpus. State (id, vec,
    mind) is lazily checkpointed per round so the plan stays flat at
    any k. Per-round cost is one scan of N rows; total k scans —
    the distributed k-center pattern (cf. Gonzalez 1985; used by
    coreset pipelines at corpus scale).
    """
    iid, vec = F.col(id_col), F.col(vec_col)
    base = (embeddings
            .select(iid.alias("_id"), vec.alias("_vec"),
                    _norm(vec).alias("_nrm"))
            .localCheckpoint(eager=False))

    first = base.orderBy("_id").limit(1).collect()[0]
    centers = [(0, first["_id"], None)]
    cvec, cnrm = first["_vec"], first["_nrm"]

    def dist_to(cv, cn):
        carr = F.array(*[F.lit(float(x)) for x in cv])
        cos = _dot(F.col("_vec"), carr) / (F.col("_nrm") * F.lit(float(cn)))
        return F.round(F.lit(1.0) - cos, 6)

    state = (base.select("_id", "_vec", "_nrm",
                         dist_to(cvec, cnrm).alias("_mind"))
             .localCheckpoint(eager=False))
    for rnd in range(1, k):
        nxt = (state.orderBy(F.desc("_mind"), F.asc("_id"))
               .limit(1).collect()[0])
        centers.append((rnd, nxt["_id"], float(nxt["_mind"])))
        if rnd < k - 1:
            state = (state.select(
                "_id", "_vec", "_nrm",
                F.least("_mind",
                        dist_to(nxt["_vec"], nxt["_nrm"])).alias("_mind"))
                .localCheckpoint(eager=False))

    spark = embeddings.sparkSession
    return spark.createDataFrame(
        centers, schema="sel_round INT, " + id_col + " BIGINT, "
                        "sel_dist DOUBLE")


def sq8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             rerank: int = 32, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Scalar-quantization (SQ8) ANN: every vector is compressed to
    one uint8 code per dimension on the corpus's per-dim [min, max]
    grid (the FAISS SQ8 index family); candidates are preselected by
    the asymmetric ADC inner product — the item RECONSTRUCTED from its
    code (lo + c/scale), the query kept float (a raw code x code dot
    has per-dim affine bias terms that break the ranking) — and the
    top ``rerank`` survivors per query get the exact float cosine
    re-rank. The stored index is 1 byte/dim: 4x less memory traffic
    than a float scan. Inner-product preselection assumes roughly
    comparable item norms (normalize the corpus first otherwise).
    Completes the ANN compression ladder next to brute / LSH / IVF /
    IVF-PQ.

    Per-dim bounds come from ONE corpus aggregate (64 scalars,
    collected and folded back as literals — the centroid-collect
    pattern); codes are a JVM transform; preselection is a broadcast-
    query scan with a double ADC aggregate, top-rerank per query a
    window; only the survivors touch float vectors again.
    """
    dim = len(queries.select(vec_col).first()[0])
    bounds = embeddings.agg(
        *[F.min(F.col(vec_col)[i].cast("double")).alias(f"lo{i}")
          for i in range(dim)],
        *[F.max(F.col(vec_col)[i].cast("double")).alias(f"hi{i}")
          for i in range(dim)]).collect()[0]
    lo = [float(bounds[f"lo{i}"]) for i in range(dim)]
    hi = [float(bounds[f"hi{i}"]) for i in range(dim)]
    scale = [255.0 / (hi[i] - lo[i]) if hi[i] > lo[i] else 0.0
             for i in range(dim)]

    def codes(col):
        return F.array(*[
            F.greatest(F.lit(0), F.least(F.lit(255), F.round(
                (col[i].cast("double") - F.lit(lo[i])) * F.lit(scale[i]),
                0).cast("int"))) for i in range(dim)])

    base = embeddings.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("item_vec"),
        _norm(F.col(vec_col)).alias("inorm"),
        codes(F.col(vec_col)).alias("icode"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        _norm(F.col(vec_col)).alias("qnorm"))
    # asymmetric ADC: reconstruct the item from its code (lo + c/scale)
    # and dot against the FLOAT query — the standard SQ distance
    # computation (a raw code x code dot has per-dim affine bias terms
    # that break the ranking)
    recon = F.transform(
        F.col("icode"),
        lambda c, i: F.element_at(F.array(*[F.lit(v) for v in lo]), i + 1)
        + c.cast("double")
        / F.element_at(F.array(*[F.lit(s if s else 1.0) for s in scale]),
                       i + 1))
    adc = F.aggregate(
        F.zip_with(recon, F.col("query_vec"),
                   lambda a, b: a * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (base.crossJoin(F.broadcast(q))
            .filter(F.col("item_id") != F.col("query_id"))
            .select("query_id", "item_id", "item_vec", "inorm",
                    "query_vec", "qnorm", adc.alias("idot")))
    wpre = Window.partitionBy("query_id").orderBy(F.desc("idot"),
                                                  F.asc("item_id"))
    surv = (cand.withColumn("prn", F.row_number().over(wpre))
            .filter(F.col("prn") <= rerank))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        F.col("inorm") * F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("item_id"))
    return (surv.select("query_id", "item_id",
                        F.round(sim, 6).alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "item_id", "cosine", "rank"))


def matryoshka_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    prefix_dim: int = 16, rerank: int = 32,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: preselect by cosine over
    the FIRST ``prefix_dim`` dimensions only (the coarse head of a
    matryoshka-trained embedding — 4x less compute and memory traffic
    at prefix 16/64), then exact full-dimension cosine re-rank of the
    top ``rerank`` survivors. The production pattern behind
    adaptive-retrieval stacks (Kusupati et al. 2022); with generic
    embeddings the prefix is just a projection, so recall depends on
    how much mass the head carries — the verified suite query uses
    the planted near-dup regime where the head cosine is ~ the full
    cosine and top-1 recall is exact.
    """
    pre = F.slice(F.col(vec_col), 1, prefix_dim)
    base = embeddings.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("item_vec"),
        _norm(F.col(vec_col)).alias("inorm"),
        pre.alias("ipre"), _norm(pre).alias("ipnorm"))
    qpre = F.slice(F.col(vec_col), 1, prefix_dim)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        _norm(F.col(vec_col)).alias("qnorm"),
        qpre.alias("qpre"), _norm(qpre).alias("qpnorm"))
    psim = _dot(F.col("ipre"), F.col("qpre")) / (
        F.col("ipnorm") * F.col("qpnorm"))
    cand = (base.crossJoin(F.broadcast(q))
            .filter(F.col("item_id") != F.col("query_id"))
            .select("query_id", "item_id", "item_vec", "inorm",
                    "query_vec", "qnorm", psim.alias("psim")))
    wpre = Window.partitionBy("query_id").orderBy(F.desc("psim"),
                                                  F.asc("item_id"))
    surv = (cand.withColumn("prn", F.row_number().over(wpre))
            .filter(F.col("prn") <= rerank))
    sim = _dot(F.col("item_vec"), F.col("query_vec")) / (
        F.col("inorm") * F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("item_id"))
    return (surv.select("query_id", "item_id",
                        F.round(sim, 6).alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "item_id", "cosine", "rank"))
