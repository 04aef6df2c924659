"""Similarity search over an embedding column (array<float>).

Two paths:

* :func:`brute_force_topk` — exact cosine top-k. Query side is small (a
  handful of probe vectors) → broadcast; the scan side streams once through
  a JVM-side dot product. Exact and fine whenever |queries| is small.
* :func:`lsh_bucketed_topk` — the 100 TB path: random-hyperplane LSH (SRP).
  Each vector gets a b-bit signature from sign(v·rᵢ) with deterministic
  pseudo-random planes; candidates are vectors sharing a bucket with the
  query in any of ``tables`` independent tables. Only candidates get exact
  cosine, turning a full-corpus scan into bucket-sized probes.

All vector math via zip_with/aggregate (functions/vectors.py) — codegen'd,
no UDF, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity
from ..operators.partitioning import spread


def _hadoop_path_exists(spark, path: str) -> bool:
    """Scheme-agnostic existence probe through the session's Hadoop FS
    (works for file://, hdfs://, s3a:// alike) — the explicit check the
    incremental index bootstrap uses instead of sniffing exception text.
    Driver-side metadata call; no Spark job."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Deterministic result: ties broken by (similarity DESC, corpus id ASC),
    similarity rounded to 6 dp to absorb float-order noise.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    joined = spread(corpus).crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = joined.withColumn(
        "cosine",
        F.round(cosine_similarity(F.col(vec_col), F.col("__qvec")), 6),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _scored_against_centroids(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """df × centroids with per-pair cosine in ``__sim``.

    Centroids are MODEL state (n_clusters × dim floats — KB) shipped as a
    broadcast DataFrame — the analogue of MLlib's broadcast model. A
    broadcast cross join of |df| × n_clusters narrow rows plus a zip_with
    cosine stays whole-stage-codegen'd; the earlier all-literals expression
    form (1024 inlined doubles for 16×64) made Catalyst/codegen the
    bottleneck — measured 12s vs ~2s for the same work at sf0.1.
    """
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        schema="cid INT, cv ARRAY<DOUBLE>",
    )
    return df.crossJoin(F.broadcast(cdf)).withColumn(
        "__sim",
        cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("cv")),
    ).drop("cv")


def _assign_nearest(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vector, cid) with cid = argmax-cosine centroid; ties → lowest
    cid. One agg per id: max(struct(sim, -cid, vec)) — the struct order
    makes the tie-break total, and the vector rides along so no join-back
    is needed."""
    scored = _scored_against_centroids(df, centroids, vec_col)
    packed = F.max(
        F.struct(
            F.col("__sim").alias("s"),
            (-F.col("cid")).alias("nc"),
            F.col(vec_col).alias("v"),
        )
    ).alias("b")
    return (
        scored.groupBy(id_col)
        .agg(packed)
        .select(
            id_col,
            F.col("b.v").alias(vec_col),
            (-F.col("b.nc")).cast("int").alias("cid"),
        )
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Seeds = the ``n_clusters`` vectors with smallest ``xxhash64(id)`` — a
    uniform, reproducible pseudo-random sample taken with one TakeOrdered
    pass (no full sort materialized). Each refinement iteration is one
    projection (assign, shuffle-free) + one (cid, dim)-keyed aggregation
    whose output is n_clusters × dim cells — the only thing ever collected.
    """
    from ..planmode import is_plan_only

    if is_plan_only():
        # plan-only (explain/audit): placeholder centroids — the model is
        # a broadcast k×dim literal table either way, so the serving plan
        # shape is identical and no training job runs
        return [
            (i, [1.0 if j == i % 64 else 0.0 for j in range(64)])
            for i in range(n_clusters)
        ]
    # training touches the (id, vector) projection 1 + iters times →
    # persist it (at 100 TB: MEMORY_AND_DISK on the cluster; id+vector is a
    # small fraction of full rows thanks to column pruning)
    vecs = spread(corpus).select(id_col, vec_col).persist()
    try:
        seeds = (
            vecs.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(n_clusters)
            .collect()
        )
        cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
        for _ in range(iters):
            assigned = _assign_nearest(vecs, cents, id_col, vec_col).select(
                "cid", F.posexplode(vec_col).alias("pos", "v")
            )
            means = (
                assigned.groupBy("cid", "pos")
                .agg(F.avg(F.col("v").cast("double")).alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in means:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
            # empty clusters keep their previous centroid (standard Lloyd fix)
            cents = [
                (
                    cid,
                    [by_cid[cid][p] for p in sorted(by_cid[cid])]
                    if cid in by_cid
                    else prev,
                )
                for cid, prev in cents
            ]
        return cents
    finally:
        vecs.unpersist()


def quantize_micro_units(vec_col):
    """array<float> → array<bigint> micro-units — the cross-engine exact
    quantization contract shared with ``jl_project`` / the PCA oracle:
    ``round(CAST(x AS DOUBLE) · 10⁶)`` evaluates the identical IEEE
    double in Spark and DuckDB, so the integers are bit-equal."""
    return F.transform(
        vec_col,
        lambda x: F.round(x.cast("double") * F.lit(1000000.0)).cast(
            "bigint"
        ),
    )


def _scored_against_int_centroids(
    df: DataFrame, centroids: list[tuple[int, list[int]]], qcol: str
) -> DataFrame:
    """df × integer centroids with the EXACT squared Euclidean distance
    in ``__dist`` (micro-unit bigints: coords ≤ ~2·10⁶ ⇒ Σ64 squared
    diffs ≤ ~2.6·10¹⁴ — five orders below bigint overflow; the same
    broadcast-model cross join shape as `_scored_against_centroids`)."""
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in centroids],
        schema="cid INT, cv ARRAY<BIGINT>",
    )
    return df.crossJoin(F.broadcast(cdf)).withColumn(
        "__dist",
        F.aggregate(
            F.zip_with(
                F.col(qcol), F.col("cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    ).drop("cv")


def assign_nearest_int(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str,
    qcol: str,
) -> DataFrame:
    """(…df cols…, cid) with cid = argmin-distance integer centroid;
    ties → lowest cid — a total, engine-independent order because the
    distances are exact integers (min(struct(dist, cid)) packs the
    tie-break into one agg, mirroring `_assign_nearest`)."""
    scored = _scored_against_int_centroids(df, centroids, qcol)
    others = [c for c in df.columns if c != id_col]
    packed = F.min(
        F.struct(
            F.col("__dist").alias("d"),
            F.col("cid").alias("c"),
            *[F.col(x).alias(f"x{i}") for i, x in enumerate(others)],
        )
    ).alias("b")
    return (
        scored.groupBy(id_col)
        .agg(packed)
        .select(
            id_col,
            *[F.col(f"b.x{i}").alias(x) for i, x in enumerate(others)],
            F.col("b.c").cast("int").alias("cid"),
        )
    )


def train_ivf_centroids_exact(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """Lloyd's k-means in EXACT fixed point — the certification twin of
    :func:`train_ivf_centroids`, built so the ENTIRE training loop has a
    digit-identical DuckDB unrolled-CTE oracle (the
    ``pagerank_exact_int`` / ``pca_power_iteration`` recipe, round-5
    verdict item 1):

    * vectors quantized to micro-unit bigints (`quantize_micro_units`);
    * seeds = the ``n_clusters`` smallest-md5(id) vectors (one
      TakeOrdered, O(k·dim) driver pull at any corpus size);
    * assignment = argmin exact integer squared Euclidean distance,
      ties → lowest cid (total order, no float comparisons anywhere);
    * update = per-(cid, dim) half-up division of the micro-unit sum by
      the member count (``half_up_div`` — the shared floor formula every
      oracle mirrors); empty clusters keep their previous centroid.

    Each round is one broadcast-assign projection + one (cid, dim)-keyed
    aggregation whose k×dim cells are the only collect. Scale note: the
    micro-unit cluster sums stay < 2·10⁶·n, so bigint holds to n ≈ 10¹²
    members per cluster; beyond that promote the sum to decimal(38,0)
    like the covariance query does.
    """
    from ..functions.exact import half_up_div
    from ..planmode import is_plan_only

    if is_plan_only():
        return [
            (i, [1000000 if j == i % 64 else 0 for j in range(64)])
            for i in range(n_clusters)
        ]
    vecs = (
        spread(corpus)
        .select(id_col, quantize_micro_units(F.col(vec_col)).alias("__q"))
        .persist()
    )
    try:
        seeds = (
            vecs.orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            )
            .limit(n_clusters)
            .collect()
        )
        cents = [(i, [int(x) for x in r["__q"]]) for i, r in enumerate(seeds)]
        if not cents:
            raise ValueError(
                "train_ivf_centroids_exact: empty training corpus — "
                "refusing to train a model with no seeds (the caller's "
                "slice predicate selected zero vectors)"
            )
        dim = len(cents[0][1])
        for _ in range(iters):
            assigned = assign_nearest_int(vecs, cents, id_col, "__q").select(
                "cid", F.posexplode("__q").alias("pos", "v")
            )
            cells = (
                assigned.groupBy("cid", "pos")
                .agg(
                    half_up_div(
                        F.sum("v"), F.count(F.lit(1))
                    ).alias("m")
                )
                .collect()
            )
            by_cid: dict[int, dict[int, int]] = {}
            for r in cells:
                by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(
                    r["m"]
                )
            cents = [
                (
                    cid,
                    [by_cid[cid][p] for p in range(dim)]
                    if cid in by_cid
                    else prev,
                )
                for cid, prev in cents
            ]
        return cents
    finally:
        vecs.unpersist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into inverted lists
    keyed by nearest centroid; each query probes only its ``n_probe``
    nearest lists, then exact cosine ranks the candidates.

    The 100 TB shape: corpus assignment is a pure projection (write once,
    partitionBy(cid) → probes become partition-pruned scans); the
    query⋈corpus join is on cid with the tiny query side broadcast. Probing
    n_probe/n_clusters of the corpus bounds work at roughly that fraction
    of a full scan — the recall/cost dial is (n_clusters, n_probe).
    """
    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, n_clusters, iters, id_col, vec_col
    )
    c = _assign_nearest(spread(corpus), cents, id_col, vec_col).withColumnRenamed(
        vec_col, "__cvec"
    )
    # per-query top-n_probe centroids: the scored side is |queries| ×
    # n_clusters rows — window over that tiny set, never over the corpus
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__sim").desc(), F.col("cid").asc()
    )
    q = (
        _scored_against_centroids(queries, cents, vec_col)
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= n_probe)
        .select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec"), F.col("cid")
        )
    )
    cand = c.join(F.broadcast(q), on="cid").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity(F.col("__cvec"), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def pq_seed_codebooks(
    corpus: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[int]]]:
    """Product-quantization codebooks (Jégou et al. 2011) with FIXED
    md5-derived seeds, DuckDB-reproducible: for subspace ``s`` the
    codebook is the micro-unit SUBvectors (dims s·sub_dim …) of the
    ``n_codes`` corpus vectors with smallest md5(id ‖ ':pq' ‖ s) — a
    different deterministic sample per subspace, each one TakeOrdered of
    n_codes×sub_dim cells (O(model) at any corpus size; plan-only mode
    returns placeholders, no job). Returns (s, code, subvec) triples;
    code = rank in the seed order, the tie-break ID the encoder uses."""
    from ..planmode import is_plan_only

    if is_plan_only():
        return [
            (s, c, [1000000 if d == c % sub_dim else 0 for d in range(sub_dim)])
            for s in range(n_sub)
            for c in range(n_codes)
        ]
    vecs = corpus.select(
        id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
    )
    out: list[tuple[int, int, list[int]]] = []
    for s in range(n_sub):
        seeds = (
            vecs.orderBy(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(f":pq{s}")
                    )
                ),
                F.col(id_col),
            )
            .limit(n_codes)
            .select(
                F.slice(F.col("__q"), s * sub_dim + 1, sub_dim).alias("sv")
            )
            .collect()
        )
        out += [(s, c, [int(x) for x in r["sv"]]) for c, r in enumerate(seeds)]
    return out


def _pq_codebook_df(spark, codebooks: list[tuple[int, int, list[int]]]):
    return spark.createDataFrame(
        [(int(s), int(c), [int(x) for x in v]) for s, c, v in codebooks],
        schema="s INT, c INT, cv ARRAY<BIGINT>",
    )


def _pq_subvectors(df: DataFrame, qcol: str, n_sub: int, sub_dim: int):
    """(…, s, sv): each row exploded into its n_sub micro-unit
    subvectors — the narrow long form both PQ stages consume."""
    others = [c for c in df.columns if c != qcol]
    return df.select(
        *others,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                lambda s: F.slice(
                    F.col(qcol), s * sub_dim + F.lit(1), sub_dim
                ),
            )
        ).alias("s", "sv"),
    )


def _pq_adc_table(
    qdf: DataFrame,
    query_id_col: str,
    qcol: str,
    cdf: DataFrame,
    n_sub: int,
    sub_dim: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Per-query ADC distance TABLE (query_id, s, code, __d): exact
    integer squared distance from each query subvector to every
    codebook entry — |queries|·n_sub·n_codes rows, broadcastable. The
    ONE implementation all ADC consumers share (pq_adc_topk, the
    IVF+PQ composition, the persisted-index serve): their oracle
    equivalence depends on this arithmetic being identical."""
    return (
        _pq_subvectors(qdf, qcol, n_sub, sub_dim)
        .join(F.broadcast(cdf), on="s")
        .select(
            query_id_col,
            *(extra_cols or []),
            "s",
            F.col("c").alias("code"),
            F.aggregate(
                F.zip_with(
                    F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("__d"),
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[tuple[int, int, list[int]]],
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode: (id, s, code) — each vector compressed to ``n_sub``
    small integers (the 100 TB memory story: 8 codes ≈ 8 bytes/vector
    vs 256 bytes of float32; the ADC search below never touches the raw
    vectors again). code = argmin exact integer squared distance to the
    subspace codebook, ties → lowest code. Long (id, s, code) layout so
    encoding is one broadcast-join + one agg — no wide pivot."""
    spark = corpus.sparkSession
    cdf = _pq_codebook_df(spark, codebooks)
    return _pq_encode_frame(
        spread(corpus).select(
            id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
        ),
        "__q",
        cdf,
        n_sub,
        sub_dim,
        id_col,
    )


def _pq_encode_frame(
    qframe: DataFrame,
    qcol: str,
    cdf: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str,
) -> DataFrame:
    """The ONE PQ argmin-encode implementation (id, s, code) — shared by
    raw-vector encode (:func:`pq_encode`) and residual encode (the
    residual IVFPQ index), so their oracle equivalence rests on a single
    piece of arithmetic: exact integer squared distance, ties → lowest
    code (min of (d, c) structs)."""
    subs = _pq_subvectors(qframe, qcol, n_sub, sub_dim).select(
        id_col, F.col("s"), F.col("sv")
    )
    scored = subs.join(F.broadcast(cdf), on="s").withColumn(
        "__d",
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    packed = F.min(F.struct(F.col("__d").alias("d"), F.col("c").alias("c")))
    return (
        scored.groupBy(id_col, "s")
        .agg(packed.alias("b"))
        .select(id_col, "s", F.col("b.c").cast("int").alias("code"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[tuple[int, int, list[int]]],
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    distance TABLE to every codebook entry (n_sub×n_codes integers —
    query-batch-sized, broadcast), then every corpus vector scores as
    the SUM of table lookups at its codes — one broadcast equi-join on
    (s, code) + one groupBy; the raw vectors never participate.
    Approximation error = quantization only; arithmetic is exact
    integers, so ranking is a total order and the whole pipeline has a
    digit-identical DuckDB twin (pq_adc_topk registry query). Pass
    ``codes`` to serve from a precomputed/persisted encoding."""
    spark = corpus.sparkSession
    cdf = _pq_codebook_df(spark, codebooks)
    enc = (
        codes
        if codes is not None
        else pq_encode(
            corpus, codebooks, n_sub, n_codes, sub_dim, id_col, vec_col
        )
    )
    table = _pq_adc_table(
        queries.select(
            query_id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
        ),
        query_id_col,
        "__q",
        cdf,
        n_sub,
        sub_dim,
    )
    scored = (
        enc.join(F.broadcast(table), on=["s", "code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", "rank")
    )


def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    codebooks: list[tuple[int, int, list[int]]],
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the faiss-style IVFPQ index: per vector only (id, codes
    array, cid) — ~n_sub bytes of payload instead of the raw vector —
    written ``partitionBy(cid)`` under ``<path>/lists``; the integer
    centroids and PQ codebooks (model state, KB) beside them. This is
    the deployment shape ivf_pq_topk's docstring promises: a search
    reads n_probe PRUNED partitions of code columns; raw vectors never
    hit the serving store at all."""
    spark = corpus.sparkSession
    qemb = corpus.select(
        id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
    )
    assigned = assign_nearest_int(qemb, centroids, id_col, "__q").select(
        id_col, "cid"
    )
    codes = pq_encode(
        corpus, codebooks, n_sub, n_codes, sub_dim, id_col, vec_col
    )
    packed = codes.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x.code,
        ).alias("codes")
    )
    # REBALANCE-by-cid before every partitioned lists write (guide §6
    # small-files, optimization round 9 — the same layout rule as the
    # text index in ext/search.py): a bare partitionBy("cid") write from
    # T tasks creates up to T×|cids| files (measured 150–270 per vector
    # segment locally); clustering each cid into one task makes files ≈
    # live cids and sizes track the AQE advisory partition size.
    assigned.join(packed, on=id_col).hint("rebalance", "cid").write.partitionBy(
        "cid"
    ).mode("overwrite").parquet(f"{path}/lists")
    spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in centroids],
        schema="cid INT, cv ARRAY<BIGINT>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    _pq_codebook_df(spark, codebooks).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k against a persisted IVFPQ index: queries score against
    the stored integer centroids (probe-cid collect bounded at
    |queries|·n_probe), ONLY those list partitions are read
    (PartitionFilters — asserted in pytest), and candidates score by
    summed table lookups over their stored codes. Same results as
    :func:`pq_adc_topk` restricted to the probed lists (which is
    exactly ivf_pq_topk's semantics with the same model state)."""
    cents = sorted(
        (int(r["cid"]), [int(x) for x in r["cv"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    cdf = spark.read.parquet(f"{path}/codebooks")
    qemb = queries.select(
        query_id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__dist").asc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_int_centroids(qemb, cents, "__q")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= n_probe)
        .select(query_id_col, "__q", "cid")
        .localCheckpoint()  # consumed twice: cid collect + candidate join
    )
    probe_cids = sorted(
        {r["cid"] for r in probes.select("cid").distinct().collect()}
    )
    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("cid").isin(probe_cids)
    )
    table = _pq_adc_table(qemb, query_id_col, "__q", cdf, n_sub, sub_dim)
    cand = (
        lists.join(F.broadcast(probes.select(query_id_col, "cid")), on="cid")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.posexplode("codes").alias("s", "code"),
        )
    )
    scored = (
        cand.join(F.broadcast(table), on=[query_id_col, "s", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", "rank")
    )


def _residual_frame(
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, __rv): nearest-centroid assignment plus the exact
    integer micro-unit residual vector − centroid — the frame both the
    residual codebook seeding and the residual encode consume."""
    spark = corpus.sparkSession
    qemb = corpus.select(
        id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
    )
    cdf_cent = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in centroids],
        schema="cid INT, cv ARRAY<BIGINT>",
    )
    assigned = assign_nearest_int(qemb, centroids, id_col, "__q")
    return assigned.join(F.broadcast(cdf_cent), on="cid").select(
        id_col,
        "cid",
        F.zip_with("__q", "cv", lambda a, b: a - b).alias("__rv"),
    )


def pq_seed_codebooks_residual(
    res: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    res_col: str = "__rv",
) -> list[tuple[int, int, list[int]]]:
    """Residual-seeded PQ codebooks, DuckDB-reproducible: for subspace
    ``s`` the codebook is the residual SUBvectors of the ``n_codes``
    rows with smallest md5(id ‖ ':pqr' ‖ s) — all ``n_sub`` subspaces
    seeded in ONE job (explode the subspace key, one window per
    subspace, collect the n_sub·n_codes model cells). Plan-only mode
    returns placeholders without running a job."""
    from ..planmode import is_plan_only

    if is_plan_only():
        return [
            (s, c, [1000000 if d == c % sub_dim else 0 for d in range(sub_dim)])
            for s in range(n_sub)
            for c in range(n_codes)
        ]
    ranked = (
        res.select(
            id_col,
            res_col,
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("s"),
        )
        .withColumn(
            "__hk",
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":pqr"),
                    F.col("s").cast("string"),
                )
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("s").orderBy("__hk", id_col)
            ),
        )
        .where(F.col("__rn") <= n_codes)
        .select(
            "s",
            (F.col("__rn") - 1).alias("c"),
            F.slice(
                F.col(res_col), F.col("s") * sub_dim + F.lit(1), F.lit(sub_dim)
            ).alias("sv"),
        )
        .collect()
    )
    return [
        (int(r["s"]), int(r["c"]), [int(x) for x in r["sv"]]) for r in ranked
    ]


def save_ivfpq_residual_index(
    corpus: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    codebooks: list[tuple[int, int, list[int]]] | None = None,
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the RESIDUAL-encoded IVFPQ index (faiss IndexIVFPQ's
    actual on-disk architecture — closes the gap between the certified
    residual composition ivfpq_residual_topk and the deployment shape):
    per vector only (id, residual code array, cid) partitionBy(cid)
    under ``<path>/lists`` — PQ codes quantize vector − centroid, so
    the stored 8 bytes spend their resolution where the data lives —
    plus the integer centroids and residual codebooks as model files.
    ``codebooks=None`` seeds them from the residuals
    (:func:`pq_seed_codebooks_residual`). Raw vectors never reach the
    serving store."""
    from ..planmode import checkpoint

    spark = corpus.sparkSession
    res = _residual_frame(corpus, centroids, id_col, vec_col)
    if codebooks is None:
        # the seeding and the encode both read the residual frame —
        # materialize once, lineage kept (executor-loss tolerant)
        res = checkpoint(res, reliable=True)
        codebooks = pq_seed_codebooks_residual(
            res, n_sub, n_codes, sub_dim, id_col
        )
    cdf = _pq_codebook_df(spark, codebooks)
    codes = _pq_encode_frame(
        res.select(id_col, "__rv"), "__rv", cdf, n_sub, sub_dim, id_col
    )
    packed = codes.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x.code,
        ).alias("codes")
    )
    res.select(id_col, "cid").join(packed, on=id_col).hint(
        "rebalance", "cid"
    ).write.partitionBy("cid").mode("overwrite").parquet(f"{path}/lists")
    # bloom from the WRITTEN lists (column-pruned id scan) — building
    # it from `res` would re-run the whole assignment lineage
    _vec_bloom_write(
        spark.read.parquet(f"{path}/lists").select(id_col),
        id_col,
        f"{path}/idbloom",
    )
    spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in centroids],
        schema="cid INT, cv ARRAY<BIGINT>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    _pq_codebook_df(spark, codebooks).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )


def delete_from_vector_index(
    ids: DataFrame, path: str, id_col: str = "vec_id"
) -> int:
    """Tombstone vectors out of a persisted index (takedown /
    decontamination — the vector-side twin of
    ext/search.py::delete_from_search_index): writes a DELETE SEGMENT
    of ids under ``<path>/deletes/<key>`` published by one atomic
    ``_committed`` create; the serve (:func:`ivfpq_residual_topk_indexed`)
    anti-joins tombstoned ids out of the candidate lists, so ranking
    equals a serve over the index without those vectors (model state —
    centroids, codebooks — deliberately unchanged, exactly like a faiss
    ``remove_ids``: quantizers are trained artifacts, not per-vector
    state; certified by the ivfpq_delete_serve twin). Physical removal
    is a rebuild (``save_*_index`` — the IVF re-cluster lifecycle in
    SCALING.md); unlike the text index the lists live in ONE directory,
    so there is no segment-merge compaction to piggyback on. Returns
    the number of newly tombstoned ids (ids not in the index tombstone
    harmlessly — the anti-join just never matches them)."""
    from .search import _content_batch_key, _fs_and_path

    spark = ids.sparkSession
    tgt = ids.select(id_col).distinct()
    # replay guard over LIVE tombstones only: a delete segment already
    # CONSUMED by a compaction must not absorb a re-delete — its ids
    # were physically removed, and if one was later re-appended
    # (compact-then-append resurrect), the new delete must land or the
    # takedown silently fails until vacuum clears the stale dir
    _, _, live_deletes = _vector_live_state(spark, path)
    if live_deletes:
        from functools import reduce

        seen = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(f"{d}/ids") for d in live_deletes],
        ).select(id_col)
        tgt = tgt.join(seen, on=id_col, how="left_anti")
    tgt = tgt.persist()
    n = tgt.count()
    if n == 0:
        return 0
    key = "d" + _content_batch_key(tgt, id_col)[1:]
    live_keys = {d.rsplit("/", 1)[1] for d in live_deletes}
    ddir = f"{path}/deletes/{key}"
    fs, d, jvm = _fs_and_path(spark, ddir)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(d, "_committed")):
        if key in live_keys:
            return 0  # genuine replay of a live tombstone
        # same content key but the segment was CONSUMED by a compaction
        # (not yet vacuumed): this is a RE-delete of physically-removed
        # then re-appended ids — it must land under a fresh key
        r = 2
        while True:
            ddir = f"{path}/deletes/{key}_r{r}"
            fs, d, jvm = _fs_and_path(spark, ddir)
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(d, "_committed")):
                break
            if f"{key}_r{r}" in live_keys:
                return 0
            r += 1
    tgt.write.mode("overwrite").parquet(f"{ddir}/ids")
    tgt.unpersist()
    fs.create(jvm.org.apache.hadoop.fs.Path(d, "_committed")).close()
    return n


def _gen_number(name: str) -> int:
    """Numeric order of a generation directory name ``g%06d``."""
    return int(name[1:])


# id-Bloom sidecar contract for the vector index — same lane/bit layout
# as the text index's idbloom (ext/search.py), distinct salt so the two
# families never alias each other's bit patterns
_VBLOOM_BITS = 122880
_VBLOOM_K = 3
_VBLOOM_SALT = "vidx"


def _vec_bloom_write(ids: DataFrame, id_col: str, out_dir: str) -> None:
    from .heavy_hitters import bloom_build

    bloom_build(
        ids.select(F.col(id_col).cast("string").alias("__id")),
        "__id",
        _VBLOOM_K,
        _VBLOOM_BITS,
        _VBLOOM_SALT,
        "xxhash64",
    ).write.mode("overwrite").parquet(out_dir)


def _vec_bloom_cond(key, lanes_map):
    """Membership conjunction against the merged per-segment id Blooms
    broadcast as a ``__lanes`` map — the vector-index twin of
    ext/search.py::_bloom_cond (same lane/bit contract, own salt)."""
    from .heavy_hitters import _bloom_pos

    cond = None
    for i in range(_VBLOOM_K):
        p = _bloom_pos(key, i, _VBLOOM_BITS, _VBLOOM_SALT, "xxhash64")
        lane_bits = F.coalesce(
            F.element_at(lanes_map, F.floor(p / 60).cast("bigint")),
            F.lit(0).cast("bigint"),
        )
        bit = F.pow(F.lit(2.0), F.pmod(p, F.lit(60))).cast("bigint")
        hit = lane_bits.bitwiseAND(bit) != 0
        cond = hit if cond is None else (cond & hit)
    return cond


def _vector_live_state(
    spark, path: str
) -> tuple[list[str], list[str], list[str]]:
    """Resolve a lifecycle'd vector index's serving state: the list of
    BASE lists paths (the newest committed generation's ``lists``, or
    the original ``<path>/lists`` if no compaction ever ran), the LIVE
    committed append dirs, and the LIVE committed delete dirs — live
    meaning not recorded as consumed by the chosen generation AND not
    retired by a size-tiered merge (a tiered append segment's
    ``_sources`` file names the append dirs it replaced — the text
    index's death-record mechanism; they die the instant the merged
    segment's own ``_committed`` lands). Each generation's ``consumed``
    parquet is CUMULATIVE (it copies its predecessor's rows), so one
    read of the newest generation settles every older dir's fate;
    uncommitted dirs (crashed writers) are invisible by construction
    (``_committed`` marker check)."""
    from .search import _committed_dirs, _read_sources

    gens = _committed_dirs(spark, f"{path}/gens")
    appends = _committed_dirs(spark, f"{path}/appends")
    deletes = _committed_dirs(spark, f"{path}/deletes")
    consumed: set[tuple[str, str]] = set()
    base = [f"{path}/lists"]
    if gens:
        newest = max(gens, key=_gen_number)
        gdir = gens[newest]
        base = [f"{gdir}/lists"]
        consumed = {
            (r["kind"], r["key"])
            for r in spark.read.parquet(f"{gdir}/consumed").collect()
        }
    tier_dead: set[str] = set()
    for d in appends.values():
        tier_dead.update(_read_sources(spark, d))
    live_appends = [
        d
        for k, d in sorted(appends.items())
        if ("append", k) not in consumed and f"appends/{k}" not in tier_dead
    ]
    live_deletes = [
        d for k, d in sorted(deletes.items()) if ("delete", k) not in consumed
    ]
    return base, live_appends, live_deletes


def _vector_lists(
    spark, path: str, id_col: str = "vec_id"
) -> tuple[DataFrame, DataFrame | None]:
    """(live lists frame, live tombstone ids or None) for a persisted
    vector index: base-generation lists unioned with live append
    segments (each scan keeps its own partitionBy(cid) layout, so a
    downstream ``cid`` filter prunes partitions in EVERY branch of the
    union), minus nothing yet — the tombstone anti-join is the caller's
    (it must land after the candidate-list probe filter)."""
    from functools import reduce

    base, live_appends, live_deletes = _vector_live_state(spark, path)
    lists = reduce(
        DataFrame.unionByName,
        [
            spark.read.parquet(p)
            for p in base + [f"{d}/lists" for d in live_appends]
        ],
    )
    tomb = None
    if live_deletes:
        tomb = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(f"{d}/ids") for d in live_deletes],
        ).select(id_col)
    return lists, tomb


def ivfpq_residual_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k against a persisted RESIDUAL IVFPQ index: queries
    score against the stored integer centroids, ONLY the probed list
    partitions are read (PartitionFilters — asserted in pytest), each
    query builds one ADC table PER PROBED LIST against its own residual
    (query − that list's centroid), and candidates score by summed
    lookups at their stored residual codes keyed on
    (query, cid, s, code). Tombstoned ids
    (:func:`delete_from_vector_index`) are anti-joined out of the
    candidate lists before scoring. Same deterministic semantics as the
    certified in-memory composition ivfpq_residual_topk with the same
    model state. Scale: tables are |queries|·n_probe·n_sub·n_codes
    integers (broadcast); the lists carry ~n_sub bytes per vector."""
    cents_df = spark.read.parquet(f"{path}/centroids")
    cents = sorted(
        (int(r["cid"]), [int(x) for x in r["cv"]])
        for r in cents_df.collect()
    )
    cdf_cent = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        schema="cid INT, cv ARRAY<BIGINT>",
    )
    cdf = spark.read.parquet(f"{path}/codebooks")
    qemb = queries.select(
        query_id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__dist").asc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_int_centroids(qemb, cents, "__q")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= n_probe)
        .select(query_id_col, "__q", "cid")
        .localCheckpoint()  # consumed twice: cid collect + candidate join
    )
    probe_cids = sorted(
        {r["cid"] for r in probes.select("cid").distinct().collect()}
    )
    # generation-aware resolution: newest committed compaction gen (or
    # the original lists) unioned with live append segments; the cid
    # filter pushes through the union into PartitionFilters on every
    # branch. Tombstones land AFTER the probe filter, so the anti-join
    # only touches candidate-list rows.
    lists, tombstoned = _vector_lists(spark, path, id_col)
    lists = lists.where(F.col("cid").isin(probe_cids))
    if tombstoned is not None:
        lists = lists.join(tombstoned, on=id_col, how="left_anti")
    qres = probes.join(F.broadcast(cdf_cent), on="cid").select(
        query_id_col,
        "cid",
        F.zip_with("__q", "cv", lambda a, b: a - b).alias("__rv"),
    )
    table = _pq_adc_table(
        qres, query_id_col, "__rv", cdf, n_sub, sub_dim,
        extra_cols=["cid"],
    )
    cand = (
        lists.join(
            F.broadcast(probes.select(query_id_col, "cid")), on="cid"
        )
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            "cid",
            F.posexplode("codes").alias("s", "code"),
        )
    )
    scored = (
        cand.join(F.broadcast(table), on=[query_id_col, "cid", "s", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", "rank")
    )


def append_to_vector_index(
    new_vectors: DataFrame,
    path: str,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors to a persisted residual-IVFPQ index WITHOUT
    retraining — faiss ``IndexIVFPQ.add`` semantics, and the vector
    twin of ext/search.py::append_to_search_index: the new batch is
    residual-encoded against the STORED model state (centroids +
    codebooks are trained artifacts and deliberately do not move) and
    written as one append segment ``<path>/appends/<key>/lists``
    (partitionBy(cid), same schema as the base lists) published by one
    atomic ``_committed`` create. The serve unions live segments with
    the base, so appended vectors rank identically to base vectors
    encoded under the same model. Replays are no-ops twice over: the
    order-independent two-hash content key dedupes exact batch replays,
    and an id anti-join against every serving segment drops rows whose
    id is already indexed — Bloom-GATED like the text index's append:
    every segment carries an ``idbloom`` sidecar whose mergeable lanes
    OR into one broadcast map, Bloom-negative rows skip the corpus id
    scan entirely, and only possible members pay the exact anti-join
    (O(batch) appends; pre-sidecar indexes fall back to the exact
    path). Ids with a LIVE
    tombstone stay dead even if re-appended (the serve's anti-join is
    takedown-wins); physically re-adding one requires a
    :func:`compact_vector_index` first. Returns the number of newly
    indexed vectors. Model drift from appends is the re-cluster
    lifecycle's problem (SCALING.md): when appended mass shifts the
    distribution, rebuild via recluster/save, not by mutating the
    trained state under a serving reader."""
    from functools import reduce

    from .search import _content_batch_key, _fs_and_path

    spark = new_vectors.sparkSession
    base, live_appends, _ = _vector_live_state(spark, path)
    batch = (
        spread(new_vectors)
        .select(id_col, vec_col)
        .dropDuplicates([id_col])
    )
    # Bloom-gated dedup (O(batch), the text index's idbloom pattern):
    # OR the per-segment id-Bloom lanes into one broadcast map; Bloom-
    # negative rows are certainly new and never read the corpus ids;
    # only positives fall back to the exact anti-join. Indexes written
    # before the sidecar existed fall back to the exact path wholesale.
    id_paths = [
        p[: -len("/lists")] for p in base + [f"{d}/lists" for d in live_appends]
    ]
    bloom_paths = [f"{p}/idbloom" for p in id_paths]
    if all(_hadoop_path_exists(spark, bp) for bp in bloom_paths):
        lanes = (
            reduce(
                DataFrame.unionByName,
                [spark.read.parquet(bp) for bp in bloom_paths],
            )
            .groupBy("lane")
            .agg(F.expr("bit_or(bits)").cast("bigint").alias("bits"))
        )
        one = lanes.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("lane"), F.col("bits")))
            ).alias("__lanes")
        )
        probed = batch.crossJoin(F.broadcast(one))
        cond = _vec_bloom_cond(F.col(id_col).cast("string"), F.col("__lanes"))
        pos = probed.where(cond).drop("__lanes")
        if pos.limit(1).count() == 0:
            pass  # every id certainly new: the corpus ids are never read
        else:
            seen = reduce(
                DataFrame.unionByName,
                [
                    spark.read.parquet(f"{p}/lists").select(id_col)
                    for p in id_paths
                ],
            )
            batch = probed.where(~cond).drop("__lanes").unionByName(
                pos.join(seen, on=id_col, how="left_anti")
            )
    else:
        existing = reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(f"{p}/lists").select(id_col)
                for p in id_paths
            ],
        )
        batch = batch.join(existing, on=id_col, how="left_anti")
    batch = batch.persist()
    try:
        if batch.count() == 0:
            return 0
        key = "a" + _content_batch_key(batch, id_col)[1:]
        # same-key commit check against LIVE segments only: a segment
        # CONSUMED by a compaction (pre-vacuum) must not absorb a
        # legitimate re-append of the same ids after their physical
        # removal — mirror of the delete-side re-delete guard
        live_keys = {d.rsplit("/", 1)[1] for d in live_appends}
        adir = f"{path}/appends/{key}"
        fs, d, jvm = _fs_and_path(spark, adir)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(d, "_committed")):
            if key in live_keys:
                return 0
            r = 2
            while True:
                adir = f"{path}/appends/{key}_r{r}"
                fs, d, jvm = _fs_and_path(spark, adir)
                if not fs.exists(
                    jvm.org.apache.hadoop.fs.Path(d, "_committed")
                ):
                    break
                if f"{key}_r{r}" in live_keys:
                    return 0
                r += 1
        cents = load_int_centroids(spark, path)
        cdf = spark.read.parquet(f"{path}/codebooks")
        res = _residual_frame(batch, cents, id_col, vec_col)
        codes = _pq_encode_frame(
            res.select(id_col, "__rv"), "__rv", cdf, n_sub, sub_dim, id_col
        )
        packed = codes.groupBy(id_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "code"))),
                lambda x: x.code,
            ).alias("codes")
        )
        seg = res.select(id_col, "cid").join(packed, on=id_col)
        seg.hint("rebalance", "cid").write.partitionBy("cid").mode(
            "overwrite"
        ).parquet(f"{adir}/lists")
        written = spark.read.parquet(f"{adir}/lists")
        _vec_bloom_write(
            written.select(id_col), id_col, f"{adir}/idbloom"
        )
        n = written.count()
        # 1-row stats sidecar (the text index's pattern): size-tiered
        # compaction selects its victims from these O(#segments) reads
        # instead of scanning any segment's data
        spark.createDataFrame([(n,)], "D BIGINT").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{adir}/stats")
        fs.create(jvm.org.apache.hadoop.fs.Path(d, "_committed")).close()
        return n
    finally:
        batch.unpersist()


def load_int_centroids(spark, path: str) -> list[tuple[int, list[int]]]:
    """The integer micro-unit centroids a residual-IVFPQ index stores."""
    return sorted(
        (int(r["cid"]), [int(x) for x in r["cv"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )


def ivfpq_reconstruction_error(
    spark,
    path: str,
    corpus: DataFrame,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT per-vector squared reconstruction error of a persisted
    residual-IVFPQ index: for every serving vector, the integer
    micro-unit residual (vector − its STORED list centroid) minus the
    decoded codebook entries of its STORED codes, squared and summed —
    ‖rv − decode(codes)‖², the quantity faiss reports as quantization
    distortion. Every term is an exact integer, so the whole monitor
    replays digit-for-digit in the oracle (ivfpq_drift_report). Uses
    the stored assignment (cid from the lists, not a re-assignment), so
    drift in the ASSIGNMENT itself shows up as error growth rather than
    being silently re-fitted. Returns (id, cid, sq_err). Scale: one
    broadcast of centroids+codebooks (KB), one join of the corpus
    against the code lists on id — the raw vectors stream through one
    projection; nothing quadratic."""
    cents = load_int_centroids(spark, path)
    cdf_cent = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        schema="cid INT, cv ARRAY<BIGINT>",
    )
    cdf = spark.read.parquet(f"{path}/codebooks")
    lists, tomb = _vector_lists(spark, path, id_col)
    if tomb is not None:
        lists = lists.join(tomb, on=id_col, how="left_anti")
    rv = (
        corpus.select(
            id_col, quantize_micro_units(F.col(vec_col)).alias("__q")
        )
        .join(lists.select(id_col, "cid", "codes"), on=id_col)
        .join(F.broadcast(cdf_cent), on="cid")
        .select(
            id_col,
            "cid",
            F.zip_with("__q", "cv", lambda a, b: a - b).alias("__rv"),
            F.posexplode("codes").alias("s", "code"),
        )
    )
    per_sub = rv.join(
        F.broadcast(cdf.withColumnRenamed("c", "code")), on=["s", "code"]
    ).select(
        id_col,
        "cid",
        F.aggregate(
            F.zip_with(
                F.slice(
                    F.col("__rv"), F.col("s") * sub_dim + 1, sub_dim
                ),
                F.col("cv"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("__se"),
    )
    return per_sub.groupBy(id_col, "cid").agg(
        F.sum("__se").cast("bigint").alias("sq_err")
    )


def _compact_vector_tier(
    spark, path: str, id_col: str, tier_size: int
) -> str:
    """Size-tiered append merge for :func:`compact_vector_index` — see
    its docstring for semantics. The k smallest live append segments
    (1-row stats sidecars; parquet footer counts for pre-stats
    segments) merge into ``appends/tier_<md5-of-sources>`` with lists
    (partitionBy(cid) unchanged), a rebuilt id Bloom, a fresh stats
    row, and a ``_sources`` file naming the retired dirs — all
    published by the single atomic ``_committed`` create."""
    import hashlib
    from functools import reduce

    from .search import _fs_and_path, _write_sources

    _, live_appends, _ = _vector_live_state(spark, path)
    if len(live_appends) < tier_size:
        return ""

    def seg_rows(d: str) -> int:
        if _hadoop_path_exists(spark, f"{d}/stats"):
            return int(
                spark.read.parquet(f"{d}/stats").collect()[0]["D"] or 0
            )
        # pre-stats segment: parquet footer row count (metadata-only)
        return spark.read.parquet(f"{d}/lists").count()

    victims = [
        d for _, d in sorted((seg_rows(d), d) for d in live_appends)
    ][:tier_size]
    rels = sorted(f"appends/{d.rsplit('/', 1)[1]}" for d in victims)
    key = "tier_" + hashlib.md5("\n".join(rels).encode()).hexdigest()[:16]
    tdir = f"{path}/appends/{key}"
    fs, d, jvm = _fs_and_path(spark, tdir)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(d, "_committed")):
        return tdir  # replayed tier merge: exactly-once no-op
    merged = reduce(
        DataFrame.unionByName,
        [spark.read.parquet(f"{v}/lists") for v in victims],
    )
    merged.hint("rebalance", "cid").write.partitionBy("cid").mode(
        "overwrite"
    ).parquet(f"{tdir}/lists")
    written = spark.read.parquet(f"{tdir}/lists")
    _vec_bloom_write(written.select(id_col), id_col, f"{tdir}/idbloom")
    written.agg(
        F.count(F.lit(1)).cast("bigint").alias("D")
    ).coalesce(1).write.mode("overwrite").parquet(f"{tdir}/stats")
    _write_sources(spark, tdir, rels)
    fs.create(jvm.org.apache.hadoop.fs.Path(d, "_committed")).close()
    return tdir


def compact_vector_index(
    spark, path: str, id_col: str = "vec_id", tier_size: int | None = None
) -> str:
    """Physically apply tombstones and merge append segments — the
    vector-index analogue of ext/search.py::compact_search_index, and
    the step faiss has no equivalent for (``remove_ids`` only
    tombstones; here reclaiming the space is a relational rewrite).

    Default (``tier_size=None``): FULL compaction — writes a new
    GENERATION ``<path>/gens/g%06d/lists`` = (base ∪ live appends)
    anti-join live tombstones, partitionBy(cid) unchanged, plus a
    CUMULATIVE ``consumed`` parquet (its predecessor's rows + the base
    + every segment merged or applied) — all published by one atomic
    ``_committed`` create, so a reader sees the old live set or the
    new, never both.

    ``tier_size=k``: SIZE-TIERED compaction (round-7 verdict item 5,
    symmetry with the text index's ``tier_size``) — only the k
    smallest live APPEND segments (by their 1-row stats sidecars, an
    O(#segments) read; footer counts for pre-stats segments) merge
    into one new append segment ``appends/tier_<key>`` carrying a
    ``_sources`` death record of the dirs it replaced. The base is
    NEVER rewritten and tombstones are NOT applied (they stay live and
    the serve keeps anti-joining them — results identical, and
    double-subtraction impossible because tombstoned rows remain
    physically present), so a continuous ingest cadence pays a
    tier-sized rewrite per cycle instead of a corpus-sized one; a
    periodic FULL compaction applies the accumulated deletes. No-op
    (returns "") while fewer than ``tier_size`` live append segments
    exist; a replay of the same tier merge maps to the same
    deterministic key and returns the committed dir.

    Model state (centroids, codebooks) is untouched either way:
    compaction moves bytes, not geometry, and the serve's ranking is
    pinned equal across tiered/full/vacuum in pytest. Consumed dirs
    stay on disk (crash-safe: a half-written target without its marker
    is invisible) until :func:`vacuum_vector_index` removes them.
    Returns the new generation/segment directory ("" for a tier
    no-op)."""
    from functools import reduce

    from .search import _committed_dirs, _fs_and_path

    if tier_size is not None:
        return _compact_vector_tier(spark, path, id_col, tier_size)

    gens_all = []
    fs, groot, jvm = _fs_and_path(spark, f"{path}/gens")
    if fs.exists(groot):
        for st in fs.listStatus(groot):
            if st.isDirectory():
                try:
                    gens_all.append(_gen_number(st.getPath().getName()))
                except ValueError:
                    pass
    nxt = max(gens_all, default=-1) + 1
    gkey = "g%06d" % nxt
    gdir = f"{path}/gens/{gkey}"

    base, live_appends, live_deletes = _vector_live_state(spark, path)
    committed_gens = _committed_dirs(spark, f"{path}/gens")
    lists = reduce(
        DataFrame.unionByName,
        [
            spark.read.parquet(p)
            for p in base + [f"{d}/lists" for d in live_appends]
        ],
    )
    if live_deletes:
        tomb = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(f"{d}/ids") for d in live_deletes],
        ).select(id_col)
        lists = lists.join(tomb, on=id_col, how="left_anti")
    lists.hint("rebalance", "cid").write.partitionBy("cid").mode(
        "overwrite"
    ).parquet(f"{gdir}/lists")
    # rebuilt (not OR'd) so physically-removed tombstoned ids drop out
    _vec_bloom_write(
        spark.read.parquet(f"{gdir}/lists").select(id_col),
        id_col,
        f"{gdir}/idbloom",
    )

    consumed: list[tuple[str, str]] = []
    if committed_gens:
        prev = max(committed_gens, key=_gen_number)
        consumed += [
            (r["kind"], r["key"])
            for r in spark.read.parquet(
                f"{committed_gens[prev]}/consumed"
            ).collect()
        ]
        consumed.append(("gen", prev))
    else:
        consumed.append(("base", "lists"))
    consumed += [("append", d.rsplit("/", 1)[1]) for d in live_appends]
    consumed += [("delete", d.rsplit("/", 1)[1]) for d in live_deletes]
    spark.createDataFrame(
        sorted(set(consumed)), schema="kind STRING, key STRING"
    ).coalesce(1).write.mode("overwrite").parquet(f"{gdir}/consumed")
    fs2, d2, jvm2 = _fs_and_path(spark, gdir)
    fs2.create(jvm2.org.apache.hadoop.fs.Path(d2, "_committed")).close()
    return gdir


def vacuum_vector_index(spark, path: str) -> int:
    """Remove every dead dir: what the NEWEST committed generation
    records as consumed (applied delete segments, merged append
    segments, the original base lists, superseded older generations)
    PLUS append segments retired by a size-tiered merge (named in a
    committed append's ``_sources``). Consumption facts recorded in
    the newest generation live INSIDE it (never removed) and need no
    ordering — but ``_sources`` death records introduce the text
    index's topological constraint: a dead TIER segment may be the
    only death record of the appends it merged (tier-of-tier chains),
    so a dead dir is only removed once every dir IT records as a
    source is already gone; iterate to a fixpoint. A crash mid-vacuum
    therefore always leaves a consistent live set. A reader that
    pinned an OLD generation before vacuum must drain first (the
    Lucene reader-refcount caveat, SCALING.md). Returns the number of
    directories removed."""
    from .search import _committed_dirs, _fs_and_path, _read_sources

    fs, root, jvm = _fs_and_path(spark, path)

    def alive(rel: str) -> bool:
        return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(root, rel)))

    removed = 0
    gens = _committed_dirs(spark, f"{path}/gens")
    newest = max(gens, key=_gen_number) if gens else None
    while True:
        dead: set[str] = set()
        if newest is not None:
            for r in spark.read.parquet(
                f"{gens[newest]}/consumed"
            ).collect():
                kind, key = r["kind"], r["key"]
                if kind == "append":
                    dead.add(f"appends/{key}")
                elif kind == "delete":
                    dead.add(f"deletes/{key}")
                elif kind == "base":
                    dead.add("lists")
                elif kind == "gen" and key != newest:
                    dead.add(f"gens/{key}")
        recorded: dict[str, list[str]] = {}
        for name, d in _committed_dirs(spark, f"{path}/appends").items():
            srcs = _read_sources(spark, d)
            recorded[f"appends/{name}"] = srcs
            dead.update(srcs)
        removable = [
            rel
            for rel in sorted(dead)
            if alive(rel)
            and all(not alive(s) for s in recorded.get(rel, []))
        ]
        if not removable:
            break
        for rel in removable:
            fs.delete(jvm.org.apache.hadoop.fs.Path(root, rel), True)
            removed += 1
    # crashed compaction writers: an UNCOMMITTED gen dir numbered below
    # the newest committed one can never be completed (any later writer
    # took a higher number), so it is invisible garbage — reclaim it.
    # In-flight writers are numbered above `newest` and stay untouched.
    if newest is not None:
        fs2, groot, jvm2 = _fs_and_path(spark, f"{path}/gens")
        if fs2.exists(groot):
            for st in fs2.listStatus(groot):
                if not st.isDirectory():
                    continue
                name = st.getPath().getName()
                try:
                    num = _gen_number(name)
                except ValueError:
                    continue
                if name in gens or num >= _gen_number(newest):
                    continue
                fs2.delete(st.getPath(), True)
                removed += 1
    return removed


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Persist the IVF index: inverted lists (corpus rows + their nearest
    centroid) written ``partitionBy(cid)`` under ``<path>/lists``, the
    trained centroids under ``<path>/centroids``. This is the deployment
    answer to "ivf_topk retrains per call": train once, write once, and
    every later search is a partition-pruned scan of n_probe/n_clusters of
    the corpus — no training job, no full scan. Returns the centroids.
    """
    spark = corpus.sparkSession
    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, n_clusters, iters, id_col, vec_col
    )
    assigned = _assign_nearest(spread(corpus), cents, id_col, vec_col)
    assigned.hint("rebalance", "cid").write.partitionBy("cid").mode(
        "overwrite"
    ).parquet(f"{path}/lists")
    from .search import _fs_and_path

    _write_ivf_centroids(spark, cents, path)
    # the index just written supersedes every recluster generation
    fs, gens, _ = _fs_and_path(spark, f"{path}/gens")
    fs.delete(gens, True)
    return cents


def _write_ivf_centroids(spark, cents, d: str) -> None:
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        schema="cid INT, cv ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(f"{d}/centroids")


def _ivf_live(spark, path: str) -> str:
    """The directory holding the IVF index's live ``lists`` and
    ``centroids``: its newest committed recluster generation
    ``<path>/gens/g%06d``, or ``path`` before the first recluster."""
    from .search import _committed_dirs

    gens = _committed_dirs(spark, f"{path}/gens")
    return gens[max(gens, key=_gen_number)] if gens else path


def load_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """Centroids back from ``save_ivf_index`` (n_clusters × dim — KB)."""
    rows = spark.read.parquet(f"{_ivf_live(spark, path)}/centroids").collect()
    return sorted((r["cid"], list(r["cv"])) for r in rows)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k against a persisted index (``save_ivf_index``): score the
    query batch against the stored centroids, collect the probe cid set
    (≤ |queries| × n_probe ints — driver-trivial by design), read ONLY
    those inverted-list partitions via a literal isin filter (static
    partition pruning — the scan shows ``PartitionFilters``), exact-cosine
    the candidates. Same results as :func:`ivf_topk` with the same
    centroids; none of the training or assignment work is repeated.
    """
    live = _ivf_live(spark, path)
    cents = load_ivf_centroids(spark, live)  # a generation holds no gens
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__sim").desc(), F.col("cid").asc()
    )
    q = (
        _scored_against_centroids(queries, cents, vec_col)
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= n_probe)
        .select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec"), F.col("cid")
        )
        .localCheckpoint()  # consumed twice: cid collect + candidate join
    )
    probe_cids = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    lists = (
        spark.read.parquet(f"{live}/lists")
        .where(F.col("cid").isin(probe_cids))
        .withColumnRenamed(vec_col, "__cvec")
    )
    cand = lists.join(F.broadcast(q), on="cid").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity(F.col("__cvec"), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def append_to_ivf_index(
    new_rows: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign ONLY the new batch against the
    stored centroids and append into the partitioned inverted lists. No
    retraining, no touch of existing partitions — the 100 TB append cost
    is O(|batch| × n_clusters) similarity evaluations plus a
    partitionBy(cid) write of the batch. Centroids stay frozen (the same
    append-stability contract as the z-order frozen bounds): recall decays
    only as the data distribution drifts, which :func:`ivf_index_stats`
    measures and :func:`recluster_ivf_index` repairs.
    """
    live = _ivf_live(new_rows.sparkSession, path)
    cents = load_ivf_centroids(new_rows.sparkSession, live)
    assigned = _assign_nearest(spread(new_rows), cents, id_col, vec_col)
    assigned.hint("rebalance", "cid").write.partitionBy("cid").mode(
        "append"
    ).parquet(f"{live}/lists")


def ivf_index_stats(spark, path: str, vec_col: str = "embedding") -> DataFrame:
    """Index-health metrics per inverted list — the drift signal that
    decides when to recluster:

    * ``n`` — member count (imbalance = hot probe partitions),
    * ``mean_cos`` / ``min_cos`` — how well the frozen centroid still
      represents its members (drops as appended data drifts away).

    One partition-parallel scan of the lists joined to the broadcast
    centroids; output is n_clusters rows.
    """
    live = _ivf_live(spark, path)
    cents = load_ivf_centroids(spark, live)
    lists = spark.read.parquet(f"{live}/lists")
    # _scored_against_centroids crosses against ALL centroids; keep only
    # each row's own list's centroid score
    scored = _scored_against_centroids(
        lists.withColumnRenamed("cid", "__own"), cents, vec_col
    ).where(F.col("cid") == F.col("__own"))
    return (
        scored.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__sim"), 6).alias("mean_cos"),
            F.round(F.min("__sim"), 6).alias("min_cos"),
        )
        .orderBy("cid")
    )


def recluster_ivf_index(
    spark,
    path: str,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Repair drift: refine the EXISTING centroids with ``iters`` Lloyd
    iterations over the full stored corpus (warm-start — no reseeding, so
    far cheaper and more stable than retraining from scratch) and rewrite
    the inverted lists under the refined centroids. Lists and centroids
    are written together as a new generation ``<path>/gens/g%06d``,
    published by one atomic ``_committed`` create (as
    :func:`compact_vector_index` publishes its generations), so a crash
    at any step leaves the old index or the new one live, never lists
    that do not match their centroids. After the commit the superseded
    state is deleted, with any generation a failed recluster left.
    Returns the new centroids.
    """
    from .search import _fs_and_path

    live = _ivf_live(spark, path)
    cents = load_ivf_centroids(spark, live)
    vecs = spark.read.parquet(f"{live}/lists").select(id_col, vec_col).persist()
    fs, groot, jvm = _fs_and_path(spark, f"{path}/gens")
    fs.mkdirs(groot)
    # numbered above every generation dir, committed or left by a crash
    taken = [_gen_number(st.getPath().getName())
             for st in fs.listStatus(groot) if st.isDirectory()]
    gdir = f"{path}/gens/g%06d" % (max(taken, default=-1) + 1)
    try:
        for _ in range(iters):
            assigned = _assign_nearest(vecs, cents, id_col, vec_col).select(
                "cid", F.posexplode(vec_col).alias("pos", "v")
            )
            means = (
                assigned.groupBy("cid", "pos")
                .agg(F.avg(F.col("v").cast("double")).alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in means:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
            cents = [
                (
                    cid,
                    [by_cid[cid][p] for p in sorted(by_cid[cid])]
                    if cid in by_cid
                    else prev,
                )
                for cid, prev in cents
            ]
        assigned = _assign_nearest(vecs, cents, id_col, vec_col)
        assigned.hint("rebalance", "cid").write.partitionBy("cid").mode(
            "overwrite"
        ).parquet(f"{gdir}/lists")
    finally:
        vecs.unpersist()
    _write_ivf_centroids(spark, cents, gdir)
    fs.create(jvm.org.apache.hadoop.fs.Path(gdir, "_committed")).close()
    # superseded: the state save_ivf_index wrote, and every older generation
    superseded = [f"{path}/lists", f"{path}/centroids"]
    superseded += [f"{path}/gens/g%06d" % n for n in taken]
    for d in superseded:
        fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
    return cents


def _srp_plane(table: int, i: int, dim: int) -> list[float]:
    """±1 hyperplane components from md5(srp:table:bit:component) —
    computed ONCE driver-side (hashlib md5 == any engine's md5) and
    embedded as literals. The earlier in-expression form recomputed
    dim·n_bits·tables md5s PER ROW because Catalyst cannot constant-fold
    through a transform() lambda — measured 3.7 s → 0.9 s for the
    registry ANN query at sf0.1."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"srp:{table}:{i}:{c}".encode()).hexdigest()[0]
        in "01234567"
        else -1.0
        for c in range(dim)
    ]


def _srp_signature(vec, dim: int, n_bits: int, table: int):
    """Signed-random-projection signature as a bigint bucket key.

    Hyperplanes are deterministic pseudo-random ±1 component vectors derived
    from md5(table:bit:component) — reproducible across runs/engines, no
    stored model. sign(v·r) with r ∈ {−1,+1}^dim is a valid SRP family.
    The dot product is the same sequential double fold the DuckDB oracle
    runs (list order), so signatures are bit-identical cross-engine.
    """
    def bit(i: int):
        plane = F.array(*[F.lit(v) for v in _srp_plane(table, i, dim)])
        dot_i = F.aggregate(
            F.zip_with(vec, plane, lambda x, r: x.cast("double") * r),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(dot_i > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
            F.lit(0).cast("bigint")
        )

    terms = [bit(i) for i in range(n_bits)]
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return sig


def _srp_signatures_packed(vec: str, dim: int, n_bits: int, tables: int):
    """All ``tables`` SRP signatures as ONE array column, via a single
    packed fold: the accumulator is an array of tables·n_bits partial
    dot products, advanced component-by-component against a nested
    literal plane matrix. Numerically IDENTICAL to per-bit
    :func:`_srp_signature` (the fold visits components in the same
    ascending order, so every bit's double accumulation sequence is
    unchanged — asserted in tests), but the plan is one aggregate
    expression instead of tables·n_bits separate HOF trees: Catalyst
    analysis/codegen drops from ~4 s to ~1 s for the registry ANN query
    (a constant per-plan cost, but the dominant one at bench scale)."""
    planes = [
        _srp_plane(t, i, dim) for t in range(tables) for i in range(n_bits)
    ]
    n_sig = tables * n_bits
    # The whole expression is generated as SQL TEXT and parsed in ONE
    # F.expr call per column: building it Column-by-Column costs ~3 s of
    # driver-side py4j round-trips per plan construction (measured — it
    # dominated the query end-to-end; the JVM parses the same text in
    # milliseconds). `vec` must therefore be a column NAME here.
    rmat_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join(
            ("1.0D" if planes[j][c] > 0 else "-1.0D") for j in range(n_sig)
        )
        for c in range(dim)
    )
    dots = F.expr(
        f"aggregate(sequence(0, {dim - 1}), "
        f"array_repeat(0.0D, {n_sig}), "
        f"(acc, c) -> zip_with(acc, element_at({rmat_sql}, c + 1), "
        f"(a, r) -> a + CAST(element_at({vec}, c + 1) AS DOUBLE) * r))"
    )

    def sig_t(t: int):
        return F.expr(
            " + ".join(
                f"IF(element_at(__srp_dots, {t * n_bits + i + 1}) > 0, "
                f"CAST({1 << i} AS BIGINT), CAST(0 AS BIGINT))"
                for i in range(n_bits)
            )
        )

    return dots, [sig_t(t) for t in range(tables)]


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: SRP-LSH buckets → exact cosine on candidates only.

    ``tables`` independent signatures boost recall; the bucket join is on
    (table, signature) — uniform keys, no skew. At 100 TB the corpus side is
    computed once and persisted bucketed by signature.
    """
    def signed(df, idc):
        dots, sig_cols = _srp_signatures_packed(
            vec_col, dim, n_bits, tables
        )
        return (
            df.withColumn("__srp_dots", dots)
            .select(
                F.col(idc),
                F.col(vec_col),
                F.posexplode(F.array(*sig_cols)).alias("table", "sig"),
            )
        )

    c = signed(spread(corpus), id_col).withColumnRenamed(vec_col, "__cvec")
    q = signed(queries, query_id_col).withColumnRenamed(vec_col, "__qvec")
    cand = (
        c.join(F.broadcast(q), on=["table", "sig"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "__cvec", "__qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity(F.col("__cvec"), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def srp_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    tables: int = 4,
    max_bucket: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS through SRP-LSH buckets —
    the scale-safe replacement for any attribute-blocked self-join
    (round-3 verdict item 3: a hot block degenerates to all-pairs;
    SRP buckets never do, because the bucket population is governed by
    the signature width, not by data skew on a label).

    Candidates are pairs sharing a (table, signature) bucket in ANY of
    ``tables`` independent 
    ``n_bits``-bit signatures (deterministic md5-derived hyperplanes —
    :func:`_srp_signature` — so the whole pipeline is reproducible in
    SQL); only candidates get the exact cosine, and only pairs with
    round(cosine, 6) >= threshold survive.

    Scale dials, both documented quadratic controls:

    * ``n_bits`` — expected bucket size is |corpus| / 2^n_bits per
      table; grow it with the corpus (log2(n) - log2(target_bucket)).
    * ``max_bucket`` — drop buckets larger than this outright: an
      over-full bucket means the signature isn't discriminating there
      (near-parallel mass) and its pairs are overwhelmingly
      non-duplicates; the cap bounds the worst bucket's pair count at
      max_bucket² regardless of the data. Use
      :func:`srp_bucket_stats` to observe what a cap would drop.

    Output: (id_a, id_b, cosine) with id_a < id_b, deduplicated across
    tables.
    """
    def signed(df):
        dots, sig_cols = _srp_signatures_packed(vec_col, dim, n_bits, tables)
        return (
            df.withColumn("__srp_dots", dots)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.posexplode(F.array(*sig_cols)).alias("table", "sig"),
            )
        )

    s = signed(spread(corpus))
    if max_bucket is not None:
        kept = (
            s.groupBy("table", "sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("table", "sig")
        )
        s = s.join(kept, on=["table", "sig"])
    a = s.select(
        "table", "sig", F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = s.select(
        "table", "sig", F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    cand = (
        a.join(b, on=["table", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6)
    )
    return scored.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


def srp_knn_graph(
    corpus: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_bits: int = 8,
    tables: int = 4,
    max_bucket: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate kNN GRAPH over SRP-LSH buckets: for EVERY corpus
    vector, its top-``k`` bucket-mate neighbors by exact cosine — the
    input to graph-based curation (connected-component duplicate
    clusters, label propagation, graph-walk sampling) where
    :func:`srp_neardup_pairs` only answers the thresholded-pair
    question. Same candidate machinery and the same two quadratic
    dials (``n_bits``, ``max_bucket``); per-node candidate count is
    bounded by tables × max_bucket by construction, so the per-source
    ranking window never sees a skewed group. Output
    (src, dst, cosine, rank), both directions — src with no bucket
    mates (cap-dropped everywhere) yields no rows, the honest "no
    neighbors found" answer."""

    def signed(df):
        dots, sig_cols = _srp_signatures_packed(vec_col, dim, n_bits, tables)
        return (
            df.withColumn("__srp_dots", dots)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.posexplode(F.array(*sig_cols)).alias("table", "sig"),
            )
        )

    s = signed(spread(corpus))
    if max_bucket is not None:
        kept_b = (
            s.groupBy("table", "sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("table", "sig")
        )
        s = s.join(kept_b, on=["table", "sig"])
    a = s.select(
        "table", "sig", F.col(id_col).alias("src"), F.col(vec_col).alias("__va")
    )
    b = s.select(
        "table", "sig", F.col(id_col).alias("dst"), F.col(vec_col).alias("__vb")
    )
    cand = (
        a.join(b, on=["table", "sig"])
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6)
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cosine", "rank")
    )


def srp_bucket_stats(
    corpus: DataFrame,
    dim: int = 64,
    n_bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-table SRP bucket population summary (bucket count, max/avg
    size, pairs implied by the largest bucket) — the observability side
    of :func:`srp_neardup_pairs`'s ``max_bucket`` knob."""
    dots, sig_cols = _srp_signatures_packed(vec_col, dim, n_bits, tables)
    s = (
        spread(corpus)
        .withColumn("__srp_dots", dots)
        .select(
            F.col(id_col),
            F.posexplode(F.array(*sig_cols)).alias("table", "sig"),
        )
    )
    sizes = s.groupBy("table", "sig").agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.groupBy("table")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.round(F.avg("n"), 2).alias("avg_bucket"),
            (F.max("n") * (F.max("n") - 1) / 2).cast("bigint").alias(
                "worst_bucket_pairs"
            ),
        )
        .orderBy("table")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    k-means clustering bounds the pairwise comparisons, then within each
    cluster the LEAST-central member of every near-duplicate pair is
    dropped.

    Deterministic, SQL-reproducible formulation:

    1. assign each vector to its argmax-cosine centroid (raw similarity,
       ties → lowest cid — exactly :func:`_assign_nearest`);
    2. rank cluster members by centrality: round(cos-to-centroid, 6)
       DESC, id ASC — a total order;
    3. drop a vector iff SOME higher-ranked member of its cluster sits
       within ``threshold`` cosine of it (non-iterative rule: the
       neighbor's own kept/dropped state is irrelevant, per the paper's
       one-pass variant).

    Output: (id, cid, centrality, is_kept) for every corpus vector.

    Scale: comparisons are pairwise WITHIN a cluster only — expected
    cluster size |corpus|/k, so k is the quadratic dial (the paper runs
    k ≈ n/5000; the same bound govern IVF list sizes). But "expected"
    is not "bounded": a degenerate assignment (one centroid attracting
    most vectors — common with anisotropic embeddings) is quadratic
    with no dial, so ``max_cluster`` is the hard cap (round-5 verdict
    item 2, the same role as ``srp_neardup_pairs``'s ``max_bucket``):
    only the ``max_cluster`` MOST-CENTRAL members of each cluster
    participate in pairing — worst-cluster pair work is bounded at
    max_cluster² regardless of skew. Members past the cap are KEPT (a
    cap must never silently delete data; it can only miss duplicates,
    exactly like max_bucket / the shingle df-cap). The rank is the
    centrality order the drop rule already uses, so for clusters within
    the cap the result is unchanged. Use
    :func:`semantic_cluster_stats` to observe what a cap would truncate.
    The centroid set is model state (k×dim literals, broadcast); no
    global shuffle except the cluster-keyed one.
    """
    assigned = _assign_nearest(spread(corpus), centroids, id_col, vec_col)
    # one broadcast pass: re-score each member against its own centroid
    scored = (
        _scored_against_centroids(
            assigned.withColumnRenamed("cid", "__own"), centroids, vec_col
        )
        .where(F.col("cid") == F.col("__own"))
        .select(
            F.col(id_col),
            F.col("__own").alias("cid"),
            F.col(vec_col),
            F.round(F.col("__sim"), 6).alias("centrality"),
        )
    )
    pairable = scored
    if max_cluster is not None:
        # pairing restricted to the top-max_cluster most-central members
        # (centrality DESC, id ASC — the same total order the drop rule
        # ranks by, so a droppee's every higher-ranked neighbor is
        # inside the cap too: capping cannot create false drops, only
        # missed duplicates in oversized clusters)
        wc = Window.partitionBy("cid").orderBy(
            F.col("centrality").desc(), F.col(id_col).asc()
        )
        pairable = (
            scored.withColumn("__rk", F.row_number().over(wc))
            .where(F.col("__rk") <= max_cluster)
            .drop("__rk")
        )
    a = pairable.select(
        F.col("cid"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        F.col("centrality").alias("__ca"),
    )
    b = pairable.select(
        F.col("cid"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        F.col("centrality").alias("__cb"),
    )
    # u ranks above v iff (centrality, id) orders earlier; v is dropped
    # when any such u is within threshold
    higher = (F.col("__ca") > F.col("__cb")) | (
        (F.col("__ca") == F.col("__cb")) & (F.col("__ida") < F.col("__idb"))
    )
    dropped = (
        a.join(b, on="cid")
        .where(higher)
        .where(
            F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6)
            >= threshold
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return (
        scored.join(
            dropped.withColumn("__drop", F.lit(True)), on=id_col, how="left"
        )
        .select(
            id_col,
            "cid",
            "centrality",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_cluster_stats(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    max_cluster: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Observability for :func:`semantic_dedup`'s ``max_cluster`` dial —
    the SemDeDup sibling of :func:`srp_bucket_stats`: per-assignment
    cluster-size distribution, the pairwise work each cluster implies
    (n·(n−1)/2), and — when a cap is given — how many members and pairs
    the cap would exclude from pairing. One row; run it BEFORE choosing
    the cap on a new corpus."""
    assigned = _assign_nearest(spread(corpus), centroids, id_col, vec_col)
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    pair = F.col("n") * (F.col("n") - 1) / 2
    capped_n = (
        F.least(F.col("n"), F.lit(max_cluster))
        if max_cluster is not None
        else F.col("n")
    )
    capped_pair = capped_n * (capped_n - 1) / 2
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.max("n").cast("bigint").alias("max_cluster_size"),
        F.sum("n").cast("bigint").alias("n_members"),
        F.sum(pair).cast("bigint").alias("pairs_uncapped"),
        F.sum(capped_pair).cast("bigint").alias("pairs_capped"),
        F.sum(F.col("n") - capped_n).cast("bigint").alias("members_past_cap"),
    )


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    index_path: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sink=None,
    max_cluster: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup` at corpus-growth time: dedup a NEW
    embedding batch against the corpus's PERSISTED survivor index, never
    against the corpus itself — O(batch × touched clusters), not
    O(corpus), per ingest (the same contract as
    ``ext/dedup_text.py::incremental_exact_dedup``).

    Steps:

    1. within-batch SemDeDup (centrality rule) keeps the batch's own
       most-central representative of every near-dup group;
    2. batch survivors are compared against stored survivors of the SAME
       cluster only — the index is parquet ``partitionBy(cid)``, and the
       touched-cid ``isin`` filter makes the read partition-PRUNED (at
       most n_clusters values, driver-trivial);
    3. arrival-order precedence: a batch doc within ``threshold`` of ANY
       stored survivor drops — the earlier corpus wins, regardless of
       centrality (deliberately different from the batch-mode rule:
       replacing an already-delivered survivor retroactively is not a
       thing a corpus-growth pipeline can do);
    4. crash contract copied from incremental_exact_dedup: survivors go
       to ``sink`` FIRST, the index append commits SECOND. A crash in
       between reruns at-least-once — and a rerun of the same batch
       delivers ZERO new survivors (each doc is now within threshold of
       its own indexed copy), so an idempotent sink makes the step
       exactly-once. Duplicate index rows from a partial append are
       harmless: an extra survivor copy only re-drops the same
       neighbors.

    ``max_cluster`` is the same quadratic hard cap as batch-mode
    :func:`semantic_dedup`, applied to BOTH quadratic surfaces here:
    the within-batch pairing (via the batch call) and the
    batch×stored comparison, whose stored side is truncated to the
    ``max_cluster`` lowest-id survivors per touched cluster (arrival
    order — the precedence rule this function already uses; a
    degenerate cluster in a GROWING index is otherwise an
    ever-larger per-ingest join). Past-cap stored survivors stop
    vetoing new docs — missed duplicates, never lost data.

    Returns the surviving (id, vector, cid) rows of ``new_vecs``.
    """
    spark = new_vecs.sparkSession
    batch = semantic_dedup(
        new_vecs, centroids, threshold, id_col, vec_col, max_cluster
    )
    assigned = _assign_nearest(spread(new_vecs), centroids, id_col, vec_col)
    kept = (
        batch.where(F.col("is_kept"))
        .select(id_col)
        .join(assigned, on=id_col)
        .select(id_col, vec_col, "cid")
    )
    # Missing-first-batch detection is an EXPLICIT filesystem existence
    # check (scheme-agnostic via Hadoop FS), not exception-message
    # sniffing: matching 'PATH_NOT_FOUND' substrings breaks on a Spark
    # error-format change and can swallow unrelated read errors
    # (ADVICE r4). Same spirit as snapshots._versions' os-level listing.
    if _hadoop_path_exists(spark, index_path):
        touched = sorted(
            r["cid"] for r in kept.select("cid").distinct().collect()
        )
        stored = (
            spark.read.parquet(index_path)
            .where(F.col("cid").isin(touched))
            .select(
                F.col("cid"),
                F.col(id_col).alias("__sid"),
                F.col(vec_col).alias("__sv"),
            )
        )
        if max_cluster is not None:
            # stored side truncated to the max_cluster lowest-id
            # survivors per touched cluster (arrival-order precedence —
            # the earliest corpus members keep their veto); group is
            # cluster-bounded so the rank window is safe
            ws = Window.partitionBy("cid").orderBy(F.col("__sid").asc())
            stored = (
                stored.withColumn("__srk", F.row_number().over(ws))
                .where(F.col("__srk") <= max_cluster)
                .drop("__srk")
            )
        stored = stored.drop("__sid")
        clash = (
            kept.join(stored, on="cid")
            .where(
                F.round(
                    cosine_similarity(F.col(vec_col), F.col("__sv")), 6
                )
                >= threshold
            )
            .select(id_col)
            .distinct()
        )
        kept = kept.join(clash, on=id_col, how="left_anti")
    # materialize once: the survivor set feeds the sink AND the index
    # append, and must not be recomputed against a shifting index listing
    from ..planmode import checkpoint

    kept = checkpoint(kept)
    if sink is not None:
        sink(kept)
    kept.hint("rebalance", "cid").write.partitionBy("cid").mode(
        "append"
    ).parquet(index_path)
    return kept


def jl_project(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    dimensions with a ±1 sign matrix (Achlioptas 2003: a Rademacher
    matrix preserves pairwise distances as well as a Gaussian one) —
    the dimensionality-reduction stage in front of ANN / clustering /
    dedup when 100 TB of embeddings won't fit the index budget.

    The sign matrix is md5-derived from (salt, i, j) — no stored model,
    any engine reproduces it — and components are quantized to exact
    integer micro-units before summation, so every projected value is
    an order-free integer: ``proj_mu[j] = Σ_i ±round(e_i·10⁶)``
    (unnormalized — downstream cosine is scale-invariant, and callers
    wanting unit scale divide by √out_dim once, outside the exact
    core).

    Returns (id, j, proj_mu) long-format. Scale: one explode (in_dim
    rows per vector), one ``out_dim``-way fan-out, one uniform-keyed
    partial-aggregatable groupBy; the 'matrix' costs one md5 per
    (component, j) pair and zero memory.
    """
    comps = emb.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("i", "comp"),
    ).select(
        F.col(id_col),
        "i",
        F.round(F.col("comp").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("v"),
    )
    fanned = comps.select(
        F.col(id_col),
        "i",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j"),
    )
    sign_is_pos = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt + ":"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            1,
        )
        < "8"
    )
    return fanned.groupBy(id_col, "j").agg(
        F.sum(F.when(sign_is_pos, F.col("v")).otherwise(-F.col("v")))
        .cast("bigint")
        .alias("proj_mu")
    )


def pca_top_direction(
    emb: DataFrame,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the embedding covariance by power
    iteration, entirely in EXACT fixed-point integer arithmetic — the
    PCA/whitening primitive behind dimension pruning and decorrelation,
    certified cross-engine because no float ever enters.

    Pipeline: (1) the FULL d×d covariance matrix in µ-units² from one
    narrow self-join (same exact-moment core as
    ``embedding_covariance_topk``: n·Σxy − Σx·Σy half-up over n², all
    decimal(38,0)); (2) ``rounds`` matvec steps w = C·v as a broadcast
    join + d-group aggregate, each followed by an exact re-scale
    v' = half_up(w·10⁶ / max|w|) that pins the iterate to ±10⁶ so the
    fixed point never overflows decimal38 and the division is the same
    integer in every engine (the data-dependent max|w| is a 1-row
    broadcast, not a collect). Starting vector: all ones — sign and
    ties are therefore deterministic.

    Returns (dim, v_scaled) with v_scaled ∈ [−10⁶, 10⁶]; callers
    wanting a unit vector divide by its norm once, outside the exact
    core. Scale: the corpus is touched once (the moment aggregate,
    d²-bounded output); every iteration is d²-sized work regardless of
    corpus size.
    """
    from ..planmode import checkpoint

    def dec(c):
        return c.cast("decimal(38,0)")

    def halfup_wide(num, den):
        a = num * 2 + den
        b = den * 2
        return (a - F.pmod(a, b)) / b

    u = emb.select(
        id_col, F.posexplode(vec_col).alias("dim", "comp")
    ).select(
        id_col,
        "dim",
        F.round(F.col("comp").cast("double") * 1000000)
        .cast("bigint")
        .alias("v"),
    )
    a = u.select(id_col, F.col("dim").alias("i"), F.col("v").alias("va"))
    b = u.select(id_col, F.col("dim").alias("j"), F.col("v").alias("vb"))
    g = (
        a.join(b, on=id_col)
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("va"))).alias("si"),
            F.sum(dec(F.col("vb"))).alias("sj"),
            F.sum(dec(F.col("va")) * dec(F.col("vb"))).alias("sij"),
        )
    )
    n, si, sj, sij = (dec(F.col(c)) for c in ("n", "si", "sj", "sij"))
    cov = checkpoint(
        g.select(
            "i",
            "j",
            halfup_wide(n * sij - si * sj, n * n)
            .cast("decimal(38,0)")
            .alias("c"),
        )
    )
    v = (
        cov.select(F.col("i").alias("dim"))
        .distinct()
        .select("dim", F.lit(1000000).cast("decimal(38,0)").alias("val"))
    )
    for _ in range(rounds):
        # w is consumed TWICE per round (the max-|w| aggregate and the
        # re-scale) and the rounds are unrolled, so without a barrier
        # each consumer re-executes every earlier round's matvec —
        # exponential recompute at plan scale. w is d rows: materialize
        # it per round (optimization round 8; identity in plan-only
        # mode, where the audited plan keeps the full unrolled shape).
        w = checkpoint(
            cov.join(
                F.broadcast(v.select(F.col("dim").alias("j"), "val")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("val")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("dim"),
            halfup_wide(
                dec(F.col("w")) * F.lit(1000000), dec(F.col("m"))
            )
            .cast("decimal(38,0)")
            .alias("val"),
        )
    return v.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("val").cast("bigint").alias("v_scaled"),
    )
