"""Similarity search over embedding columns (array<float>).

Beyond-reference addition (SURVEY.md §2C): brute-force cosine top-k as the
exact baseline, plus a random-hyperplane LSH bucketed variant as the scale
path (candidates only meet inside a bucket — no n² cross join).

All math is JVM-side (`aggregate`/`zip_with` over arrays); hyperplanes are
deterministic LCG-generated literals so the same computation can be
reproduced in oracle SQL or on another engine bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import is_simple_ident


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k nearest corpus
    vectors (excluding itself when ids collide).

    Returns (query_id, vec_id, cosine_sim, rank).  The query side is
    broadcast — the corpus scan is a single pass, embarrassingly parallel;
    this is the right plan whenever |queries| is driver-small.
    """
    query_id_col = query_id_col or id_col
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    c = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec"))
    sim = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# -- SQL-string expression rendering ------------------------------------------
#
# Plan-CONSTRUCTION cost fix (r10): building the centroid/plane expression
# trees through the PySpark Column API pays one py4j round-trip per call —
# measured 0.79 s to BUILD _nearest_centroid's 8 HOF cosines and 0.54 s for
# lsh_bucket's 8 plane dots, vs 0.15 s to EXECUTE them over the whole sf0.1
# corpus.  Rendering the identical expression as ONE SQL string and parsing
# it with a single F.expr costs ~2 ms (the parse runs JVM-side).  The SQL
# forms below produce the same Catalyst operators with the same operand
# order (aggregate/zip_with HOFs, the same fold seed), and float literals
# use repr() — the shortest round-trip decimal, so the parsed double is
# bit-identical — making every score hash-identical to the Column-API form
# (pinned by test_sql_rendered_exprs_bit_identical and the oracle gate).


def _fmt_d(x: float) -> str:
    """Exact-round-trip Spark SQL double literal."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal {x!r} in rendered SQL")
    return repr(x) + "D"


def _arr_sql(vals) -> str:
    return "array(" + ",".join(_fmt_d(v) for v in vals) + ")"


def _ident_sql(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(a: str, b: str) -> str:
    # same tree as dot(): zip_with product, left fold from a double 0
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"


def _cosine_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


# -- LSH (random hyperplane signs) ------------------------------------------


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via an LCG on (plane, dim)
    index — reproducible anywhere, including in generated SQL."""
    out = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            x = (1103515245 * (p * dim + d) + 12345) % 2147483647
            row.append(((x % 2000001) - 1000000) / 1000000.0)
        out.append(row)
    return out


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = 1 iff dot(vec, plane_p) > 0.

    Pass the COLUMN NAME (str) where possible: the whole bucket expression
    is then rendered as one SQL string and parsed with a single F.expr
    (~2 ms) instead of ~0.5 s of per-plane py4j Column calls; both forms
    build the same operators and are value-identical."""
    if isinstance(vec, str) and not is_simple_ident(vec):
        vec = F.col(vec)  # dotted/nested names: Column path (ADVICE r10)
    if isinstance(vec, str) and planes:
        v = _ident_sql(vec)
        terms = " + ".join(
            f"(CASE WHEN {_dot_sql(v, _arr_sql(plane))} > 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")
    if isinstance(vec, str):
        vec = F.col(vec)
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = dot(vec, F.lit([float(v) for v in plane]))
        bucket = bucket + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates must share the query's
    hyperplane-sign bucket (1/2^planes of the corpus in expectation), then
    exact cosine ranks within the bucket.

    At 100 TB the bucket column is precomputed and the corpus bucketed/
    partitioned by it, turning each query into a single-bucket lookup
    instead of a full scan.
    """
    query_id_col = query_id_col or id_col
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col))).first()
        if first is None:
            raise ValueError("embeddings DataFrame is empty; pass dim explicitly")
        dim = first[0]
    planes = hyperplanes(num_planes, dim)
    c = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__cvec"),
        lsh_bucket(vec_col, planes).alias("__bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            lsh_bucket(vec_col, planes).alias("__bucket"),
        )
    )
    sim = (
        q.join(c, "__bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return sim.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_centroids(
    embeddings: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 0,
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF 'training': seed centroids are the `nlist`
    lowest-id vectors; optional Lloyd iterations refine them (assign every
    vector to its nearest centroid by cosine, recompute element-wise
    means).  Fully deterministic given the data, so results are
    reproducible across engines; with iterations=0 the centroid set is
    even expressible in plain SQL (the ann_ivf oracle uses that).

    Returns [(centroid_id, vector)] — nlist * dim floats, driver-small by
    the IVF contract (the centroid table is broadcast state).
    """
    cents = [
        (i, list(r["__v"]))
        for i, r in enumerate(
            embeddings.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
            .orderBy("__id")
            .limit(nlist)
            .collect()
        )
    ]
    for _ in range(iterations):
        assigned = embeddings.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            _nearest_centroid(vec_col, cents).alias("__cid"),
        )
        # element-wise mean per cluster: posexplode + groupBy — one shuffle
        means = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cid")
            .agg(F.sort_array(F.collect_list(F.struct("__pos", "__m"))).alias("__mv"))
            .select("__cid", F.col("__mv.__m").alias("__v"))
            .collect()
        )
        new = {r["__cid"]: list(r["__v"]) for r in means}
        # empty clusters keep their previous centroid (standard Lloyd fix)
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return cents


def _nearest_centroid(
    vec: Column | str, cents: list[tuple[int, list[float]]]
) -> Column:
    """Argmax-by-cosine centroid id as a pure column expression; ties break
    toward the lowest centroid id (array_max on (sim, -cid) structs).

    Pass the COLUMN NAME (str) where possible: the nlist cosines are then
    rendered as one SQL string parsed by a single F.expr (~2 ms) instead
    of ~0.8 s of per-centroid py4j Column construction (same operators,
    same fold order, value-identical — see the rendering helpers)."""
    if isinstance(vec, str) and not is_simple_ident(vec):
        vec = F.col(vec)  # dotted/nested names: Column path (ADVICE r10)
    if isinstance(vec, str) and cents:
        v = _ident_sql(vec)
        structs = ",".join(
            f"named_struct('sim', {_cosine_sql(v, _arr_sql(cvec))}, "
            f"'ncid', {-cid})"
            for cid, cvec in cents
        )
        return F.expr(f"-(array_max(array({structs})).ncid)")
    if isinstance(vec, str):
        vec = F.col(vec)
    choices = F.array(
        *[
            F.struct(
                cosine(vec, F.lit([float(x) for x in cvec])).alias("sim"),
                F.lit(-cid).alias("ncid"),
            )
            for cid, cvec in cents
        ]
    )
    return -F.array_max(choices)["ncid"]


def assign_clusters(
    embeddings: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) nearest-centroid assignment — the labeling half of
    k-means / the inverted-list build of IVF, usable standalone for
    embedding-space corpus clustering.  Pure column expression per row;
    centroids are literals (broadcast by construction)."""
    return embeddings.select(
        F.col(id_col).alias("id"),
        _nearest_centroid(vec_col, cents).alias("cluster"),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: the corpus is partitioned into `nlist`
    inverted lists by nearest centroid; each query exactly searches only
    its `nprobe` closest lists.

    Returns (query_id, vec_id, cosine_sim, rank), rank 1..k per query.

    At 100 TB: the list assignment is a precomputed column and the corpus
    is written partitioned/bucketed by it, so a query batch touches
    nprobe/nlist of the data via partition pruning; the centroid table is
    broadcast.  Recall/latency trade on (nlist, nprobe) exactly as in
    FAISS-style IVF-Flat.
    """
    query_id_col = query_id_col or id_col
    cents = ivf_centroids(embeddings, nlist, id_col, vec_col, iterations)
    corpus = embeddings.select(
        _nearest_centroid(vec_col, cents).alias("__cid"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__cvec"),
    )
    q = _probe_queries(queries, cents, nprobe, query_id_col, vec_col)
    return _rank_topk(q, corpus, k)


def _probe_queries(
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Broadcast query frame exploded to one row per (query, probed list):
    each query ranks all centroids by cosine and keeps its nprobe nearest
    lists (negated-id structs give the deterministic lowest-id tie-break).
    Shared by the in-memory and on-disk IVF paths so probe semantics can
    never diverge."""
    # ONE SQL string for the whole centroid-ranking array (r10): the
    # earlier per-centroid Column construction (even with one F.lit per
    # centroid, d27c47d) still paid ~0.1 s of py4j round-trips per HOF
    # cosine — ~0.8 s of pure driver-side plan construction per probe
    # call at nlist=8.  A single F.expr parse is ~2 ms and produces the
    # identical operators (see the rendering helpers).
    qv = _ident_sql("__qvec")
    cent_rows = F.expr(
        "array("
        + ",".join(
            f"named_struct('sim', {_cosine_sql(qv, _arr_sql(cvec))}, "
            f"'ncid', {-cid})"
            for cid, cvec in cents
        )
        + ")"
    )
    return F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
        .withColumn("__probe", F.slice(F.sort_array(cent_rows, asc=False), 1, nprobe))
        .select("query_id", "__qvec", F.explode("__probe.ncid").alias("__ncid"))
        .select("query_id", "__qvec", (-F.col("__ncid")).alias("__cid"))
    )


def _rank_topk(q: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Join probed queries to the corpus on list id and keep the k best
    cosine matches per query (rank ties break toward the lowest vec_id).
    The corpus frame must expose (__cid, vec_id, __cvec)."""
    sim = (
        q.join(corpus, "__cid")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return sim.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = 16,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF-Flat index on disk: the corpus rewritten
    PARTITIONED BY its inverted-list id (one directory per list) plus a
    centroids parquet.  This is the standing-index form of `ivf_topk` —
    assignment cost is paid once at build time, and every query batch
    afterwards reads only its probed lists via partition pruning (the
    scan's PartitionFilters, verified in tests), i.e. nprobe/nlist of a
    100 TB corpus instead of all of it."""
    from pyspark.sql import Row

    cents = ivf_centroids(embeddings, nlist, id_col, vec_col, iterations)
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [Row(centroid_id=cid, centroid=list(vec)) for cid, vec in cents],
        "centroid_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
        _nearest_centroid(vec_col, cents).alias("list_id"),
    ).write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/corpus")


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k against a `write_ivf_index` directory.

    The probed list ids are computed driver-side from the (driver-small)
    query batch and pushed into the corpus scan as an explicit IN filter
    on the partition column — static partition pruning, so unprobed list
    directories are never opened.  Returns (query_id, vec_id, cosine_sim,
    rank) like ivf_topk.

    Centroids are contract-small standing state (nlist vectors), cached
    driver-side by paths.dir_cached (keyed on the centroid files) so
    repeated query batches skip the parquet read + collect round-trip;
    an index rewrite invalidates the entry.
    """
    from .paths import dir_cached

    cdir = f"{path}/centroids"
    cents = dir_cached("ivf_centroids", cdir, lambda: [
        (int(r["centroid_id"]), list(r["centroid"]))
        for r in spark.read.parquet(cdir).collect()
    ])
    q = _probe_queries(queries, cents, nprobe, query_id_col, vec_col)
    probed = sorted({r["__cid"] for r in q.select("__cid").distinct().collect()})
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        # IN on the partition column -> PartitionFilters at the scan;
        # unprobed list directories are never read
        .where(F.col("list_id").isin(probed))
        .select(
            F.col("list_id").alias("__cid"),
            "vec_id",
            F.col("embedding").alias("__cvec"),
        )
    )
    return _rank_topk(q, corpus, k)


def exact_near_duplicates(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs near-duplicates (cosine >= threshold), id_a < id_b.
    O(n²) — the verification baseline for the LSH-blocked variant; use only
    on bounded subsets."""
    c = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        c.alias("l")
        .join(c.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.vec"), F.col("r.vec")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.99,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), LSH-blocked:
    only pairs sharing a sign bucket are compared (near-identical vectors
    share buckets with high probability).  Returns (id_a, id_b, cosine_sim).

    Candidate generation goes through the same adaptive hot-bucket guard
    as the MinHash LSH band join (dedup._bucket_pairs): a mass-duplicate
    embedding corpus collapses into ONE sign bucket, which the plain
    self-join would put on a single reducer; hot buckets are spread over
    triangle-salted chunk cells instead, with an identical pair set.
    """
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col))).first()
        if first is None:
            raise ValueError("embeddings DataFrame is empty; pass dim explicitly")
        dim = first[0]
    from .dedup import _bucket_pairs

    planes = hyperplanes(num_planes, dim)
    c = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    cands = _bucket_pairs(c.select("id", "bucket"), ["bucket"])
    # width-pin before the per-row cosine verify (see semantic_dedup /
    # edit_distance_pairs: byte-based AQE coalescing vs CPU-heavy rows)
    from .paths import default_parallelism

    cands = cands.repartition(default_parallelism(embeddings.sparkSession))
    return (
        cands.join(
            c.select(F.col("id").alias("id_a"), F.col("vec").alias("__va")), "id_a"
        )
        .join(c.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def _centroid_lookup(cluster: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Centroid vector for a cluster-id column: element_at over a literal
    array of centroid vectors (centroid ids are dense 0..nlist-1 by
    construction in ivf_centroids)."""
    ordered = [cvec for _, cvec in sorted(cents)]
    table = F.expr("array(" + ",".join(_arr_sql(cvec) for cvec in ordered) + ")")
    return F.element_at(table, cluster.cast("int") + 1)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nlist: int | None = None,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, simplified): cluster the embedding space, find
    near-duplicate pairs ONLY within clusters (cosine >= threshold),
    group them into connected components, and keep one representative
    (minimum id) per component.  Returns the surviving rows of
    `embeddings` with their original schema.

    Semantic dedup removes *meaning-level* duplicates that text-level
    MinHash misses (translations, templated rewrites, near-paraphrases)
    — the standard embedding-side companion to the MinHash pass in
    web-scale corpus curation.

    Scale design: clustering bounds the candidate space — all-pairs run
    per cluster, never corpus-wide, and candidate generation reuses the
    triangle-salted hot-bucket join (dedup._bucket_pairs) so one
    mega-cluster cannot pin a reducer.  Following the paper, cluster
    count should grow with the corpus (they use ~sqrt(n)); per-cluster
    pair mass is then O(n) total.  Centroids are driver-small broadcast
    literals by the IVF contract; the component step runs only on the
    duplicate subgraph.  Deterministic end to end (seeded centroids,
    id-ordered representatives) — the DuckDB oracle replays it exactly.

    `keep` picks each component's representative:
      - "min_id" (default): minimum id — cheapest, no extra join.
      - "far_from_centroid": the member with the LOWEST cosine to its
        cluster centroid (ties -> min id) — the paper's choice, which
        retains the most atypical/diverse example of each duplicate
        group.  One row_number window over component members only.
    """
    from ..algorithms import weakly_connected_component
    from .dedup import _bucket_pairs

    if nlist is None:
        # the paper's rule: cluster count scales ~sqrt(n) so per-cluster
        # all-pairs mass stays O(n).  A FIXED nlist is quadratic in
        # cluster size as the corpus grows — measured 14.4x wall growth
        # at 10x data with nlist=8 (317 s at the 10x tier) vs the
        # auto-scaled default
        import math

        nlist = max(1, math.isqrt(embeddings.count()))
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(
            f"keep must be 'min_id' or 'far_from_centroid', got {keep!r}"
        )
    cents = ivf_centroids(embeddings, nlist, id_col, vec_col, iterations)
    # persist the assignment: nearest-centroid is the most expensive
    # expression here (nlist cosines per row, interpreted HOFs) and `c`
    # has THREE consumers (candidate buckets + both pair-side vector
    # lookups) — unpersisted it evaluates once per consumer (measured
    # 3x the assignment cost at the 10x tier)
    c = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        _nearest_centroid(vec_col, cents).alias("cluster"),
    ).persist()
    cands = _bucket_pairs(c.select("id", "cluster"), ["cluster"])
    # pin the verify stage's width: candidate pairs are byte-light but
    # CPU-heavy (a 64-dim interpreted-HOF cosine per row), so AQE's
    # size-based coalescing can collapse them onto one task — the
    # dedup_edit lesson (see edit_distance_pairs); the tiny shuffle is
    # cheap insurance
    from .paths import default_parallelism

    cands = cands.repartition(default_parallelism(embeddings.sparkSession))
    pairs = (
        cands.join(
            c.select(F.col("id").alias("id_a"), F.col("vec").alias("__va")), "id_a"
        )
        .join(c.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb")), "id_b")
        .where(F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sims = None
    if keep == "far_from_centroid":
        # similarity of every vector to its own centroid, read off the
        # cached assignment before it is released (small 2-col frame)
        csim = F.round(
            cosine(F.col("vec"), _centroid_lookup(F.col("cluster"), cents)), 6
        )
        sims = c.select(F.col("id").alias("vid"), csim.alias("__csim")).localCheckpoint(
            eager=True
        )
    c.unpersist()
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    comp = weakly_connected_component(edges, verts)
    if keep == "min_id":
        drop = comp.where(F.col("vid") != F.col("component_id")).select(
            F.col("vid").alias(id_col)
        )
        return embeddings.join(drop, id_col, "left_anti")
    # paper mode: rank component members by similarity to their own
    # cluster centroid, ascending — keep the least-typical member
    members = comp.join(sims, "vid")
    w = Window.partitionBy("component_id").orderBy(
        F.col("__csim").asc(), F.col("vid").asc()
    )
    drop = (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(F.col("vid").alias(id_col))
    )
    return embeddings.join(drop, id_col, "left_anti")


# -- Product quantization (IVF-PQ) -------------------------------------------
#
# FAISS-style IVF-PQ re-expressed as DataFrame plans: a coarse quantizer
# (the existing IVF centroid assignment) partitions the corpus into
# inverted lists, and a product quantizer compresses every vector to m
# one-byte codes — at dim 64 / m 8 that is 256 B of float32 down to 8 B
# (32x), which is what lets a 100 TB embedding corpus serve ANN from a
# dataset 1/32 the size.  Query scoring is ADC (asymmetric distance
# computation): the query stays exact, each corpus vector is scored via an
# m-slot lookup table — JVM column expressions end to end, no UDFs.
#
# Two deliberate simplifications keep every step reproducible in plain SQL
# (the driver oracle rebuilds codebooks, codes, and scores bit-for-bit):
# codes quantize the L2-NORMALIZED vector itself, not the residual from
# its coarse centroid (FAISS by_residual=False), and codebook training is
# the same deterministic seeding as ivf_centroids (slot s codebook =
# slot-s subvectors of the ksub lowest-id vectors; optional Lloyd).
# ADC terms are summed in 1e-9 fixed point so the score is an exact
# integer sum — associative, hash-stable across engines and plans.


def _normalize(vec: Column) -> Column:
    """L2-normalize (double): cosine against a normalized corpus reduces
    to a dot product, which is what PQ's additive slot terms approximate."""
    n = norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 0,
    dim: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train m per-slot codebooks of ksub codewords over the L2-normalized
    corpus.  Deterministic: slot s's seed codewords are the slot-s
    subvectors of the ksub lowest-id vectors (the ivf_centroids seeding
    rule applied per slot), optionally refined by Lloyd iterations on L2
    distance.  Returns books[s] = [(code, subvector)] — m * ksub * (dim/m)
    doubles, driver-small broadcast state by the PQ contract."""
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col))).first()
        if first is None:
            raise ValueError("embeddings DataFrame is empty; pass dim explicitly")
        dim = int(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    seeds = (
        embeddings.select(
            F.col(id_col).alias("__id"), _normalize(F.col(vec_col)).alias("__v")
        )
        .orderBy("__id")
        .limit(ksub)
        .collect()
    )
    books = [
        [(j, list(r["__v"][s * d : (s + 1) * d])) for j, r in enumerate(seeds)]
        for s in range(m)
    ]
    for _ in range(iterations):
        nrm = embeddings.select(_normalize(F.col(vec_col)).alias("__v"))
        for s in range(m):
            sub = nrm.select(F.slice("__v", s * d + 1, d).alias("__s"))
            assigned = sub.select(
                "__s", _pq_assign(F.col("__s"), books[s]).alias("__code")
            )
            means = (
                assigned.select("__code", F.posexplode("__s").alias("__pos", "__x"))
                .groupBy("__code", "__pos")
                .agg(F.avg("__x").alias("__m"))
                .groupBy("__code")
                .agg(
                    F.sort_array(F.collect_list(F.struct("__pos", "__m"))).alias("__mv")
                )
                .select("__code", F.col("__mv.__m").alias("__v"))
                .collect()
            )
            new = {r["__code"]: list(r["__v"]) for r in means}
            books[s] = [(j, new.get(j, cw)) for j, cw in books[s]]
    return books


def _dot_lits(sub: Column, cw: list[float]) -> Column:
    """<sub, literal codeword> expanded to explicit element arithmetic.
    Bit-identical to `dot` (F.aggregate folds acc + x_i left to right;
    this is the same ((0+x1)+x2)+... order) but with ZERO lambda/HOF
    nodes — with m*ksub codewords per query the HOF form made Catalyst
    analysis the dominant cost (~20 s driver-side at ANY data size;
    measured 23 s -> ~3 s on a 50-vector corpus after expansion).
    Codewords are short by design (dim/m), so the expansion stays small."""
    acc: Column = F.lit(0.0)
    for i, c in enumerate(cw):
        acc = acc + F.element_at(sub, i + 1) * F.lit(float(c))
    return acc


def _pq_assign(sub: Column, book: list[tuple[int, list[float]]]) -> Column:
    """Argmin-by-L2 code for one slot as a pure column expression; ties
    break toward the lowest code.  L2² is expanded as |c|² - 2<x,c> (the
    |x|² term is constant per row, so it cannot change the argmin)."""
    choices = []
    for code, cw in book:
        cc = float(sum(x * x for x in cw))
        dist = F.lit(cc) - F.lit(2.0) * _dot_lits(sub, cw)
        choices.append(F.struct(dist.alias("d"), F.lit(code).alias("code")))
    return F.array_min(F.array(*choices))["code"]


def _books_df(spark, books) -> DataFrame:
    """Codebooks as a (tiny) DataFrame (s, code, cw, cc=|cw|²) instead of
    literal expressions: m*ksub codeword literals inlined into the plan
    made Catalyst analysis + codegen the dominant cost (~20 s driver-side
    at ANY corpus size); as broadcast DATA the plan is small and generic
    and the same math runs in a join."""
    rows = [
        (s, code, [float(x) for x in cw], float(sum(x * x for x in cw)))
        for s, bk in enumerate(books)
        for code, cw in bk
    ]
    return spark.createDataFrame(rows, "s int, code int, cw array<double>, cc double")


def _slot_subs(nv: Column, m: int, d: int) -> Column:
    """Explodable array of (s, sub) slot slices of a normalized vector."""
    return F.array(
        *[
            F.struct(F.lit(s).alias("s"), F.slice(nv, s * d + 1, d).alias("sub"))
            for s in range(m)
        ]
    )


def _encode_codes(base: DataFrame, books_b: DataFrame, m: int, d: int, *keys):
    """(keys..., s, code) PQ codes via explode + broadcast codebook join +
    min-struct argmin.  dist = cc - 2<sub, cw> exactly as the literal
    formulation (the dot is the same left-fold), and min(struct(dist,
    code)) is the same (dist asc, code asc) tie-break."""
    return (
        base.select(*keys, F.explode(_slot_subs(F.col("__nv"), m, d)).alias("sl"))
        .select(*keys, F.col("sl.s").alias("s"), F.col("sl.sub").alias("sub"))
        .join(books_b, "s")
        .withColumn("__dist", F.col("cc") - F.lit(2.0) * dot(F.col("sub"), F.col("cw")))
        .groupBy(*keys, "s")
        .agg(F.min(F.struct(F.col("__dist"), F.col("code"))).alias("__mc"))
        .select(*keys, "s", F.col("__mc.code").alias("code"))
    )


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to m codes.  One
    explode + broadcast codebook join + argmin aggregate over the corpus
    scan; at 100 TB this is the build-once index write (pair with
    partitionBy(list_id) exactly like write_ivf_index)."""
    m = len(books)
    d = len(books[0][0][1])
    base = embeddings.select(
        F.col(id_col).alias("id"), _normalize(F.col(vec_col)).alias("__nv")
    )
    books_b = F.broadcast(_books_df(embeddings.sparkSession, books))
    per_slot = _encode_codes(base, books_b, m, d, "id")
    return per_slot.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("s", "code"))), lambda x: x["code"]
        ).alias("codes")
    )


def _seed_cents_and_books(
    embeddings, nlist, m, ksub, id_col, vec_col, iterations
):
    """Coarse centroids + PQ codebooks from ONE collect when both are
    iteration-0 seeded: centroids are the nlist lowest-id RAW vectors,
    codebooks the slot slices of the ksub lowest-id NORMALIZED vectors —
    one ordered limit(max(nlist, ksub)) job computes both columns (the
    normalize stays Spark-side, so values are bit-identical to the
    separate trainers).  Falls back to the two trainers when Lloyd
    iterations are requested."""
    if iterations:
        return (
            ivf_centroids(embeddings, nlist, id_col, vec_col, iterations),
            pq_codebooks(embeddings, m, ksub, id_col, vec_col, iterations),
        )
    rows = (
        embeddings.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__raw"),
            _normalize(F.col(vec_col)).alias("__nv"),
        )
        .orderBy("__id")
        .limit(max(nlist, ksub))
        .collect()
    )
    if not rows:
        raise ValueError("embeddings DataFrame is empty")
    dim = len(rows[0]["__raw"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    cents = [(i, list(r["__raw"])) for i, r in enumerate(rows[:nlist])]
    books = [
        [(j, list(rows[j]["__nv"][s * d : (s + 1) * d])) for j in range(min(ksub, len(rows)))]
        for s in range(m)
    ]
    return cents, books


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 0,
    refine: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse centroids route each query to its
    nprobe inverted lists; within them, corpus vectors are scored by ADC
    over their m-byte PQ codes instead of their full vectors.

    Returns (query_id, vec_id, adc_score, rank) — adc_score approximates
    the cosine of the normalized pair; rank ties break toward low vec_id.
    With refine=r > 0 (FAISS IVFPQR): the ADC pass keeps r*k candidates
    per query, which are re-scored by EXACT cosine against their full
    vectors — only r*k full vectors per query leave the compressed index,
    and adc_score then holds the exact cosine.

    At 100 TB: codes + list ids are the precomputed index (32x smaller
    than the vectors at dim 64 / m 8), written partitionBy(list_id); a
    query batch scans nprobe/nlist of THAT — partition pruning over a
    compressed corpus.  Codebooks and coarse centroids are broadcast
    literals; everything is whole-stage-codegen column math."""
    query_id_col = query_id_col or id_col
    cents, books = _seed_cents_and_books(
        embeddings, nlist, m, ksub, id_col, vec_col, iterations
    )
    d = len(books[0][0][1])
    spark = embeddings.sparkSession
    books_b = F.broadcast(_books_df(spark, books))
    # __nv as a real column = the normalize (a norm + a transform) runs
    # once per corpus row, not once per slot slice
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _nearest_centroid(vec_col, cents).alias("__cid"),
        _normalize(F.col(vec_col)).alias("__nv"),
    )
    # corpus -> (vec_id, __cid, s, code): the compressed index, exploded
    codes = _encode_codes(base, books_b, m, d, "vec_id", "__cid")
    q = _probe_queries(
        queries.select(
            F.col(query_id_col).alias(query_id_col), _normalize(F.col(vec_col)).alias(vec_col)
        ),
        cents,
        nprobe,
        query_id_col,
        vec_col,
    )
    # per-(query, probed list) ADC lookup TABLE as broadcast rows: one
    # fixed-point term per (s, code); the scoring join then needs no
    # vector math at all — candidates match their 8 (s, code) terms and
    # SUM exact integers (associative, hash-stable under any plan)
    lut = F.broadcast(
        q.select("query_id", "__cid", F.explode(_slot_subs(F.col("__qvec"), m, d)).alias("sl"))
        .select("query_id", "__cid", F.col("sl.s").alias("s"), F.col("sl.sub").alias("qsub"))
        .join(_books_df(spark, books), "s")
        .select(
            "query_id",
            "__cid",
            "s",
            "code",
            F.round(dot(F.col("qsub"), F.col("cw")) * F.lit(1000000000.0))
            .cast("long")
            .alias("__term"),
        )
    )
    sim = (
        lut.join(codes, ["__cid", "s", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("__term") / F.lit(1000000000.0), 6).alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("vec_id")
    )
    ranked = sim.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= (k * refine if refine else k)
    )
    if not refine:
        return ranked
    # exact-rerank refine: fetch ONLY the r*k surviving candidates' full
    # vectors and rescore by true cosine (query side is already
    # normalized, so cosine = dot / |corpus vec|)
    full = embeddings.select(
        F.col(id_col).alias("vec_id"), _normalize(F.col(vec_col)).alias("__fvec")
    )
    qn = q.select("query_id", "__qvec").dropDuplicates(["query_id"])
    exact = (
        ranked.select("query_id", "vec_id")
        .join(full, "vec_id")
        .join(qn, "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(dot(F.col("__qvec"), F.col("__fvec")), 6).alias("adc_score"),
        )
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# -- Embedding compression (beyond PQ) ----------------------------------------


def random_projection(
    embeddings: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    vector onto `out_dim` deterministic LCG hyperplanes (the same
    generator as the LSH buckets, so the matrix is reproducible in plain
    SQL and on any engine).  Distances are preserved within ~sqrt(ln n /
    out_dim) relative error — the standard preprocessing step before
    clustering / ANN when the native dimension is wasteful.

    Returns (id, proj array<double>).  Pure per-row column math with
    literal plane coefficients (out_dim * dim doubles — bounded, the
    analysis-cost regime measured for PQ starts far above this); no
    shuffle, pipelines into any downstream plan."""
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col))).first()
        if first is None:
            raise ValueError("embeddings DataFrame is empty; pass dim explicitly")
        dim = int(first[0])
    planes = hyperplanes(out_dim, dim)
    if not is_simple_ident(vec_col):
        # dotted/nested names: pre-project through F.col so the backtick-
        # quoted SQL below sees a plain top-level column (ADVICE r10)
        embeddings = embeddings.withColumn("__rp_vec", F.col(vec_col))
        vec_col = "__rp_vec"
    # one SQL parse for all out_dim plane dots (vs ~0.1 s of py4j Column
    # construction per plane — see the rendering-helpers note)
    v = f"CAST({_ident_sql(vec_col)} AS ARRAY<DOUBLE>)"
    proj = F.expr(
        "array(" + ",".join(_dot_sql(v, _arr_sql(p)) for p in planes) + ")"
    )
    return embeddings.select(F.col(id_col).alias("id"), proj.alias("proj"))


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization: per-DIMENSION min/max over the corpus
    (one posexplode + agg — the calibration pass), then every value maps
    to round((x - min_d) / (max_d - min_d) * 254) - 127 in [-127, 127];
    a constant dimension maps to 0.  4x smaller than float32, 8x smaller
    than the double math path — the standard cheap compression tier
    below PQ (which is 32x but lossy-per-slot).

    Returns (id, codes array<int>).  The calibration table is
    dimension-sized (broadcast by construction, like IVF centroids); the
    encode is a single broadcast-join-free pass: bounds come back as
    literal arrays, so the corpus scan stays narrow and shuffle-free."""
    v = F.col(vec_col).cast("array<double>")
    bounds = (
        embeddings.select(F.posexplode(v).alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi"))
        .orderBy("__pos")
        .collect()
    )
    lo = F.array(*[F.lit(float(r["__lo"])) for r in bounds])
    span = F.array(
        *[F.lit(float(r["__hi"]) - float(r["__lo"])) for r in bounds]
    )
    codes = F.zip_with(
        F.zip_with(v, lo, lambda x, l: x - l),
        span,
        lambda d, s: F.when(
            s > 0, (F.round(d / s * F.lit(254.0)) - F.lit(127.0)).cast("int")
        ).otherwise(F.lit(0)),
    )
    return embeddings.select(F.col(id_col).alias("id"), codes.alias("codes"))


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF-PQ index on disk: the EXPLODED code table
    (vec_id, s, code) written PARTITIONED BY inverted-list id, plus
    centroids and codebooks parquets.  This is the standing-index form
    of `ivfpq_topk`: encode cost is paid once at build time, the stored
    index is m bytes of codes per vector instead of the vectors
    themselves (32x at dim 64 / m 8), and every query batch afterwards
    reads only its probed list directories via partition pruning — i.e.
    nprobe/nlist of a corpus that is ALREADY 32x smaller than the raw
    embeddings.  The raw vectors are NOT stored: refine-style reranks
    read them from the original table."""
    from pyspark.sql import Row

    spark = embeddings.sparkSession
    cents, books = _seed_cents_and_books(
        embeddings, nlist, m, ksub, id_col, vec_col, iterations
    )
    spark.createDataFrame(
        [Row(centroid_id=cid, centroid=list(vec)) for cid, vec in cents],
        "centroid_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _books_df(spark, books).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )
    d = len(books[0][0][1])
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _nearest_centroid(vec_col, cents).alias("list_id"),
        _normalize(F.col(vec_col)).alias("__nv"),
    )
    codes = _encode_codes(
        base, F.broadcast(_books_df(spark, books)), m, d, "vec_id", "list_id"
    )
    codes.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/codes")


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ top-k against a `write_pq_index` directory.  Probed list
    ids are computed driver-side from the (driver-small) query batch and
    pushed into the code-table scan as an IN filter on the partition
    column — static partition pruning, so unprobed list directories are
    never opened; within them the scan reads (vec_id, s, code), never a
    vector.  Returns (query_id, vec_id, adc_score, rank) exactly like
    ivfpq_topk."""
    cents = [
        (int(r["centroid_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    brows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["s"] for r in brows)
    books = [
        [(r["code"], list(r["cw"])) for r in sorted(brows, key=lambda r: (r["s"], r["code"])) if r["s"] == s]
        for s in range(m)
    ]
    d = len(books[0][0][1])
    q = _probe_queries(
        queries.select(
            F.col(query_id_col).alias(query_id_col),
            _normalize(F.col(vec_col)).alias(vec_col),
        ),
        cents,
        nprobe,
        query_id_col,
        vec_col,
    )
    lut = F.broadcast(
        q.select(
            "query_id", "__cid", F.explode(_slot_subs(F.col("__qvec"), m, d)).alias("sl")
        )
        .select("query_id", "__cid", F.col("sl.s").alias("s"), F.col("sl.sub").alias("qsub"))
        .join(_books_df(spark, books), "s")
        .select(
            "query_id",
            "__cid",
            "s",
            "code",
            F.round(dot(F.col("qsub"), F.col("cw")) * F.lit(1000000000.0))
            .cast("long")
            .alias("__term"),
        )
    )
    probed = sorted({r["__cid"] for r in q.select("__cid").distinct().collect()})
    codes = (
        spark.read.parquet(f"{path}/codes")
        # IN on the partition column -> PartitionFilters at the scan
        .where(F.col("list_id").isin(probed))
        .select(F.col("list_id").alias("__cid"), "vec_id", "s", "code")
    )
    sim = (
        lut.join(codes, ["__cid", "s", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("__term") / F.lit(1000000000.0), 6).alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("vec_id")
    )
    return sim.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int | None = None,
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact baseline —
    the tuning metric for every knob in this module (nprobe/nlist, PQ
    m/ksub, refine, LSH planes).  Both inputs are (query_id, vec_id,
    ..., rank) frames as returned by *_topk; rows with rank > k are
    ignored when k is given.

    Returns one row per query: (query_id, n_hits, n_exact, recall),
    recall = |approx ∩ exact| / |exact| rounded to 6 — queries missing
    entirely from `approx` score 0 against their exact set.  One
    broadcast-friendly join + one aggregate; both sides are top-k
    results (rows = |queries| * k), driver-small by construction."""
    a = approx.select("query_id", "vec_id")
    e = exact.select("query_id", "vec_id")
    if k is not None:
        a = approx.where(F.col("rank") <= k).select("query_id", "vec_id")
        e = exact.where(F.col("rank") <= k).select("query_id", "vec_id")
    hits = a.join(e, ["query_id", "vec_id"], "left_semi").groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    totals = e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_exact",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def rrf_fusion(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N independent rankings — the standard
    way hybrid retrieval (BM25 lexical + embedding semantic) merges
    result lists without score calibration:

        rrf(q, d) = sum over lists of 1 / (k + rank_list(q, d))

    (Cormack et al., SIGIR'09; k=60 is the conventional damping).  Each
    input frame carries (query_col, item_col, rank_col) with rank 1 =
    best; items absent from a list simply contribute nothing.  Returns
    (query, item, rrf_score, n_lists); with `top_k`, each query's best k
    fused items (ties by item id).

    Scale design: a union of the (small, already-top-k) per-list
    rankings followed by ONE aggregation on (query, item) — no joins
    between lists (an absent item would need full outer joins per list;
    union+groupBy is associative, skew-free, and list-count agnostic).
    """
    if not rankings:
        raise ValueError("rrf_fusion needs at least one ranking")
    contribs = [
        r.select(
            F.col(query_col).alias("query"),
            F.col(item_col).alias("item"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col))).alias("__c"),
        )
        for r in rankings
    ]
    un = contribs[0]
    for c in contribs[1:]:
        un = un.unionByName(c)
    fused = un.groupBy("query", "item").agg(
        F.round(F.sum("__c"), 6).alias("rrf_score"),
        F.count("*").alias("n_lists"),
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("query").orderBy(
            F.col("rrf_score").desc(), F.col("item").asc()
        )
        fused = (
            fused.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= top_k)
            .drop("__rk")
        )
    return fused
