"""Embedding similarity search: exact brute-force cosine top-k and the
LSH-bucketed approximate variant (north-star surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from paqarin_spark.operators import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, "vec_id", "embedding", k=1).collect()
    best = {r["query_id"]: (r["neighbor_id"], r["cos_sim"]) for r in out}
    assert best[1][0] == 2
    assert best[2][0] == 1
    assert best[1][1] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)


def test_cosine_topk_excludes_self(vectors):
    out = cosine_topk(vectors, "vec_id", "embedding", k=3).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_cosine_topk_k_bound(vectors):
    out = cosine_topk(vectors, "vec_id", "embedding", k=2)
    per_q = out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] <= 2 for r in per_q)


def test_lsh_buckets_find_near_neighbor(vectors):
    # With few planes, near-identical vectors land in the same bucket.
    out = lsh_topk(vectors, "vec_id", "embedding", k=2, num_planes=2, dim=4).collect()
    found = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert (1, 2) in found


def test_cosine_dedup_pairs_threshold_and_canonical_order(vectors):
    from paqarin_spark.operators import cosine_dedup_pairs

    out = cosine_dedup_pairs(vectors, "vec_id", "embedding", threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    assert set(pairs) == {(1, 2)}  # only the near-duplicate pair survives
    assert pairs[(1, 2)] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)
    assert all(a < b for a, b in pairs)


def test_cosine_dedup_low_threshold_emits_upper_triangle(vectors):
    from paqarin_spark.operators import cosine_dedup_pairs

    out = cosine_dedup_pairs(vectors, "vec_id", "embedding", threshold=-1.0).collect()
    # 4 vectors -> C(4,2) = 6 canonical pairs at threshold -1
    assert len(out) == 6


def test_cosine_dedup_exact_is_blocking_invariant(vectors):
    # The block-matrix plan must give identical results for any block
    # count (1 block = the old single-matrix behavior).
    from paqarin_spark.operators import cosine_dedup_pairs

    def canon(num_blocks):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in cosine_dedup_pairs(
                vectors, "vec_id", "embedding", threshold=-1.0, num_blocks=num_blocks
            ).collect()
        )

    assert canon(1) == canon(3) == canon(16)


def test_cosine_topk_blocking_invariant(vectors):
    def canon(num_blocks):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"])
            for r in cosine_topk(
                vectors, "vec_id", "embedding", k=2, num_blocks=num_blocks
            ).collect()
        )

    assert canon(1) == canon(4) == canon(16)


def test_bucketed_dedup_finds_identical_vectors(spark):
    from paqarin_spark.operators import cosine_dedup_pairs_bucketed

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), 1.0, 0.5]) for i in range(20)]
    rows += [(100, [2.0, 4.0, 6.0, 8.0]), (101, [1.0, 2.0, 3.0, 4.0])]  # parallel
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_dedup_pairs_bucketed(
        df, "vec_id", "embedding", threshold=0.999999, num_planes=4, dim=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # parallel vectors always share every LSH bucket bit -> must be found
    assert (100, 101) in pairs
    assert all(a < b for a, b in pairs)


def test_bucketed_dedup_infers_dim_and_validates_mismatch(spark):
    import pytest

    from paqarin_spark.operators import cosine_dedup_pairs_bucketed

    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 4.0, 6.0, 8.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # dim omitted: inferred from the first Arrow batch
    out = cosine_dedup_pairs_bucketed(
        df, "vec_id", "embedding", threshold=0.999999, num_planes=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}
    # wrong dim: clear error naming the parameter, not a numpy shape error
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="dim=64 does not match"):
        try:
            cosine_dedup_pairs_bucketed(
                df, "vec_id", "embedding", num_planes=4, dim=64
            ).collect()
        except Py4JJavaError as exc:  # executor errors surface wrapped
            raise ValueError(str(exc)) from exc


def test_ivf_topk_single_cell_equals_brute_force(vectors):
    from paqarin_spark.operators import ivf_topk

    # One cell holds the whole corpus -> IVF degenerates to exact kNN.
    ivf = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ivf_topk(vectors, "vec_id", "embedding", k=2, num_cells=1).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk(vectors, "vec_id", "embedding", k=2).collect()
    }
    assert ivf == exact


def test_ivf_topk_cells_partition_candidates(vectors):
    from paqarin_spark.operators import ivf_topk

    # Centroids are vectors 1 and 2. Vector 1 is its own singleton cell
    # (sim 1.0 to itself); 2, 3, 4 land with centroid 2 -> queries only
    # see same-cell candidates.
    out = ivf_topk(vectors, "vec_id", "embedding", k=1, num_cells=2).collect()
    best = {r["query_id"]: r["neighbor_id"] for r in out}
    assert 1 not in best          # singleton cell: no candidates
    assert best[2] == 3           # nearest within {3, 4}
    assert set(best) == {2, 3, 4}


def test_ivf_topk_excludes_self_and_bounds_k(vectors):
    from paqarin_spark.operators import ivf_topk

    out = ivf_topk(vectors, "vec_id", "embedding", k=2, num_cells=1).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    from collections import Counter

    counts = Counter(r["query_id"] for r in out)
    assert all(n <= 2 for n in counts.values())


def test_ivf_topk_kmeans_centroids(spark):
    from paqarin_spark.operators import ivf_topk

    # two tight clusters far apart: kmeans must separate them, and
    # nprobe=1 then confines neighbors within each cluster
    rows = [(i, [10.0 + 0.01 * i, 0.0, 0.0, 0.0]) for i in range(5)]
    rows += [(100 + i, [0.0, 10.0 + 0.01 * i, 0.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_topk(
        df, "vec_id", "embedding", k=2, num_cells=2, centroids="kmeans", seed=7
    ).collect()
    for r in out:
        same_side = (r["query_id"] < 100) == (r["neighbor_id"] < 100)
        assert same_side
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 2 for v in per_q.values())


def test_ivf_topk_rejects_unknown_centroids(vectors):
    from paqarin_spark.operators import ivf_topk

    with pytest.raises(ValueError, match="first_ids"):
        ivf_topk(vectors, "vec_id", "embedding", centroids="random")


def test_ivf_topk_multiprobe_full_probe_equals_brute_force(vectors):
    from paqarin_spark.operators import ivf_topk

    # Probing every cell makes multi-probe IVF exact regardless of the
    # coarse quantization.
    ivf = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ivf_topk(
            vectors, "vec_id", "embedding", k=2, num_cells=2, nprobe=2
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk(vectors, "vec_id", "embedding", k=2).collect()
    }
    assert ivf == exact


def test_ivf_topk_multiprobe_improves_recall(vectors):
    from paqarin_spark.operators import ivf_topk

    # Singleton-cell vector 1 has NO candidates at nprobe=1 (see
    # test_ivf_topk_cells_partition_candidates); probing its second
    # cell gives it neighbors.
    single = {r["query_id"] for r in ivf_topk(
        vectors, "vec_id", "embedding", k=1, num_cells=2, nprobe=1
    ).collect()}
    multi = {r["query_id"]: r["neighbor_id"] for r in ivf_topk(
        vectors, "vec_id", "embedding", k=1, num_cells=2, nprobe=2
    ).collect()}
    assert 1 not in single
    assert 1 in multi  # recall recovered by the second probe


def test_scalar_quantize_error_identity_and_bounds(spark):
    from paqarin_spark.operators import scalar_quantize_error

    rows = [
        (1, [0.0, 1.0, -1.0]),
        (2, [0.5, 0.5, 0.0]),
        (3, [1.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r["vec_id"]: r for r in scalar_quantize_error(df, "vec_id", "v").collect()}
    # 8-bit quantization of values on a [lo, hi] grid keeps cosine ~1
    for r in out.values():
        assert r["cos_recon"] > 0.999
        assert 0.0 <= r["mse"] < 1e-4


def test_scalar_quantize_error_constant_dim(spark):
    from paqarin_spark.operators import scalar_quantize_error

    # dim 2 is constant (hi == lo) -> reconstruction is exactly lo
    df = spark.createDataFrame(
        [(1, [0.0, 7.0]), (2, [1.0, 7.0])], "vec_id long, v array<double>"
    )
    out = {r["vec_id"]: r for r in scalar_quantize_error(df, "vec_id", "v").collect()}
    assert out[1]["mse"] == 0.0
    assert out[2]["mse"] == 0.0
    assert out[1]["cos_recon"] == 1.0


def test_random_projection_distortion_matches_numpy(spark):
    import hashlib

    import numpy as np

    from paqarin_spark.operators import random_projection_distortion

    rng = np.random.RandomState(7)
    vecs = rng.randn(5, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(5)],
        "vid long, emb array<float>",
    )
    out = {
        r.vid: r
        for r in random_projection_distortion(df, "vid", "emb", out_dim=4).collect()
    }

    def sign(j, i):
        h = hashlib.md5(f"rp#{j}#{i}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    M = np.array([[sign(j, i) for i in range(8)] for j in range(4)])
    for i in range(5):
        x = vecs[i].astype("float64")
        p = M @ x
        assert abs(out[i].norm_in - round(float(np.sqrt(x @ x)), 6)) < 1e-6
        expect = float((p @ p) / (4.0 * (x @ x)))
        assert abs(out[i].distortion - expect) < 1e-5


def test_random_projection_rejects_ragged_widths(spark):
    from paqarin_spark.operators import random_projection_distortion

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])], "vid long, emb array<float>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ragged"):
        random_projection_distortion(df, "vid", "emb", out_dim=4)


def test_random_projection_zero_vector_null_distortion(spark):
    from paqarin_spark.operators import random_projection_distortion

    df = spark.createDataFrame([(1, [0.0, 0.0])], "vid long, emb array<float>")
    row = random_projection_distortion(df, "vid", "emb", out_dim=2).first()
    assert row.distortion is None and row.norm_in == 0.0


def test_top_cols_enforces_tie_break_bound():
    import numpy as np
    import pytest as _pytest

    from paqarin_spark.operators.similarity import _top_cols

    with _pytest.raises(ValueError, match="tie-break-safe"):
        _top_cols(np.zeros((1, 5_000_001)), 5)
    # at the bound, still fine
    out = _top_cols(np.array([[0.3, 0.9, 0.9, 0.1]]), 2)
    assert out.tolist() == [[1, 2]]


def test_kmeans_lloyd_recovers_separated_clusters(spark):
    """Four well-separated blobs must each land in their own cluster
    with near-zero within-cluster distance, regardless of layout."""
    import pyspark.sql.functions as F

    from paqarin_spark.operators import kmeans_lloyd

    import hashlib

    # Lloyd's converges to whatever the init allows: pick (in pure
    # Python, same md5 rank the operator uses) a seed whose 4 initial
    # centroids land in 4 DIFFERENT blobs, so the recovery assertion
    # tests the iteration, not init luck.
    def init_blobs(seed):
        ranked = sorted(
            range(400),
            key=lambda i: hashlib.md5(
                f"kmeans#{i}#{seed}".encode()
            ).hexdigest(),
        )[:4]
        return {i % 4 for i in ranked}

    seed = next(s for s in range(100) if len(init_blobs(s)) == 4)

    centers = [0.0, 10.0, 20.0, 30.0]
    df = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.element_at(
                        F.array(*[F.lit(c) for c in centers]),
                        (F.col("id") % 4 + 1).cast("int"),
                    )
                    + (F.pmod(F.col("id") * 37 + j, F.lit(100)) / 1000.0)
                ).cast("double")
                for j in range(8)
            ]
        ).alias("embedding"),
    )
    assign, cent = kmeans_lloyd(
        df, "vec_id", "embedding", k=4, iterations=2, seed=seed
    )
    rows = assign.collect()
    assert len(rows) == 400
    # each blob (id % 4) maps to exactly one cluster, bijectively
    blob_to_cluster = {}
    for r in rows:
        blob = r["vec_id"] % 4
        blob_to_cluster.setdefault(blob, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in blob_to_cluster.values())
    assert len({next(iter(s)) for s in blob_to_cluster.values()}) == 4
    # within-cluster squared distance is bounded by the jitter (<0.1 per dim)
    assert all(r["_d2"] < 8 * 0.01 + 1e-6 for r in rows)
    # layout-independence: same assignments at 16 partitions
    assign16, _ = kmeans_lloyd(
        df.repartition(16), "vec_id", "embedding", k=4, iterations=2, seed=seed
    )
    a = {(r["vec_id"], r["cluster"]) for r in rows}
    b = {(r["vec_id"], r["cluster"]) for r in assign16.collect()}
    assert a == b


def test_kmeans_blas_path_matches_expr_path(spark):
    """The BLAS E-step must produce the same assignments as the
    decimal-exact expression E-step away from ties (separated data)."""
    import pyspark.sql.functions as F

    from paqarin_spark.operators import kmeans_lloyd

    df = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    (F.col("id") % 3) * 50.0
                    + F.pmod(F.col("id") * 13 + j, F.lit(40)) / 10.0
                ).cast("double")
                for j in range(6)
            ]
        ).alias("embedding"),
    )
    a_expr, c_expr = kmeans_lloyd(
        df, "vec_id", "embedding", k=3, iterations=2, seed=2,
        assignment="expr",
    )
    a_blas, c_blas = kmeans_lloyd(
        df, "vec_id", "embedding", k=3, iterations=2, seed=2,
        assignment="blas",
    )
    ae = {(r["vec_id"], r["cluster"]) for r in a_expr.collect()}
    ab = {(r["vec_id"], r["cluster"]) for r in a_blas.collect()}
    assert ae == ab
    # centroid tables agree to the rounding contract
    ce = {(r["cluster"], r["dim"]): r["c"] for r in c_expr.collect()}
    cb = {(r["cluster"], r["dim"]): r["c"] for r in c_blas.collect()}
    assert ce.keys() == cb.keys()
    assert all(abs(ce[k] - cb[k]) < 1e-9 for k in ce)


def test_cosine_topk_cross_table_id_collision(spark):
    """In cross-table mode (explicit `queries`) the query and corpus id
    spaces are unrelated — a corpus vector sharing an id with a query
    must still be a candidate (ADVICE r4); only self-kNN masks the
    self match."""
    import pyspark.sql.functions as F

    from paqarin_spark.operators import cosine_topk
    from paqarin_spark.operators.similarity import cosine_topk_expr

    corpus = spark.createDataFrame(
        [(5, [1.0, 0.0]), (6, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    queries = spark.createDataFrame(
        [(5, [1.0, 0.0])], "vec_id long, v array<double>"
    )
    for fn in (cosine_topk, cosine_topk_expr):
        rows = fn(corpus, "vec_id", "v", k=1, queries=queries).collect()
        assert len(rows) == 1
        # corpus id 5 is the true nearest neighbor despite the collision
        assert rows[0]["neighbor_id"] == 5 and rows[0]["cos_sim"] == 1.0
    # self-kNN still excludes the trivial self match
    rows = cosine_topk(corpus, "vec_id", "v", k=1).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_pq_train_encode_separates_planted_codewords(spark):
    import pytest

    from paqarin_spark.operators import pq_train_encode

    # Two tight groups per subspace: ids 0-9 near (0,0|0,0), ids 10-19
    # near (9,9|9,9). With k=2 per subspace every vector must encode
    # with its group in BOTH subspaces, and the two groups must get
    # different codes.
    rows = []
    for i in range(20):
        base = 0.0 if i < 10 else 9.0
        eps = (i % 10) * 0.01
        rows.append((i, [base + eps, base, base + eps, base]))
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    codes, books = pq_train_encode(
        df, "vec_id", "v", subspaces=2, k=2, iterations=2
    )
    got = {(r["vec_id"], r["subspace"]): r["code"] for r in codes.collect()}
    # complete: every (id, subspace) encoded
    assert len(got) == 40
    for s in (0, 1):
        lo = {got[(i, s)] for i in range(10)}
        hi = {got[(i, s)] for i in range(10, 20)}
        assert len(lo) == 1 and len(hi) == 1 and lo != hi
    # codebooks: 2 subspaces x 2 codewords x 2 local dims
    assert books.count() == 8
    assert books.agg({"dim": "max"}).first()[0] == 1  # subspace-LOCAL dims

    # quantization error is exact-decimal and non-negative
    assert codes.where("_d2sub < 0").count() == 0

    with pytest.raises(ValueError):
        pq_train_encode(df, "vec_id", "v", subspaces=3)  # 4 dims % 3 != 0
    with pytest.raises(ValueError):
        pq_train_encode(df.limit(0), "vec_id", "v", subspaces=2)


def test_pq_train_encode_layout_independent_and_sample_trained(spark):
    from paqarin_spark.operators import pq_train_encode

    rows = [
        (i, [float((7 * i + j) % 13) for j in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")

    def run(frame):
        codes, books = pq_train_encode(
            frame, "vec_id", "v", subspaces=2, k=3, iterations=2,
            train_limit=30,
        )
        return (
            sorted(map(tuple, codes.select("vec_id", "subspace", "code").collect())),
            sorted(map(tuple, books.collect())),
        )

    a = run(df)
    b = run(df.repartition(7, "vec_id"))
    assert a == b
    # encode covers ALL ids even though training saw only 30
    assert len(a[0]) == 120


def test_ivfpq_adc_topk_planted_cells(spark):
    """Two well-separated blobs: cell pruning must keep every probe's
    neighbors inside its own blob, and rank-1 must be the probe itself
    (ADC self-distance ≈ quantization error, strictly smallest against
    the far blob)."""
    from paqarin_spark.operators import ivfpq_adc_topk

    rows = []
    for i in range(24):
        base = 0.0 if i < 12 else 50.0
        eps = (i % 12) * 0.05
        rows.append((i, [base + eps, base, base - eps, base + 2 * eps]))
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    out = ivfpq_adc_topk(
        df, "vec_id", "v", F.col("vec_id") % 6 == 0,
        num_cells=2, subspaces=2, k_codes=2, nprobe=1, k=3,
        train_limit=None,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 6, 12, 18}
    for q, hits in by_q.items():
        assert len(hits) == 3
        blob = set(range(12)) if q < 12 else set(range(12, 24))
        # nprobe=1 on separated blobs -> candidates never cross blobs
        assert {h["neighbor_id"] for h in hits} <= blob
        assert all(h["adc"] >= 0.0 for h in hits)
        ranked = sorted(hits, key=lambda h: h["rk"])
        assert [h["adc"] for h in ranked] == sorted(h["adc"] for h in hits)


def test_ivfpq_adc_topk_probe_covers_more_cells_with_nprobe(spark):
    """Raising nprobe can only grow each probe's candidate pool (the
    classic IVF recall knob): top-k lists at nprobe=2 rank over a
    superset of the nprobe=1 candidates."""
    from paqarin_spark.operators import ivfpq_adc_topk

    rows = [
        (i, [float((i * 7) % 13), float((i * 3) % 11),
             float((i * 5) % 17), float(i % 7)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    one = ivfpq_adc_topk(
        df, "vec_id", "v", F.col("vec_id") == 0,
        num_cells=3, subspaces=2, k_codes=2, nprobe=1, k=30,
        train_limit=None,
    )
    two = ivfpq_adc_topk(
        df, "vec_id", "v", F.col("vec_id") == 0,
        num_cells=3, subspaces=2, k_codes=2, nprobe=2, k=30,
        train_limit=None,
    )
    n1 = {r["neighbor_id"] for r in one.collect()}
    n2 = {r["neighbor_id"] for r in two.collect()}
    assert n1 <= n2
    assert len(n2) > len(n1)


def test_semdedup_pairs_blocks_by_cluster(spark):
    """Pairs only form WITHIN a k-means cluster: two tight blobs give
    within-blob pairs at high threshold, and even an exact duplicate
    pair split across blobs is never emitted (the SemDeDup
    approximation, pinned)."""
    from paqarin_spark.operators import semdedup_pairs

    rows = []
    for i in range(8):
        base = 1.0 if i < 4 else -1.0
        rows.append((i, [base, base * 0.5, 0.0, base]))
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    out = semdedup_pairs(
        df, "vec_id", "v", k=2, threshold=0.99, iterations=1
    ).collect()
    assert len(out) > 0
    lo, hi = set(range(4)), set(range(4, 8))
    for r in out:
        a, b = r["id_a"], r["id_b"]
        assert a < b
        assert ({a, b} <= lo) or ({a, b} <= hi)
        assert r["cos_sim"] >= 0.99


def test_sign_signatures_pack_and_angle_estimate(spark):
    """Identical vectors share a signature (ham=0), opposite vectors
    flip every plane (ham=num_planes), orthogonal vectors land near
    planes/2 — the E[ham]/planes = angle/pi estimator."""
    from paqarin_spark.operators import sign_signatures

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
        (2, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    sigs = {
        r["vec_id"]: r["sig"]
        for r in sign_signatures(df, "vec_id", "v", num_planes=32).collect()
    }
    assert all(0 <= s < (1 << 32) for s in sigs.values())

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sigs[0], sigs[1]) == 0
    assert ham(sigs[0], sigs[2]) == 32  # every projection flips sign
    assert 6 <= ham(sigs[0], sigs[3]) <= 26  # ~16 expected, wide belt

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sign_signatures(df, "vec_id", "v", num_planes=63)
    with _pytest.raises(ValueError):
        sign_signatures(df.limit(0), "vec_id", "v")


def test_semdedup_k1_equals_full_pairwise_dedup(spark):
    """With k=1 every vector lands in the single cluster, so the
    cluster-blocked pair set must EXACTLY equal the unblocked
    cosine_dedup_pairs output — the SemDeDup approximation degrades
    to brute force, pinning that blocking only ever REMOVES pairs."""
    import random

    from paqarin_spark.operators import cosine_dedup_pairs, semdedup_pairs

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    blocked = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in semdedup_pairs(
            df, "vec_id", "v", k=1, threshold=0.5, iterations=1
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_dedup_pairs(
            df, "vec_id", "v", threshold=0.5
        ).collect()
    }
    assert blocked == full
    assert len(full) > 0


def test_sign_signatures_matmul_matches_expr(spark):
    """The throughput (matmul) and oracle-parity (expr) paths must
    produce identical packed signatures — the kmeans_lloyd two-path
    policy applied to binary hashing."""
    import random

    from paqarin_spark.operators import sign_signatures

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    a = {
        r["vec_id"]: r["sig"]
        for r in sign_signatures(
            df, "vec_id", "v", num_planes=20, method="matmul"
        ).collect()
    }
    b = {
        r["vec_id"]: r["sig"]
        for r in sign_signatures(
            df, "vec_id", "v", num_planes=20, method="expr"
        ).collect()
    }
    assert a == b


def test_mmr_rerank_prefers_diverse_candidates(spark):
    """MMR's whole point: when the top-2 by relevance are
    near-duplicates, rank 2 must swap in the diverse candidate the
    plain top-k would rank below them. Geometry: c1/c2 nearly
    coincide, c3 mirrors c1 across the query axis (same relevance,
    low mutual sim)."""
    from paqarin_spark.operators import cosine_topk, mmr_rerank

    corpus = spark.createDataFrame(
        [
            (1, [0.9, 0.43, 0.0]),
            (2, [0.9, 0.44, 0.0]),
            (3, [0.9, -0.43, 0.0]),
        ],
        "vec_id int, v array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id int, v array<double>"
    )
    plain = [
        r["neighbor_id"]
        for r in cosine_topk(corpus, "vec_id", "v", k=2, queries=queries)
        .orderBy(F.col("cos_sim").desc(), "neighbor_id")
        .collect()
    ]
    assert plain == [1, 3] or plain == [1, 2]  # 1 and 3 tie on relevance
    sel = (
        mmr_rerank(
            corpus, "vec_id", "v", queries=queries,
            k_candidates=3, select_k=2, lam=0.5,
        )
        .orderBy("sel_rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in sel] == [1, 3]
    assert sel[0]["sel_rank"] == 1 and sel[1]["sel_rank"] == 2
    # rank-1 score is lam*rel; rank-2 score is penalized below it
    assert sel[0]["mmr_score"] > sel[1]["mmr_score"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mmr_rerank(corpus, "vec_id", "v", queries=queries,
                   k_candidates=2, select_k=3)


def test_ivf_ingest_matches_full_rebuild(spark):
    """The maintenance identity em20 verifies cross-engine, pinned
    Spark-side on random data: merged base+delta partials must equal
    a one-pass recompute over the union with the same frozen
    centroids (exact-decimal sums are associative across the
    split)."""
    import random

    from paqarin_spark.operators import ivf_ingest
    from paqarin_spark.operators.similarity import (
        _lloyd_expr_assign,
        _lloyd_init_ids,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    base = df.where(F.col("vec_id") % 5 != 0)
    delta = df.where(F.col("vec_id") % 5 == 0)
    counts, cent = ivf_ingest(base, delta, "vec_id", "v", k=3, seed=2)

    # one-pass recompute with the SAME frozen centroids
    dims = df.select(
        F.col("vec_id"),
        F.posexplode(
            F.transform("v", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    bdims = base.select(
        F.col("vec_id"),
        F.posexplode(
            F.transform("v", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    init = _lloyd_init_ids(base, "vec_id", 3, 2)
    c0 = bdims.join(
        F.broadcast(init), bdims["vec_id"] == F.col("_cid")
    ).select("cluster", "dim", F.col("x").alias("c"))
    assign = _lloyd_expr_assign(dims, c0, "vec_id")
    full = {
        (r["cluster"], r["dim"]): r["c_upd"]
        for r in dims.join(assign.select("vec_id", "cluster"), on="vec_id")
        .groupBy("cluster", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c_upd")
        )
        .collect()
    }
    merged = {
        (r["cluster"], r["dim"]): r["c_upd"] for r in cent.collect()
    }
    assert merged == full
    cnt = {r["cluster"]: (r["n_base"], r["n_delta"]) for r in counts.collect()}
    assert sum(b for b, _ in cnt.values()) == base.count()
    assert sum(d for _, d in cnt.values()) == delta.count()

    # empty delta: index unchanged, zero delta occupancy everywhere
    c2, m2 = ivf_ingest(base, delta.limit(0), "vec_id", "v", k=3, seed=2)
    assert all(r["n_delta"] == 0 for r in c2.collect())


def test_round_half_up_matches_sql_round_semantics():
    """np.round is banker's (half-to-even); Spark/DuckDB ROUND is
    HALF_UP (away from zero). The helper must side with SQL on exact
    half boundaries so sign bits never flip vs the oracle path."""
    import numpy as np

    from paqarin_spark.operators.similarity import _round_half_up

    a = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.4, -0.4])
    got = _round_half_up(a, decimals=0)
    assert got.tolist() == [1.0, 2.0, 3.0, -1.0, -2.0, -3.0, 0.0, -0.0]
    # np.round would give banker's [0, 2, 2, -0, -2, -2, ...] — pin
    # that the divergence is real, not vacuous
    assert np.round(a[:3]).tolist() == [0.0, 2.0, 2.0]


def test_semdedup_max_cluster_size_drops_hot_clusters(spark):
    """The poisoned-corpus guard: an oversized cluster emits NO pairs
    (deterministic recall cut), other clusters are untouched."""
    import pytest

    from paqarin_spark.operators import semdedup_pairs

    rows = []
    for i in range(8):
        base = 1.0 if i < 4 else -1.0
        rows.append((i, [base, base * 0.5, 0.0, base]))
    df = spark.createDataFrame(rows, "vec_id int, v array<float>")
    full = semdedup_pairs(
        df, "vec_id", "v", k=2, threshold=0.99, iterations=1
    ).collect()
    assert len(full) > 0
    # both blobs have 4 members: cap at 3 drops every cluster
    capped = semdedup_pairs(
        df, "vec_id", "v", k=2, threshold=0.99, iterations=1,
        max_cluster_size=3,
    ).collect()
    assert capped == []
    # cap above the blob size changes nothing
    same = semdedup_pairs(
        df, "vec_id", "v", k=2, threshold=0.99, iterations=1,
        max_cluster_size=4,
    ).collect()
    assert sorted(map(tuple, same)) == sorted(map(tuple, full))
    with pytest.raises(ValueError, match="max_cluster_size"):
        semdedup_pairs(df, "vec_id", "v", max_cluster_size=0)


def test_covariance_matrix_exact_values(spark):
    """Hand-computed population covariances: var([0..4]) = 2, the 2x
    column scales covariance linearly, constant columns are zero —
    and zero is CANONICAL +0.0 (never IEEE -0.0, which would
    hash-differ across engines)."""
    import math

    from paqarin_spark.operators import covariance_matrix

    df = spark.createDataFrame(
        [(i, [float(i), float(2 * i), 1.0]) for i in range(5)],
        "id int, v array<double>",
    )
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_matrix(df, "v").collect()}
    assert got == {
        (0, 0): 2.0, (0, 1): 4.0, (0, 2): 0.0,
        (1, 1): 8.0, (1, 2): 0.0, (2, 2): 0.0,
    }
    assert all(math.copysign(1.0, v) > 0 for v in got.values() if v == 0.0)


def test_covariance_matrix_ignores_over_length_tail(spark):
    """Ragged input whose later row is LONGER than the first row's
    width: the elements past the width are ignored (the slice length
    clamps at zero instead of going negative and failing the job)."""
    from paqarin_spark.operators import covariance_matrix

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [2.0, 4.0, 99.0, -7.0])],
        "id int, v array<double>",
    )
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_matrix(df, "v").collect()}
    assert got == {(0, 0): 0.666667, (0, 1): 1.333333, (1, 1): 2.666667}


def test_power_iteration_finds_planted_direction(spark):
    """A corpus with one dominant variance direction: the iterate
    aligns with numpy's leading eigenvector (|cos| ~ 1) and the
    eigenvalue estimate matches eigh to ~1e-5."""
    import numpy as np

    from paqarin_spark.operators import power_iteration

    rng = np.random.default_rng(3)
    base = rng.normal(size=(200, 4)) * 0.1
    base[:, 1] += rng.normal(size=200) * 3.0
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    out = sorted(
        (r["i"], r["loading"], r["eigenvalue"])
        for r in power_iteration(df, "v", iterations=8).collect()
    )
    C = np.cov(base.T, bias=True)
    evals, evecs = np.linalg.eigh(C)
    got = np.array([x[1] for x in out])
    cos = abs(got @ evecs[:, -1]) / np.linalg.norm(got)
    assert cos > 0.999999
    assert abs(out[0][2] - evals[-1]) < 1e-4
    import pytest

    with pytest.raises(ValueError, match="iterations"):
        power_iteration(df, "v", iterations=0)


# ------------------------------------------------------------ NN-descent


def _clustered_vectors(n_clusters=5, per_cluster=8, dim=8):
    """Tight, well-separated clusters: each vector is its cluster's
    one-hot axis plus a tiny deterministic per-vector wiggle."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        for j in range(per_cluster):
            v = [0.0] * dim
            v[c] = 1.0
            v[(c + 1) % dim] = 0.01 * (j + 1)
            rows.append((vid, v))
            vid += 1
    return rows


def test_nn_descent_recovers_planted_clusters(spark):
    """With k < cluster size, every true neighbor is intra-cluster;
    NN-descent from random seeds must recover (nearly) all of them —
    the planted-structure invariant of the graph-ANN family."""
    from paqarin_spark.operators import cosine_topk, nn_descent

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    approx = nn_descent(df, "vec_id", "embedding", k=5, rounds=3)
    got = approx.collect()
    # bounded: at most k per node, never self
    per_node = {}
    for r in got:
        assert r["node"] != r["nbr"]
        per_node.setdefault(r["node"], []).append(r["nbr"])
    assert max(len(v) for v in per_node.values()) <= 5
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, "vec_id", "embedding", k=5).collect()
    }
    hits = sum((r["node"], r["nbr"]) in exact for r in got)
    recall = hits / len(exact)
    assert recall >= 0.95, f"recall {recall} too low on planted clusters"
    # neighbors land in the same cluster (cluster = id // 8)
    same = sum(r["node"] // 8 == r["nbr"] // 8 for r in got) / len(got)
    assert same >= 0.95


def test_nn_descent_deterministic(spark):
    from paqarin_spark.operators import nn_descent

    rows = _clustered_vectors(n_clusters=3, per_cluster=6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, nn_descent(df, "vec_id", "embedding", 4, 2).collect()))
    b = sorted(map(tuple, nn_descent(df, "vec_id", "embedding", 4, 2).collect()))
    assert a == b


def test_nn_descent_validates_inputs(spark):
    from paqarin_spark.operators import nn_descent

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (5, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="contiguous"):
        nn_descent(df, "vec_id", "embedding", k=2, rounds=1)
    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="k must be"):
        nn_descent(ok, "vec_id", "embedding", k=0, rounds=1)
    with pytest.raises(ValueError, match="at least 3"):
        nn_descent(ok.limit(2), "vec_id", "embedding", k=1, rounds=1)


def test_graph_greedy_search_navigates_ring(spark):
    """On the exact ring graph the greedy walk must reach each query's
    true neighborhood from the fixed min-id entry within the hop
    budget — and never touch more than beam x degree candidates per
    hop (bounded-frontier contract checked via the output size)."""
    import math

    from paqarin_spark.operators import cosine_topk, graph_greedy_search

    n = 64
    rows = [
        (i, [math.cos(2 * math.pi * i / n), math.sin(2 * math.pi * i / n)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    graph = cosine_topk(emb, "vec_id", "embedding", k=4).select(
        F.col("query_id").alias("node"),
        F.col("neighbor_id").alias("nbr"),
        "cos_sim",
    )
    qs = emb.where(F.col("vec_id").isin(16, 32, 48)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # ring distance from entry node 0 to node 32 is 32; each hop moves
    # the beam at most 2 ring steps per edge but the beam front
    # advances ~beam/2 steps — give it enough hops to converge
    out = graph_greedy_search(
        graph, emb, qs, "vec_id", "embedding", beam=6, hops=24
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["node"])
    for q in (16, 32, 48):
        assert len(got[q]) <= 6
        # the query itself (cos 1.0) and its immediate ring neighbors
        # must be in the final beam
        assert {q, (q - 1) % n, (q + 1) % n} <= got[q], (q, got[q])


def test_graph_greedy_search_validates(spark):
    from paqarin_spark.operators import graph_greedy_search

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    g = spark.createDataFrame([(0, 1)], "node long, nbr long")
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="beam"):
        graph_greedy_search(g, emb, qs, "vec_id", "embedding", beam=0)


def test_nn_descent_ingest_matches_rebuild_on_ring(spark):
    """Ingest audit on the ring manifold: add 8 new points between
    existing ones; the updated graph's new-node lists must equal the
    full-rebuild lists (greedy search navigates the exact ring), and
    existing nodes adopt their new neighbors."""
    import math

    from paqarin_spark.operators import (
        cosine_topk,
        nn_descent_ingest,
    )

    n = 48

    def vec(pos):
        return [math.cos(2 * math.pi * pos / n), math.sin(2 * math.pi * pos / n)]

    old = [(i, vec(i)) for i in range(0, n, 2)]        # even ring slots
    new = [(i, vec(i)) for i in range(1, 17, 2)]       # odd slots 1..15
    emb = spark.createDataFrame(old, "vec_id long, embedding array<double>")
    newdf = spark.createDataFrame(new, "vec_id long, embedding array<double>")
    graph = cosine_topk(emb, "vec_id", "embedding", k=4).select(
        F.col("query_id").alias("node"),
        F.col("neighbor_id").alias("nbr"),
        "cos_sim",
    )
    merged = nn_descent_ingest(
        graph, emb, newdf, "vec_id", "embedding", k=4, beam=8, hops=12
    )
    allemb = emb.unionByName(newdf)
    rebuild = cosine_topk(allemb, "vec_id", "embedding", k=4).select(
        F.col("query_id").alias("node"), F.col("neighbor_id").alias("nbr")
    )
    got = {(r["node"], r["nbr"]) for r in merged.collect()}
    want = {(r["node"], r["nbr"]) for r in rebuild.collect()}
    new_ids = {i for i, _ in new}
    # new nodes' lists exact
    assert {p for p in want if p[0] in new_ids} <= got
    # existing nodes adopted adjacent new arrivals
    assert (2, 1) in got and (16, 15) in got


def test_nn_descent_ingest_rejects_id_collision(spark):
    from paqarin_spark.operators import nn_descent_ingest

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    g = spark.createDataFrame([(0, 1, 0.5)], "node long, nbr long, cos_sim double")
    with pytest.raises(ValueError, match="collide"):
        nn_descent_ingest(g, emb, emb.limit(1), "vec_id", "embedding", k=1)


# ------------------------------------------------------------ PCA top-2


def test_pca_top2_matches_numpy_on_planted_spectrum(spark):
    """Two planted dominant directions with a well-separated spectrum:
    both components align with numpy eigh's top-2 eigenvectors and
    both eigenvalue estimates match, proving the deflation actually
    removes the first component (a broken deflation would re-converge
    to pc1)."""
    import numpy as np

    from paqarin_spark.operators import pca_top2

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 5)) * 0.05
    base[:, 1] += rng.normal(size=300) * 4.0
    base[:, 3] += rng.normal(size=300) * 2.0
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    out = pca_top2(df, "v", iterations=10).collect()
    C = np.cov(base.T, bias=True)
    evals, evecs = np.linalg.eigh(C)
    for comp, eidx in ((1, -1), (2, -2)):
        got = np.array(
            [r["loading"] for r in sorted(
                (r for r in out if r["component"] == comp),
                key=lambda r: r["i"],
            )]
        )
        lam = [r["eigenvalue"] for r in out if r["component"] == comp][0]
        cos = abs(got @ evecs[:, eidx]) / np.linalg.norm(got)
        assert cos > 0.9999, (comp, cos)
        assert abs(lam - evals[eidx]) < 1e-3, (comp, lam, evals[eidx])


def test_pca_label_projection_matches_loadings_linearity(spark):
    """Per-label mean projection equals the dot of the label's mean
    vector with the returned loadings (the linearity identity the
    operator exploits), and eigenvalues repeat pca_top2's."""
    import numpy as np

    from paqarin_spark.operators import pca_label_projection, pca_top2

    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, 4))
    base[:, 0] *= 3.0
    labels = [i % 3 for i in range(120)]
    rows = [
        (int(labels[i]), [float(x) for x in base[i]]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "label int, v array<double>")
    out = {r["label"]: r for r in pca_label_projection(df, "v", "label").collect()}
    comps = pca_top2(df, "v").collect()
    v1 = np.array([r["loading"] for r in sorted(
        (r for r in comps if r["component"] == 1), key=lambda r: r["i"])])
    v2 = np.array([r["loading"] for r in sorted(
        (r for r in comps if r["component"] == 2), key=lambda r: r["i"])])
    lam1 = [r["eigenvalue"] for r in comps if r["component"] == 1][0]
    lam2 = [r["eigenvalue"] for r in comps if r["component"] == 2][0]
    for lab in (0, 1, 2):
        mask = np.array(labels) == lab
        mean_vec = base[mask].mean(axis=0)
        r = out[lab]
        assert r["n_vectors"] == int(mask.sum())
        assert abs(r["mean_pc1"] - float(mean_vec @ v1)) < 1e-5
        assert abs(r["mean_pc2"] - float(mean_vec @ v2)) < 1e-5
        assert r["lam1"] == lam1 and r["lam2"] == lam2


# ------------------------------------------------------ z-score outliers


def test_zscore_outliers_ranks_planted_outlier_first(spark):
    """A planted far-out vector takes rk=1 with a score far above the
    inliers; a constant (zero-variance) dimension contributes 0 for
    every row instead of NaN-ing the audit; top_k caps the output."""
    import pytest

    from paqarin_spark.operators import zscore_outliers

    rows = [(i, 0, [float(i % 7) * 0.1, 5.0, 1.0]) for i in range(60)]
    rows.append((99, 1, [40.0, 5.0, 1.0]))  # dim1/dim2 constant
    df = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    out = zscore_outliers(df, "vec_id", "v", top_k=5).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 99 and out[0]["rk"] == 1
    assert out[0]["score"] > 10 * out[1]["score"]
    assert [r["rk"] for r in out] == [1, 2, 3, 4, 5]
    assert all(r["score"] is not None for r in out)  # no NaN leak
    with pytest.raises(ValueError, match="top_k"):
        zscore_outliers(df, "vec_id", "v", top_k=0)


def test_zscore_outliers_tolerates_ragged_and_null_elements(spark):
    """SQL-SUM semantics on dirty corpora: a NULL element and a
    short (ragged) vector contribute 0 for the affected dims instead
    of poisoning the fold to NULL or raising ANSI INVALID_ARRAY_INDEX;
    clean rows rank normally."""
    from paqarin_spark.operators import zscore_outliers

    rows = [(i, [float(i % 5), 2.0, float((i * 7) % 11)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    dirty = spark.createDataFrame(
        [(100, [None, 2.0, 50.0]), (101, [1.0])],
        "vec_id long, v array<double>",
    )
    out = zscore_outliers(df.unionByName(dirty), "vec_id", "v", top_k=45)
    got = {r["vec_id"]: r["score"] for r in out.collect()}
    assert got[100] is not None and got[100] > 0  # partial score, not NULL
    assert got[101] is not None  # ragged row survives
    assert len(got) == 42


def test_zscore_outliers_survives_corrupted_extreme_spike(spark):
    """ADVICE r8: a genuinely corrupted element (1e12 against a
    unit-scale std → |z| ~1e12) must RANK FIRST with a finite non-null
    score instead of overflowing the per-term decimal cast to NULL
    (non-ANSI) or raising (ANSI) — the very vector the audit exists to
    surface. The clamp bounds z² at 1e24, inside decimal(38,12)."""
    from paqarin_spark.operators import zscore_outliers

    rows = [(i, [float(i % 7), 3.0]) for i in range(50)]
    rows.append((999, [1.0e12, 3.0]))  # corrupted spike
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = zscore_outliers(df, "vec_id", "v", top_k=3).collect()
    assert out[0]["vec_id"] == 999 and out[0]["rk"] == 1
    assert out[0]["score"] is not None
    import math

    assert math.isfinite(out[0]["score"])
    assert out[0]["score"] > out[1]["score"] > 0


# ------------------------------------------------------------- RRF fusion


def test_rrf_fuse_known_values_and_missing_lanes(spark):
    """Hand-computed fusion: doc present in both lanes beats docs in
    one lane; the lane-rank columns are NULL where a lane missed the
    doc; the rounded score ties break on id; validation raises."""
    import pytest

    from paqarin_spark.operators import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rk int"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2), (10, 3)], "doc_id long, rk int"
    )
    out = rrf_fuse([("lex", a), ("vec", b)], "doc_id", k0=60, top_k=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {10, 20, 30, 40}
    # doc 20: 1/62 + 1/61 ; doc 10: 1/61 + 1/63
    assert rows[20]["rrf"] == round(1 / 62 + 1 / 61, 6)
    assert rows[10]["rrf"] == round(1 / 61 + 1 / 63, 6)
    assert rows[20]["rk"] == 1 and rows[10]["rk"] == 2
    assert rows[30]["vec_rk"] is None and rows[30]["lex_rk"] == 3
    assert rows[40]["lex_rk"] is None and rows[40]["vec_rk"] == 2
    # single-lane docs rank by their one contribution, id tie-break
    assert rows[40]["rk"] == 3 and rows[30]["rk"] == 4

    with pytest.raises(ValueError, match="duplicate"):
        rrf_fuse([("x", a), ("x", b)], "doc_id")
    with pytest.raises(ValueError, match="k0"):
        rrf_fuse([("x", a)], "doc_id", k0=0)
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], "doc_id")


def test_power_iteration_on_cov_matches_distributed_replay(spark):
    """r12 optimization pin: the driver-side iteration loop (bounded
    d×d collect) is bit-identical to the distributed expression chain
    it replaced — same 12dp-decimal matvec lattice, 6dp iterates,
    final rounding — on random 6dp-lattice covariance tables. The
    reference below IS the pre-r12 distributed implementation,
    verbatim."""
    import random

    from paqarin_spark.operators import power_iteration_on_cov
    from paqarin_spark.operators.similarity import _jround

    def distributed_reference(cov, width, iterations=6, round_decimals=6):
        mat = cov.unionByName(
            cov.where(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cov"
            )
        ).localCheckpoint()
        sp = cov.sparkSession
        v = sp.range(width).select(
            F.col("id").cast("int").alias("j"), F.lit(1.0).alias("vj")
        )
        nrm = None
        for _ in range(iterations):
            w = (
                mat.join(v, on="j")
                .select(
                    "i",
                    F.round(F.col("cov") * F.col("vj"), 12)
                    .cast("decimal(30,12)")
                    .alias("_p"),
                )
                .groupBy("i")
                .agg(F.sum("_p").cast("double").alias("wi"))
            )
            nrm = w.agg(
                F.sqrt(
                    F.sum(
                        F.round(F.col("wi") * F.col("wi"), 12).cast(
                            "decimal(38,12)"
                        )
                    ).cast("double")
                ).alias("nrm")
            )
            v = (
                w.crossJoin(F.broadcast(nrm))
                .select(
                    F.col("i").alias("j"),
                    F.round(
                        F.col("wi") / F.col("nrm"), round_decimals
                    ).alias("vj"),
                )
                .localCheckpoint()
            )
        return v.crossJoin(F.broadcast(nrm)).select(
            F.col("j").alias("i"),
            (F.col("vj") + F.lit(0.0)).alias("loading"),
            (F.round(F.col("nrm"), round_decimals) + F.lit(0.0)).alias(
                "eigenvalue"
            ),
        )

    rng = random.Random(7)
    for d, iters in [(3, 3), (6, 6), (8, 4)]:
        a = [[rng.uniform(-2, 2) for _ in range(d)] for _ in range(d)]
        rows = []
        for i in range(d):
            for j in range(i, d):
                s = sum(a[k][i] * a[k][j] for k in range(d))
                rows.append((i, j, _jround(s, 6) + 0.0))
        cov = spark.createDataFrame(rows, "i int, j int, cov double")
        old = {
            r["i"]: (r["loading"], r["eigenvalue"])
            for r in distributed_reference(cov, d, iterations=iters).collect()
        }
        new = {
            r["i"]: (r["loading"], r["eigenvalue"])
            for r in power_iteration_on_cov(cov, d, iterations=iters).collect()
        }
        assert old == new, f"d={d} iters={iters}: {old} != {new}"


def test_pca_top2_deflation_matches_distributed_replay(spark):
    """r12 optimization pin: pca_top2's driver-side Hotelling
    deflation is bit-identical to composing the (still-distributed)
    deflate_covariance operator with power_iteration_on_cov."""
    import random

    from paqarin_spark.operators import (
        deflate_covariance,
        pca_top2,
        power_iteration_on_cov,
    )
    from paqarin_spark.operators.similarity import (
        _jround,
        covariance_matrix,
    )

    rng = random.Random(11)
    d, n = 6, 40
    data = [
        ([rng.uniform(-1, 1) + (k % 3) * 0.5 for _ in range(d)],)
        for k in range(n)
    ]
    df = spark.createDataFrame(data, "v array<double>")
    cov = covariance_matrix(df, "v").localCheckpoint()
    pc1 = power_iteration_on_cov(cov, d, iterations=6)
    pc2 = power_iteration_on_cov(
        deflate_covariance(cov, pc1), d, iterations=6
    )
    want = {
        (1, r["i"]): (r["loading"], r["eigenvalue"]) for r in pc1.collect()
    } | {(2, r["i"]): (r["loading"], r["eigenvalue"]) for r in pc2.collect()}
    got = {
        (r["component"], r["i"]): (r["loading"], r["eigenvalue"])
        for r in pca_top2(df, "v", iterations=6).collect()
    }
    assert got == want


def test_jround_adversarial_near_ties(spark):
    """ADVICE r12: _jround's premise — Java's BigDecimal.valueOf(x)
    and Python's repr(x) quantize HALF_UP identically — is only
    guaranteed shortest-rendering on JDK >= 19, so pin it against
    Spark's own Round evaluation on adversarial near-tie values:
    doubles sitting exactly on / one ulp either side of a HALF_UP tie
    at the target scale."""
    import math
    import random

    from pyspark.sql import functions as F

    from paqarin_spark.operators.similarity import _jround

    rng = random.Random(13)
    for scale in (6, 12):
        vals = set()
        for _ in range(60):
            k = rng.randint(-(10**6), 10**6)
            tie = (10 * k + 5) * (10.0 ** -(scale + 1))
            vals.update(
                (
                    tie,
                    math.nextafter(tie, math.inf),
                    math.nextafter(tie, -math.inf),
                )
            )
        vals = sorted(vals)
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [
            r["r"]
            for r in df.select(F.round("x", scale).alias("r"))
            .orderBy("x")
            .collect()
        ]
        want = [_jround(v, scale) for v in vals]
        assert got == want
